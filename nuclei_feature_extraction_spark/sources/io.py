"""Sources & sinks (reference S1-S11, SURVEY.md §2.1).

- ``read_transcripts``: schema-enforced scan (serde-struct analog,
  /root/reference/src/geojson.rs:8-24 + main.rs:37-42) — FAILFAST on
  corrupt rows for json/csv, explicit StructType everywhere (never
  inferSchema in the engine path).
- ``write_features``: extension-dispatched sink with an overwrite guard
  (main.rs:164-189, args.rs:147-166): csv / parquet|pqt / json, plus a
  REAL Arrow IPC sink (S10, main.rs:177-180): Spark has no built-in IPC
  writer, so ``.arrow``/``.ipc`` paths become a directory of one IPC
  stream file per partition written executor-side through the engine's
  existing Arrow batches (the distributed analog of the reference's
  single-file feather dump).
- Iceberg is the design-point catalog (bucket(conv_id) + days(ts)
  partitioning); the runtime jar is absent in this sandbox, so
  ``write_iceberg_style`` emulates the layout with hash-bucketed
  parquet partitions + a manifest (see checkpoint.py for snapshots).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nuclei_feature_extraction_spark.zipcache import guard_zip_caches

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

_SINKS = {".csv": "csv", ".parquet": "parquet", ".pqt": "parquet", ".json": "json"}


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Typed transcript scan. Parquet carries its own schema (verified
    compatible); json/csv get the explicit schema + FAILFAST (the serde
    ``unwrap`` analog: corrupt input is an analysis-time error, not a
    silent drop)."""
    ext = os.path.splitext(path)[1].lower()
    if ext in (".parquet", ".pqt") or os.path.isdir(path):
        df = spark.read.parquet(path)
        missing = [f.name for f in TRANSCRIPT_SCHEMA if f.name not in df.columns]
        if missing:
            raise ValueError(f"transcript table missing columns {missing}")
        return df.select([f.name for f in TRANSCRIPT_SCHEMA])
    if ext == ".json":
        return spark.read.schema(TRANSCRIPT_SCHEMA).option(
            "mode", "FAILFAST"
        ).json(path)
    if ext == ".csv":
        return spark.read.schema(TRANSCRIPT_SCHEMA).option(
            "mode", "FAILFAST"
        ).option("header", "true").csv(path)
    raise ValueError(f"unsupported transcript source extension {ext!r}")


def _write_arrow_ipc(df: DataFrame, path: str, overwrite: bool) -> None:
    """Distributed Arrow IPC sink: one ``part-{pid}.arrow`` stream file
    per partition, written executor-side from the same Arrow batches
    mapInPandas already produces — no driver collect, no extra shuffle.
    Read back with ``pyarrow.ipc.open_stream`` per part file.

    Commit protocol (mini Hadoop-style): each task attempt writes
    ``part-{pid}-attempt-{n}.arrow.tmp`` and atomically renames to the
    final name only after a clean close, so a failed / speculative /
    retried attempt can never leave a truncated or interleaved stream
    under the final name — the last successful attempt wins the rename
    and either attempt's output is complete. Readers must take ``*.arrow``
    only (leftover ``*.tmp`` files are uncommitted attempts).

    REQUIRES ``path`` on a filesystem shared by driver and executors
    (local[{n}], NFS, or a fuse-mounted object store): plain ``os``
    writes don't go through the Hadoop committer, so on a multi-node
    cluster with executor-local disks the parts would land where the
    driver can't see them."""
    from collections.abc import Iterator

    import pandas as pd

    if os.path.exists(path):
        if not overwrite:
            raise ValueError(f"sink path already exists: {path}")
        import shutil

        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
    arrow_schema_json = df.schema.json()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        guard_zip_caches()
        import pyarrow as pa
        from pyspark import TaskContext
        from pyspark.sql.types import StructType, _parse_datatype_json_string
        from pyspark.sql.pandas.types import to_arrow_schema

        spark_schema = _parse_datatype_json_string(arrow_schema_json)
        assert isinstance(spark_schema, StructType)
        pa_schema = to_arrow_schema(spark_schema)
        ctx = TaskContext.get()
        pid = ctx.partitionId()
        final = os.path.join(path, f"part-{pid:05d}.arrow")
        out = os.path.join(
            path, f"part-{pid:05d}-attempt-{ctx.attemptNumber()}.arrow.tmp"
        )
        n = 0
        writer = None
        ok = False
        try:
            tz_cols = [
                f.name
                for f in pa_schema
                if pa.types.is_timestamp(f.type) and f.type.tz is not None
            ]
            for pdf in batches:
                if writer is None:
                    sink = pa.OSFile(out, "wb")
                    writer = pa.ipc.new_stream(sink, pa_schema)
                for c in tz_cols:
                    # Arrow batches arrive UTC-naive (session tz is UTC);
                    # the arrow schema is tz-aware — localize, don't shift
                    pdf[c] = pdf[c].dt.tz_localize("UTC")
                writer.write_batch(
                    pa.RecordBatch.from_pandas(
                        pdf, schema=pa_schema, preserve_index=False
                    )
                )
                n += len(pdf)
            ok = True
        finally:
            if writer is not None:
                writer.close()
                sink.close()
                if ok:
                    os.replace(out, final)  # atomic commit
                else:
                    try:
                        os.remove(out)  # drop the uncommitted attempt
                    except OSError:
                        pass
        yield pd.DataFrame({"rows": [n]})

    df.mapInPandas(gen, "rows long").agg(F.sum("rows")).collect()


def write_features(
    df: DataFrame, path: str, overwrite: bool = False, partition_by: list[str] | None = None
) -> None:
    """Extension-dispatched sink; refuses to clobber without
    ``overwrite=True`` (reference --overwrite guard, args.rs:147-166)."""
    ext = os.path.splitext(path)[1].lower()
    if ext in (".arrow", ".ipc"):
        if partition_by:
            raise ValueError("Arrow IPC sink does not support partition_by")
        _write_arrow_ipc(df, path, overwrite)
        return
    fmt = _SINKS.get(ext)
    if fmt is None:
        raise ValueError(
            f"unsupported sink extension {ext!r}; known: "
            f"{sorted(_SINKS) + ['.arrow', '.ipc']}"
        )
    writer = df.write.format(fmt).mode("overwrite" if overwrite else "errorifexists")
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_iceberg_style(
    df: DataFrame,
    path: str,
    n_buckets: int = 64,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    overwrite: bool = False,
) -> None:
    """Iceberg-layout emulation: ``bucket(conv_id)`` × ``days(ts)``
    partitioned parquet. On a real cluster this is
    ``df.writeTo(tbl).partitionedBy(bucket(N, conv_id), days(ts))`` —
    swap in when the Iceberg runtime is on the classpath."""
    out = df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
    ).withColumn("dt", F.to_date(ts_col))
    out.write.mode("overwrite" if overwrite else "errorifexists").partitionBy(
        "bucket", "dt"
    ).parquet(path)
