"""Checkpoint/resume, lineage metrics, sink guards, streaming sessions,
scan pruning."""

import os

import pytest
from pyspark.sql import functions as F

from nuclei_feature_extraction_spark.lineage import (
    _STAGE_TOTAL_KEYS,
    executor_stage_totals,
    partition_metrics,
    run_with_metrics,
)
from nuclei_feature_extraction_spark.sources.checkpoint import CheckpointedWriter
from nuclei_feature_extraction_spark.sources.io import (
    write_features,
    write_iceberg_style,
)


def test_checkpoint_resume_after_injected_crash(spark, tiny_df, tmp_path):
    out = str(tmp_path / "ckpt")
    w = CheckpointedWriter(out, n_buckets=8, buckets_per_job=2)
    with pytest.raises(RuntimeError, match="injected failure"):
        w.run(tiny_df, fail_after_jobs=2)  # 2 of 4 groups complete
    m1 = w.load_manifest()
    assert len(m1["completed"]) == 4 and m1["version"] == 2
    # resume: only the remaining buckets are written
    m2 = w.run(tiny_df)
    assert len(m2["completed"]) == 8
    got = w.read_back(spark)
    assert got.count() == tiny_df.count()
    # no duplicates: resume skipped completed buckets entirely
    assert got.select("conv_id", "turn_idx").distinct().count() == tiny_df.count()
    total_manifest_rows = sum(v["rows"] for v in m2["completed"].values())
    assert total_manifest_rows == tiny_df.count()


def test_checkpoint_snapshot_time_travel(spark, tiny_df, tmp_path):
    """Iceberg-style time travel: read_snapshot(v) sees exactly the
    buckets committed at manifest versions <= v, snapshots() lists the
    cumulative history, and a crash-resumed table's earlier snapshots
    stay byte-stable (committed buckets are append-only)."""
    out = str(tmp_path / "ckpt_tt")
    w = CheckpointedWriter(out, n_buckets=8, buckets_per_job=2)
    with pytest.raises(RuntimeError, match="injected failure"):
        w.run(tiny_df, fail_after_jobs=2)  # versions 1 and 2 committed
    v2_rows = w.read_back(spark).count()
    snap_v2 = (
        w.read_snapshot(spark, 2).select("conv_id", "turn_idx").toPandas()
    )
    w.run(tiny_df)  # resume -> versions 3 and 4
    m = w.load_manifest()
    assert m["version"] == 4
    hist = w.snapshots()
    assert [s["version"] for s in hist] == [1, 2, 3, 4]
    assert [s["buckets"] for s in hist] == [2, 4, 6, 8]
    assert hist[-1]["rows"] == tiny_df.count()
    # v2 snapshot unchanged by the resume (append-only invariant)
    assert w.read_snapshot(spark, 2).count() == v2_rows == len(snap_v2)
    after = (
        w.read_snapshot(spark, 2).select("conv_id", "turn_idx").toPandas()
    )
    key = ["conv_id", "turn_idx"]
    assert (
        after.sort_values(key).reset_index(drop=True).equals(
            snap_v2.sort_values(key).reset_index(drop=True)
        )
    )
    # snapshot monotonicity + endpoints
    assert w.read_snapshot(spark, 0).count() == 0
    # a version beyond the table's history must be REJECTED — it would
    # silently read the live table while the caller records a pinned,
    # reproducible snapshot (the --as-of-snapshot CLIs rely on this)
    with pytest.raises(ValueError, match="does not exist"):
        w.read_snapshot(spark, 99)
    c1 = w.read_snapshot(spark, 1).count()
    assert 0 < c1 < v2_rows
    assert w.read_snapshot(spark, 4).count() == tiny_df.count()
    # excluded buckets are pruned at the PARTITION level, not row-filtered
    plan = w.read_snapshot(spark, 1)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_checkpoint_noop_when_all_done(spark, tiny_df, tmp_path):
    out = str(tmp_path / "ckpt2")
    w = CheckpointedWriter(out, n_buckets=4, buckets_per_job=4)
    w.run(tiny_df)
    v = w.load_manifest()["version"]
    w.run(tiny_df)  # idempotent
    assert w.load_manifest()["version"] == v
    assert w.read_back(spark).count() == tiny_df.count()


def test_run_with_metrics(spark, tiny_df):
    _, metrics = run_with_metrics(tiny_df, lambda d: d.count())
    assert metrics.rows == tiny_df.count()
    assert metrics.null_keys == 0
    assert metrics.rows_per_sec > 0
    assert metrics.min_ts.startswith("2024-")


def test_bucket_cap_drops_surface_in_run_metrics(spark, tmp_path):
    """A hot LSH bucket whose members the cap drops must show up in the
    serialized run manifest (audits.n_dropped_members > 0) — no silent
    caps in the lineage either."""
    import json

    import pandas as pd

    from nuclei_feature_extraction_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    rows = [(i, "hot hot hot hot hot", None) for i in range(300)]
    rows += [(1000 + i, f"unique text number {i} with words", None) for i in range(20)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "tool"])
    ).withColumn("ts", F.current_timestamp())
    audit: dict = {}
    pairs = minhash_lsh_pairs(df, max_bucket_size=50, audit=audit)
    _, metrics = run_with_metrics(
        pairs.withColumn("ts", F.current_timestamp()),
        lambda d: d.count(),
        key_col="id_a",
        audits=audit,
    )
    assert metrics.audits is not None
    assert metrics.audits["n_dropped_members"] > 0
    path = metrics.write(str(tmp_path))
    with open(path) as fh:
        on_disk = json.load(fh)
    assert on_disk["audits"]["n_dropped_members"] > 0


def _stage_totals_per_stage_calls(spark) -> dict:
    """Reference: the same totals read with py4j calls per stage."""
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    lst = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    tot = dict.fromkeys(_STAGE_TOTAL_KEYS, 0.0)
    for i in range(lst.size()):
        st = lst.apply(i)
        tot["core_seconds"] += st.executorRunTime() / 1e3
        tot["cpu_seconds"] += st.executorCpuTime() / 1e9
        tot["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
        tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        tot["fetch_wait_seconds"] += st.shuffleFetchWaitTime() / 1e3
        tot["shuffle_write_seconds"] += st.shuffleWriteTime() / 1e9
        tot["deserialize_seconds"] += st.executorDeserializeTime() / 1e3
        tot["gc_seconds"] += st.jvmGcTime() / 1e3
        tot["spill_mb"] += (
            st.memoryBytesSpilled() + st.diskBytesSpilled()
        ) / 1e6
        tot["tasks"] += st.numCompleteTasks()
        tot["failed_tasks"] += st.numFailedTasks()
        tot["stages"] += 1
    return {k: round(v, 3) for k, v in tot.items()}


def test_executor_stage_totals_match_per_stage_calls(spark, tiny_df):
    tiny_df.groupBy("role").count().collect()
    got = executor_stage_totals(spark)
    assert got == _stage_totals_per_stage_calls(spark)
    assert got["stages"] >= 1 and got["tasks"] >= 1


def test_partition_metrics(spark, tiny_df):
    pm = partition_metrics(tiny_df.repartition(4, "conv_id")).toPandas()
    assert pm["rows"].sum() == tiny_df.count()
    assert (pm["approx_convs"] >= 1).all()


def test_write_features_overwrite_guard(spark, tiny_df, tmp_path):
    p = str(tmp_path / "out.parquet")
    write_features(tiny_df.limit(10), p)
    with pytest.raises(Exception, match="already exists|LOCATION_ALREADY_EXISTS"):
        write_features(tiny_df.limit(10), p)
    write_features(tiny_df.limit(5), p, overwrite=True)
    assert spark.read.parquet(p).count() == 5
    with pytest.raises(ValueError, match="unsupported sink"):
        write_features(tiny_df, str(tmp_path / "out.xlsx"))


def test_streaming_sessions_match_batch(spark, tiny_pdf, tmp_path):
    """Streaming session_window vs batch sessionize on the same data."""
    from nuclei_feature_extraction_spark.operators import sessionize
    from nuclei_feature_extraction_spark.streaming import (
        streaming_session_stats,
    )

    src = str(tmp_path / "stream_src")
    spark.createDataFrame(tiny_pdf).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_session_stats(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT conv_id, count(*) AS n_sessions, sum(n_turns) AS n_turns "
        "FROM sess_out GROUP BY conv_id"
    ).toPandas().set_index("conv_id")

    batch = (
        sessionize(spark.createDataFrame(tiny_pdf))
        .groupBy("conv_id")
        .agg(
            (F.max("session_id") + 1).alias("n_sessions"),
            F.count(F.lit(1)).alias("n_turns"),
        )
        .toPandas()
        .set_index("conv_id")
    )
    # complete mode emits every session incl. still-open ones (append
    # mode would hold back sessions inside the final watermark horizon)
    assert got["n_turns"].sum() == batch["n_turns"].sum()
    joined = got.join(batch, lsuffix="_s", rsuffix="_b")
    assert (joined["n_sessions_s"] == joined["n_sessions_b"]).all()
    assert (joined["n_turns_s"] == joined["n_turns_b"]).all()


def test_lineage_asof_drops(spark, tiny_df, side_profile_df):
    from nuclei_feature_extraction_spark.lineage import asof_match_stats
    from nuclei_feature_extraction_spark.operators import asof_join

    joined = asof_join(tiny_df, side_profile_df, on="conv_id", tie_cols=("plan",))
    stats = asof_match_stats(joined, "plan").toPandas()
    assert stats["rows"].sum() == tiny_df.count()
    total_unmatched = stats["unmatched"].sum()
    # fixture: ~30% of convs missing + updates can postdate early turns
    direct = joined.filter("plan IS NULL").count()
    assert total_unmatched == direct > 0


def test_checkpoint_run_pipeline_resume(spark, tiny_df, tmp_path):
    """Bucket filter is pushed to the SOURCE; resume after crash yields
    the same feature table as a single uninterrupted run."""
    from pyspark.sql import functions as F

    from nuclei_feature_extraction_spark.operators import sessionize

    def pipe(src):
        return sessionize(src).withColumn("tlen", F.length("text").cast("double"))

    out = str(tmp_path / "ckpt3")
    w = CheckpointedWriter(out, n_buckets=6, buckets_per_job=2)
    with pytest.raises(RuntimeError, match="injected failure"):
        w.run_pipeline(tiny_df, pipe, fail_after_jobs=1)
    assert len(w.load_manifest()["completed"]) == 2
    w.run_pipeline(tiny_df, pipe)
    got = (
        w.read_back(spark)
        .select("conv_id", "turn_idx", "session_id", "tlen")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        pipe(tiny_df)
        .select("conv_id", "turn_idx", "session_id", "tlen")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["session_id"].to_numpy() == want["session_id"].to_numpy()).all()
    assert (got["tlen"].to_numpy() == want["tlen"].to_numpy()).all()


def test_streaming_session_exact_boundary_matches_batch(spark, tmp_path):
    """A gap of EXACTLY the cutoff merges in batch (split on strictly
    greater); the +1µs session_window duration makes streaming agree.
    One µs past the cutoff splits on both paths."""
    import pandas as pd

    from nuclei_feature_extraction_spark.operators import sessionize
    from nuclei_feature_extraction_spark.streaming import (
        streaming_session_stats,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    gap = pd.Timedelta(seconds=1800)
    us = pd.Timedelta(microseconds=1)
    pdf = pd.DataFrame(
        {
            "conv_id": ["edge"] * 3 + ["over"] * 2,
            "turn_idx": [0, 1, 2, 0, 1],
            "ts": [t0, t0 + gap, t0 + 2 * gap, t0, t0 + gap + us],
        }
    )
    batch = (
        sessionize(spark.createDataFrame(pdf))
        .groupBy("conv_id")
        .agg((F.max("session_id") + 1).alias("n_sessions"))
        .toPandas()
        .set_index("conv_id")["n_sessions"]
    )
    assert batch["edge"] == 1 and batch["over"] == 2

    src = str(tmp_path / "edge_stream_src")
    spark.createDataFrame(pdf).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        streaming_session_stats(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("edge_sess")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = (
        spark.sql(
            "SELECT conv_id, count(*) AS n FROM edge_sess GROUP BY conv_id"
        )
        .toPandas()
        .set_index("conv_id")["n"]
    )
    assert got["edge"] == 1 and got["over"] == 2


def test_checkpoint_resume_after_crash_between_write_and_manifest(
    spark, tiny_df, tmp_path
):
    """The write→manifest crash window: data for a group is committed on
    disk but the manifest never recorded it. Resume re-runs that group;
    dynamic partition overwrite must REPLACE (not append) the orphaned
    partitions — zero duplicates."""
    out = str(tmp_path / "ckpt3")
    w = CheckpointedWriter(out, n_buckets=8, buckets_per_job=2)
    with pytest.raises(RuntimeError, match="after write, before manifest"):
        w.run(tiny_df, fail_after_write=True)
    # the first group's data exists on disk, manifest knows nothing
    assert w.load_manifest()["completed"] == {}
    assert w.read_back(spark).count() > 0  # orphaned committed data
    m = w.run(tiny_df)  # resume re-runs ALL groups incl. the orphaned one
    assert len(m["completed"]) == 8
    got = w.read_back(spark)
    assert got.count() == tiny_df.count()  # would be count()+orphan with append
    assert got.select("conv_id", "turn_idx").distinct().count() == tiny_df.count()


def test_run_pipeline_rejects_mismatched_n_buckets(spark, tiny_df, tmp_path):
    out = str(tmp_path / "ckpt4")
    CheckpointedWriter(out, n_buckets=8, buckets_per_job=8).run(tiny_df)
    w2 = CheckpointedWriter(out, n_buckets=16)
    with pytest.raises(ValueError, match="n_buckets"):
        w2.run_pipeline(tiny_df, lambda d: d)


def test_arrow_ipc_sink_roundtrip(spark, tiny_df, tmp_path):
    """S10: distributed Arrow IPC sink — one stream file per partition,
    lossless roundtrip via pyarrow, overwrite guard honored."""
    import pandas as pd
    import pyarrow as pa

    from nuclei_feature_extraction_spark.sources.io import write_features

    p = str(tmp_path / "feat.arrow")
    df = tiny_df.repartition(3)
    write_features(df, p)
    parts = sorted(os.listdir(p))
    assert parts and all(f.endswith(".arrow") for f in parts)
    frames = []
    for f in parts:
        with pa.ipc.open_stream(os.path.join(p, f)) as r:
            frames.append(r.read_all().to_pandas())
    got = (
        pd.concat(frames, ignore_index=True)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        tiny_df.toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["text"] == want["text"]).all()  # byte equality
    got_ts = got["ts"].dt.tz_convert("UTC").dt.tz_localize(None)
    assert (
        got_ts.astype("datetime64[us]").to_numpy()
        == want["ts"].astype("datetime64[us]").to_numpy()
    ).all()
    with pytest.raises(ValueError, match="already exists"):
        write_features(df, p)
    write_features(tiny_df.limit(7), p, overwrite=True)
    total = 0
    for f in sorted(os.listdir(p)):
        with pa.ipc.open_stream(os.path.join(p, f)) as r:
            total += r.read_all().num_rows
    assert total == 7


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_parquet_filter_pushdown_and_column_pruning(spark, tiny_df, tmp_path):
    p = str(tmp_path / "t.parquet")
    tiny_df.write.parquet(p)
    df = (
        spark.read.parquet(p)
        .filter(F.col("conv_id") == "conv000001")
        .select("conv_id", "turn_idx")
    )
    plan = _formatted_plan(df)
    assert "PushedFilters: [IsNotNull(conv_id), EqualTo(conv_id,conv000001)]" in plan
    # column pruning: the scan must read only the 2 projected columns
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in rs and "turn_idx" in rs


def test_iceberg_style_partition_pruning(spark, tiny_df, tmp_path):
    p = str(tmp_path / "iceberg_like")
    write_iceberg_style(tiny_df, p, n_buckets=8)
    df = spark.read.parquet(p).filter(
        (F.col("bucket") == 3) & (F.col("dt") == "2024-02-01")
    )
    plan = _formatted_plan(df)
    # partition filters prune directories before any row is read
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1][:200]
