"""spark-submit entry point for the feature backfill — the analog of
the reference's CLI (``nuclei-feature-extraction <geojson> <slide>
<output> <feature-sets...>``, /root/reference/src/args.rs:18-32).

On a cluster:

    spark-submit --py-files nfx.zip jobs/run_backfill.py \
        --transcripts s3://…/transcripts \
        --side-profile s3://…/side_user_profile \
        --output s3://…/features.parquet \
        --feature-sets all --n-buckets 256 --overwrite

Resumable: with --checkpoint-dir, work is split into conv_id hash
buckets with a manifest; rerunning after a failure skips completed
buckets (sources/checkpoint.py). Package the library with
``python tools/package.py`` → dist/nfx.zip for --py-files.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local runs from the repo: jobs/ is the script dir, the package lives one
# level up (on a cluster --py-files puts the zip on every path instead)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--transcripts", required=True, help="input table path (parquet dir/file, json, csv)")
    p.add_argument("--side-profile", default=None, help="keyed as-of side table (conv_id, effective_ts, …)")
    p.add_argument("--side-config", default=None, help="keyless broadcast as-of side table (effective_ts, …)")
    p.add_argument("--output", default=None,
                   help="sink path (.parquet/.pqt/.csv/.json); mutually "
                   "exclusive with --checkpoint-dir (checkpointed features "
                   "land under <checkpoint-dir>/data)")
    p.add_argument("--feature-sets", nargs="+", default=["all"],
                   help="registry names/aliases (plans/registry.py); "
                   "invalid names fail before execution, like args.rs:137-183")
    p.add_argument("--plan", choices=["composable", "fused"], default="composable",
                   help="fused = the single-shuffle mapInArrow plan "
                   "(full feature set only; wide rows never cross an "
                   "exchange — the 100 TB hot path)")
    p.add_argument("--cooc-lags", nargs="+", type=int, default=[1, 2])
    p.add_argument("--cooc-levels", nargs="+", type=int, default=[4, 8])
    p.add_argument("--overwrite", action="store_true")
    p.add_argument("--checkpoint-dir", default=None,
                   help="enable bucket-manifest resume under this dir")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--as-of-snapshot", type=int, default=None,
                   help="TIME-TRAVEL input: treat --transcripts as a "
                   "checkpointed table dir (_manifest.json + data/) and "
                   "read it exactly as of this manifest version — "
                   "buckets committed later are invisible "
                   "(sources/checkpoint.py::read_snapshot); the pinned "
                   "version is recorded in the run manifest/metrics")
    p.add_argument("--metrics-out", default=None)
    args = p.parse_args(argv)
    # exactly one output mode: a plain sink XOR a checkpointed backfill
    # (previously --output was silently ignored with --checkpoint-dir)
    if args.checkpoint_dir and args.output:
        p.error("--output and --checkpoint-dir are mutually exclusive: "
                "checkpointed features land under <checkpoint-dir>/data")
    if not args.checkpoint_dir and not args.output:
        p.error("one of --output or --checkpoint-dir is required")
    return args


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    # fail-fast validation BEFORE touching Spark (analyzer-style errors,
    # reference validates paths/sets pre-execution, args.rs:137-183)
    from nuclei_feature_extraction_spark.plans.registry import expand_feature_sets

    names = expand_feature_sets(args.feature_sets)
    if args.plan == "fused" and set(names) != set(expand_feature_sets(["all"])):
        raise SystemExit(
            "--plan fused computes the FULL feature set; drop "
            "--feature-sets or use --plan composable for subsets"
        )

    from nuclei_feature_extraction_spark import lineage as lineage_mod
    from nuclei_feature_extraction_spark.lineage import run_with_metrics
    from nuclei_feature_extraction_spark.plans.pipeline import build_features
    from nuclei_feature_extraction_spark.session import get_spark
    from nuclei_feature_extraction_spark.sources.checkpoint import CheckpointedWriter
    from nuclei_feature_extraction_spark.sources.io import (
        read_transcripts,
        write_features,
    )

    spark = get_spark(app_name="nfx-backfill")
    input_snapshot = None
    if args.as_of_snapshot is not None:
        # time-travel read of a checkpointed input table: only buckets
        # committed at or before the pinned manifest version are
        # visible (append-only soundness argument in checkpoint.py)
        reader = CheckpointedWriter.open_table(args.transcripts)
        tr = reader.read_snapshot(spark, args.as_of_snapshot)
        # same schema contract as read_transcripts: missing columns fail
        # with the job's clear error (not a deep AnalysisException), and
        # extra columns (incl. the layout's `bucket`) never leak into
        # the pipeline
        from nuclei_feature_extraction_spark.sources.io import (
            TRANSCRIPT_SCHEMA,
        )

        missing = [
            f.name for f in TRANSCRIPT_SCHEMA if f.name not in tr.columns
        ]
        if missing:
            raise SystemExit(
                f"snapshot table missing transcript columns {missing}"
            )
        tr = tr.select([f.name for f in TRANSCRIPT_SCHEMA])
        input_snapshot = {
            "path": args.transcripts,
            "version": int(args.as_of_snapshot),
            "history": reader.snapshots(),
        }
    else:
        tr = read_transcripts(spark, args.transcripts)
    side_profile = (
        spark.read.parquet(args.side_profile) if args.side_profile else None
    )
    side_config = spark.read.parquet(args.side_config) if args.side_config else None

    # physical as-of routing from the sampled hot-key share of the RAW
    # source (sampling the feature frame would trigger the kernels):
    # skewed keys → union-window (JVM spillable sort), uniform small
    # groups → cogrouped merge_asof. The decision and the evidence ride
    # into the run manifest / metrics.
    asof_routing = None
    if side_profile is not None:
        from nuclei_feature_extraction_spark.operators.asof import (
            asof_strategy_hint,
        )

        asof_routing = asof_strategy_hint(tr, "conv_id")

    ktimers = None
    if args.plan == "fused":
        from nuclei_feature_extraction_spark.plans.fused import (
            kernel_timing_accumulators,
        )

        ktimers = kernel_timing_accumulators(spark)

    def pipeline(src):
        if args.plan == "fused":
            from nuclei_feature_extraction_spark.plans.fused import (
                build_features_fused,
            )

            return build_features_fused(
                src,
                side_profile=side_profile,
                side_config=side_config,
                lags=tuple(args.cooc_lags),
                levels=tuple(args.cooc_levels),
                kernel_timers=ktimers,
            )
        return build_features(
            src,
            names,
            side_profile=side_profile,
            side_config=side_config,
            lags=tuple(args.cooc_lags),
            levels=tuple(args.cooc_levels),
            asof_strategy=(
                asof_routing["strategy"] if asof_routing else "union_window"
            ),
        )

    if args.checkpoint_dir:
        # bucket filter lands on the SOURCE; resume recomputes only
        # pending buckets' features. Rows come from the manifest's
        # per-bucket counts (run_pipeline triggers one Spark job per
        # bucket group — a single source Observation would only see the
        # first job's rows).
        writer = CheckpointedWriter(args.checkpoint_dir, n_buckets=args.n_buckets)
        if asof_routing is not None:
            writer.record_run_info({"asof_routing": asof_routing})
        if input_snapshot is not None:
            # lineage: this backfill's rows derive from the input table
            # AS OF the pinned snapshot — recorded in the OUTPUT manifest
            writer.record_run_info({"input_snapshot": input_snapshot})
        # snapshot what earlier runs already completed, so the reported
        # rows / rows_per_sec describe THIS run only (a resumed run must
        # not claim rows a previous process wrote, nor blend walls
        # across crashes); the cumulative view is reported separately
        before = set(writer.completed_buckets())
        manifest = writer.run_pipeline(tr, pipeline)
        this_run = {
            b: v for b, v in manifest["completed"].items() if int(b) not in before
        }
        rows = sum(v["rows"] for v in this_run.values())
        wall = round(sum(v["wall_seconds"] for v in this_run.values()), 3)
        cum_rows = sum(v["rows"] for v in manifest["completed"].values())
        summary = {
            "rows": rows,
            "wall_seconds": wall,
            "rows_per_sec": round(rows / wall, 3) if wall else None,
            "buckets_this_run": len(this_run),
            "cumulative": {
                "rows": cum_rows,
                "buckets": len(manifest["completed"]),
            },
            "data_dir": os.path.join(args.checkpoint_dir, "data"),
            "manifest_version": manifest["version"],
            "kernel_backend": lineage_mod.kernel_backend(),
        }
        if ktimers is not None:
            # cluster-wide CPU-seconds per kernel family (accumulated
            # over Arrow tasks) — a per-run regression tripwire for the
            # documented hull/shape share. AT-LEAST-ONCE: task retries /
            # speculation / branch recomputation inflate these (see
            # kernel_timing_accumulators) — check retry counts before
            # reading a jump as a kernel regression
            summary["kernel_seconds"] = {
                f: round(a.value, 3) for f, a in ktimers.items()
            }
            summary["kernel_seconds_semantics"] = "at-least-once"
        if asof_routing is not None:
            summary["asof_routing"] = asof_routing
        if input_snapshot is not None:
            summary["input_snapshot"] = input_snapshot
        if args.metrics_out:
            with open(args.metrics_out, "w") as fh:
                json.dump(summary, fh, indent=2)
        print(json.dumps(summary))
        return 0
    _, metrics = run_with_metrics(
        pipeline(tr),
        lambda d: write_features(d, args.output, overwrite=args.overwrite),
        audits={"asof_routing": asof_routing} if asof_routing else None,
    )
    if ktimers is not None:
        metrics.audits = dict(metrics.audits or {})
        metrics.audits["kernel_seconds"] = {
            f: round(a.value, 3) for f, a in ktimers.items()
        }
        metrics.audits["kernel_seconds_semantics"] = "at-least-once"
    if input_snapshot is not None:
        metrics.audits = dict(metrics.audits or {})
        metrics.audits["input_snapshot"] = input_snapshot
    if args.metrics_out:
        metrics.write(args.metrics_out)
    print(json.dumps({"rows": metrics.rows, "wall_seconds": metrics.wall_seconds,
                      "rows_per_sec": metrics.rows_per_sec}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
