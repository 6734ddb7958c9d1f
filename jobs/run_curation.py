"""spark-submit entry point for TRAINING-DATA CURATION — the end-to-end
composition of the engine's LLM-pipeline operators over a document
table (the counterpart of jobs/run_backfill.py for the feature side).

Stage chain (each stage optional, order fixed; every stage records its
input/output row counts and operator audits in the run manifest — no
silent drops):

    read documents
      → exact dedup           (192-bit composite fingerprint, keep min id)
      → fuzzy dedup           (MinHash banded LSH → verified pairs →
                               connected components, keep canonical)
      → decontamination       (n-gram overlap vs a benchmark table)
      → quality filter        (Gopher-style heuristic score threshold)
      → language filter       (heuristic lang-id allowlist)
      → split assignment      (deterministic md5-bucket train/val/test)
      → packing               (concat-and-chunk token-budget offsets)
      → parquet sink + manifest JSON

On a cluster:

    spark-submit --py-files nfx.zip jobs/run_curation.py \
        --documents s3://…/docs --output s3://…/curated \
        --benchmark s3://…/eval_set --min-quality 0.7 --langs en \
        --pack-budget 2048 --manifest out/manifest.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--documents", required=True, help="input documents parquet")
    p.add_argument("--output", required=True, help="curated parquet sink dir")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--skip-exact-dedup", action="store_true")
    p.add_argument("--skip-fuzzy-dedup", action="store_true")
    p.add_argument("--fuzzy-threshold", type=float, default=0.8,
                   help="verified n-gram Jaccard threshold for a true near-dup pair")
    p.add_argument("--embeddings", default=None,
                   help="parquet with (id, embedding) for embedding-cosine "
                   "near-dup removal (ids must match --id-col values)")
    p.add_argument("--embedding-threshold", type=float, default=0.95)
    p.add_argument("--embedding-id-col", default=None,
                   help="id column in the embeddings table (default: --id-col)")
    p.add_argument("--embedding-vec-col", default=None,
                   help="vector column in the embeddings table (default: "
                   "'embedding' when present, else the single non-id "
                   "column; anything ambiguous fails loudly)")
    p.add_argument("--benchmark", default=None,
                   help="benchmark/eval parquet to decontaminate against")
    p.add_argument("--contamination-threshold", type=float, default=0.5)
    p.add_argument("--min-quality", type=float, default=None,
                   help="drop docs with quality_score below this")
    p.add_argument("--langs", nargs="+", default=None,
                   help="keep only these predicted languages")
    p.add_argument("--split-weights", nargs="+", default=None,
                   help="name=frac pairs, e.g. train=0.9 val=0.05 test=0.05")
    p.add_argument("--split-seed", default="s0")
    p.add_argument("--pack-budget", type=int, default=None,
                   help="token budget per pack; enables packing offsets")
    p.add_argument("--as-of-snapshot", type=int, default=None,
                   help="TIME-TRAVEL input: treat --documents as a "
                   "checkpointed table dir (_manifest.json + data/) and "
                   "curate it exactly as of this manifest version — a "
                   "re-run against the same snapshot sees the same "
                   "corpus even after later bucket groups land; the "
                   "pinned version is recorded in the run manifest")
    p.add_argument("--manifest", default=None, help="manifest JSON path")
    p.add_argument("--overwrite", action="store_true")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import functions as F

    from nuclei_feature_extraction_spark.operators.dedup import (
        dup_groups,
        exact_dedup,
        harvest_lsh_audit,
        minhash_lsh_pairs,
        ngram_contamination,
        ngram_jaccard_verify,
    )
    from nuclei_feature_extraction_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )
    from nuclei_feature_extraction_spark.operators.sampling import (
        pack_documents,
        with_split,
    )
    from nuclei_feature_extraction_spark.operators.text import (
        with_lang_id,
        with_quality_score,
    )
    from nuclei_feature_extraction_spark.session import get_spark

    spark = get_spark(app_name="nfx-curation")
    t0 = time.perf_counter()
    input_snapshot = None
    if args.as_of_snapshot is not None:
        # time-travel read of a checkpointed corpus: only buckets
        # committed at or before the pinned version are visible, so the
        # curation run is reproducible against a moving table
        from nuclei_feature_extraction_spark.sources.checkpoint import (
            CheckpointedWriter,
        )

        reader = CheckpointedWriter.open_table(args.documents)
        df = reader.read_snapshot(spark, args.as_of_snapshot).drop("bucket")
        input_snapshot = {
            "path": args.documents,
            "version": int(args.as_of_snapshot),
            "history": reader.snapshots(),
        }
    else:
        df = spark.read.parquet(args.documents)
    idc, txc = args.id_col, args.text_col

    stages: list[dict] = []
    rows_in = df.count()

    from nuclei_feature_extraction_spark.lineage import (
        executor_stage_totals,
        stage_metrics_delta,
    )

    stage_t0 = [time.perf_counter()]
    stage_snap = [executor_stage_totals(spark)]

    def record(stage: str, rows_before: int, rows_after: int, **extra):
        now = time.perf_counter()
        # per-stage executor attribution (core-seconds, CPU-seconds,
        # shuffle MB, spill MB): the AppStatusStore delta since the
        # previous stage boundary — makes "which stage burns the extra
        # core-seconds at higher parallelism" a manifest field instead
        # of a prose hypothesis (VERDICT r6 ask #3)
        snap = executor_stage_totals(spark)
        stages.append(
            {"stage": stage, "rows_in": rows_before, "rows_out": rows_after,
             "dropped": rows_before - rows_after,
             "wall_seconds": round(now - stage_t0[0], 3),
             "executor": stage_metrics_delta(stage_snap[0], snap), **extra}
        )
        stage_t0[0] = now
        stage_snap[0] = snap

    # each stage boundary persists its survivor frame before counting and
    # releases the predecessor: the per-stage .count() then executes only
    # THAT stage's work, and the final write re-reads the last persisted
    # frame instead of re-running the whole chain (exact dedup → LSH →
    # CC → …) once per downstream action — O(stages), not O(stages²)
    persisted: list = []

    def checkpointed(nxt):
        nxt = nxt.persist()
        m = nxt.count()
        while persisted:
            persisted.pop().unpersist()
        persisted.append(nxt)
        return nxt, m

    cur = df
    n = rows_in

    if not args.skip_exact_dedup:
        cur, m = checkpointed(
            exact_dedup(cur, idc, txc)
            .filter("is_canonical")
            .drop("dup_group_size", "is_canonical")
        )
        record("exact_dedup", n, m)
        n = m

    if not args.skip_fuzzy_dedup:
        # observe_audit: the cap stats ride the pair plan as observe()
        # metrics (completed by the verify stage's eager checkpoint) —
        # no separate aggregate job on the serial path
        audit: dict = {}
        cand = minhash_lsh_pairs(
            cur, idc, txc, audit=audit, observe_audit=True
        )
        pairs = ngram_jaccard_verify(
            cur, cand.select("id_a", "id_b"), idc, txc
        ).filter(F.col("jaccard") >= args.fuzzy_threshold)
        cc_audit: dict = {}
        groups = dup_groups(cur, pairs, idc, audit=cc_audit)
        cur, m = checkpointed(
            cur.join(groups.filter("is_canonical").select(idc), idc, "inner")
        )
        record("fuzzy_dedup", n, m, lsh_audit=harvest_lsh_audit(audit),
               cc_audit=cc_audit, threshold=args.fuzzy_threshold)
        n = m

    if args.embeddings:
        emb = spark.read.parquet(args.embeddings)
        eid = args.embedding_id_col or idc
        # only surviving docs' vectors participate
        emb = emb.join(cur.select(F.col(idc).alias(eid)), eid, "inner")
        if args.embedding_vec_col:
            vec_col = args.embedding_vec_col
            if vec_col not in emb.columns:
                raise SystemExit(
                    f"--embedding-vec-col {vec_col!r} not in embeddings "
                    f"table columns {emb.columns}"
                )
        elif "embedding" in emb.columns:
            vec_col = "embedding"
        else:
            non_id = [c for c in emb.columns if c != eid]
            if len(non_id) != 1:
                raise SystemExit(
                    "ambiguous embeddings table (no 'embedding' column, "
                    f"{len(non_id)} non-id columns {non_id}): pass "
                    "--embedding-vec-col"
                )
            vec_col = non_id[0]
        from pyspark.sql.types import ArrayType

        if not isinstance(emb.schema[vec_col].dataType, ArrayType):
            raise SystemExit(
                f"embeddings vector column {vec_col!r} has type "
                f"{emb.schema[vec_col].dataType.simpleString()}, expected "
                "array<float>/array<double> — pass --embedding-vec-col"
            )
        first_vec = emb.select(vec_col).first()
        if first_vec is None:
            # nothing to compare (empty corpus or disjoint ids) — record
            # the no-op rather than crashing on the dim probe
            record("embedding_near_dup", n, n, skipped="no surviving vectors")
        else:
            dim = len(first_vec[0])
            audit_e: dict = {}
            pairs_e = embedding_near_dup_pairs(
                emb, dim, threshold=args.embedding_threshold,
                id_col=eid, vec_col=vec_col, audit=audit_e,
                observe_audit=True,
            ).select(F.col("id_a"), F.col("id_b"))
            groups_e = dup_groups(cur.select(F.col(idc)), pairs_e, idc)
            cur, m = checkpointed(cur.join(
                groups_e.filter("is_canonical").select(idc), idc, "inner"
            ))
            record("embedding_near_dup", n, m,
                   threshold=args.embedding_threshold,
                   lsh_audit=harvest_lsh_audit(audit_e), vec_col=vec_col)
            n = m

    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        cont = ngram_contamination(
            cur, bench, idc, txc, threshold=args.contamination_threshold,
        )
        cur, m = checkpointed(cur.join(
            cont.filter("NOT is_contaminated").select(idc), idc, "inner"
        ))
        record("decontamination", n, m,
               threshold=args.contamination_threshold)
        n = m

    if args.min_quality is not None:
        scored = with_quality_score(cur, txc)
        cur, m = checkpointed(cur.join(
            scored.filter(F.col("quality_score") >= args.min_quality)
            .select(idc),
            idc, "inner",
        ))
        record("quality_filter", n, m, min_quality=args.min_quality)
        n = m

    if args.langs:
        from pyspark.sql import Observation

        from nuclei_feature_extraction_spark.operators.langid import LANGS

        # the per-language histogram rides the scoring pass as observe()
        # metrics — no second job over the corpus
        obs = Observation("lang_histogram")
        lang = with_lang_id(cur, txc).observe(
            obs,
            *[
                F.sum((F.col("lang_pred") == lg).cast("long")).alias(lg)
                for lg in (*LANGS, "unknown")
            ],
        )
        cur, m = checkpointed(cur.join(
            lang.filter(F.col("lang_pred").isin(args.langs)).select(idc),
            idc, "inner",
        ))
        # bounded + empty-row safe: on an empty corpus AQE can drop the
        # CollectMetrics node (same wrinkle harvest_lsh_audit guards),
        # and null sums come back as None — degrade to a zeroed
        # histogram instead of crashing after the filter already ran
        from nuclei_feature_extraction_spark.lineage import (
            observation_get_bounded,
        )

        _, hist = observation_get_bounded(obs)
        record("lang_filter", n, m, langs=args.langs,
               lang_histogram={
                   lg: int(hist.get(lg) or 0) for lg in (*LANGS, "unknown")
               })
        n = m

    if args.split_weights:
        weights = []
        for w in args.split_weights:
            name, frac = w.split("=")
            weights.append((name, float(frac)))
        cur = with_split(cur, idc, tuple(weights), seed=args.split_seed)
        record("split_assign", n, n, weights=dict(weights),
               seed=args.split_seed)

    if args.pack_budget:
        cur = pack_documents(cur, args.pack_budget, idc, text_col=txc)
        record("packing", n, n, budget=args.pack_budget)

    mode = "overwrite" if args.overwrite else "errorifexists"
    cur.write.mode(mode).parquet(args.output)
    while persisted:
        persisted.pop().unpersist()
    written = spark.read.parquet(args.output).count()
    record("sink", n, written)

    manifest = {
        "rows_in": rows_in,
        "rows_out": written,
        "wall_seconds": round(time.perf_counter() - t0, 3),
        "stages": stages,
        "output": args.output,
    }
    if input_snapshot is not None:
        manifest["input_snapshot"] = input_snapshot
    if args.manifest:
        with open(args.manifest, "w") as fh:
            json.dump(manifest, fh, indent=2)
    print(json.dumps(manifest))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
