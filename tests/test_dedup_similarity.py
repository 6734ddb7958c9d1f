"""Dedup recall/precision on planted near-duplicates + ANN sanity."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nuclei_feature_extraction_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    simhash_near_dup_pairs,
)
from nuclei_feature_extraction_spark.operators.similarity import (
    cosine_topk,
    lsh_bucketed_topk,
)
from nuclei_feature_extraction_spark.operators.text import with_fingerprint

WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu "
    "xi omicron pi rho sigma tau upsilon phi chi psi omega"
).split()


@pytest.fixture(scope="module")
def planted_docs(spark):
    rng = np.random.default_rng(7)
    rows = []
    for i in range(60):
        toks = list(rng.choice(WORDS, size=60))
        rows.append((i, " ".join(toks)))
    # plant near-duplicates: docs 100.. are copies of 0..9 with ONE token changed
    base = {i: t for i, t in rows[:10]}
    for i in range(10):
        toks = base[i].split()
        toks[30] = "MUTATION"
        rows.append((100 + i, " ".join(toks)))
    # plant one exact duplicate pair
    rows.append((200, rows[5][1]))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup_finds_planted_pair(spark, planted_docs):
    out = exact_dedup(planted_docs).toPandas()
    dup = out[out.dup_group_size > 1]
    assert sorted(dup.doc_id.tolist()) == [5, 200]
    assert dup.set_index("doc_id")["is_canonical"].to_dict() == {5: True, 200: False}


def test_minhash_recall_on_planted_near_dups(spark, planted_docs):
    pairs = minhash_lsh_pairs(planted_docs, num_perm=64, bands=16).toPandas()
    found = {tuple(sorted(p)) for p in zip(pairs.id_a, pairs.id_b)}
    planted = {(i, 100 + i) for i in range(10)}
    recall = len(found & planted) / len(planted)
    assert recall >= 0.9, f"recall {recall}: {sorted(found)[:20]}"
    # est_jaccard high for planted pairs
    hits = pairs[[tuple(sorted(p)) in planted for p in zip(pairs.id_a, pairs.id_b)]]
    assert (hits.est_jaccard > 0.5).all()
    # no random-pair false positives with high estimated similarity
    noise = pairs[
        [tuple(sorted(p)) not in planted and 200 not in p and 5 not in p
         for p in zip(pairs.id_a, pairs.id_b)]
    ]
    assert (noise.est_jaccard < 0.5).all() if len(noise) else True


def test_simhash_finds_near_dups(spark, planted_docs):
    pairs = simhash_near_dup_pairs(planted_docs, max_hamming=6).toPandas()
    found = {tuple(sorted(p)) for p in zip(pairs.id_a, pairs.id_b)}
    planted = {(i, 100 + i) for i in range(10)} | {(5, 200)}
    assert len(found & planted) >= 8  # one-token edits keep hamming small


def test_fingerprint_stability_under_distant_edit(spark, planted_docs):
    fp = with_fingerprint(planted_docs).toPandas().set_index("doc_id")["fingerprint"]
    # doc 5 and its exact copy 200: identical fingerprints
    assert list(fp[5]) == list(fp[200])


def test_lsh_bucketed_topk_contains_self(spark):
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((200, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(200), "embedding": [list(map(float, v)) for v in vecs]})
    df = spark.createDataFrame(pdf)
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = lsh_bucketed_topk(df, queries, dim=16, k=5, n_planes=6).toPandas()
    for q in range(3):
        sub = got[got.query_id == q]
        assert len(sub) >= 1
        # the query vector itself shares its own bucket → rank 1, sim 1.0
        top = sub[sub["rank"] == 1].iloc[0]
        assert top.vec_id == q and abs(top.sim - 1.0) < 1e-6


def test_cosine_topk_exact_vs_numpy(spark):
    rng = np.random.default_rng(13)
    vecs = rng.standard_normal((300, 8)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(300), "embedding": [list(map(float, v)) for v in vecs]})
    df = spark.createDataFrame(pdf)
    q = vecs[0].astype(np.float64)
    got = cosine_topk(df, list(q), k=7).toPandas()
    v = vecs.astype(np.float64)
    sims = (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))
    want = np.argsort(-sims, kind="stable")[:7]
    assert got.vec_id.tolist() == list(want)


def test_ngram_jaccard_verify_exact_values(spark, planted_docs):
    from nuclei_feature_extraction_spark.operators.dedup import (
        ngram_jaccard_verify,
    )

    pairs = minhash_lsh_pairs(planted_docs, num_perm=64, bands=16)
    verified = ngram_jaccard_verify(planted_docs, pairs).toPandas()
    byp = {tuple(sorted((a, b))): j for a, b, j in verified.itertuples(index=False)}
    assert byp.get((5, 200)) == 1.0  # exact duplicate
    # one-token edit in a 60-token doc: 58-shingle docs share all but 3
    for i in range(10):
        if (i, 100 + i) in byp:
            assert 0.8 < byp[(i, 100 + i)] < 1.0


def test_embedding_near_dup_pairs(spark):
    from nuclei_feature_extraction_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(21)
    base = rng.standard_normal((100, 16)).astype(np.float32)
    # plant 5 near-duplicates of vectors 0..4 (tiny perturbation)
    dup = base[:5] + rng.standard_normal((5, 16)).astype(np.float32) * 0.01
    vecs = np.vstack([base, dup])
    pdf = pd.DataFrame(
        {"vec_id": range(105), "embedding": [list(map(float, v)) for v in vecs]}
    )
    got = embedding_near_dup_pairs(
        spark.createDataFrame(pdf), dim=16, threshold=0.98
    ).toPandas()
    found = {tuple(sorted(p)) for p in zip(got.id_a, got.id_b)}
    planted = {(i, 100 + i) for i in range(5)}
    assert len(found & planted) >= 4  # multi-table LSH recall
    assert (got.sim >= 0.98).all()


# ---------------------------------------------------------------- round 2


def test_exact_dedup_collision_guard(spark, monkeypatch):
    """Distinct same-length texts stay apart even if the primary 64-bit
    hash fully collides (simulated): the second independent hash in the
    composite key keeps them in separate groups. At 10^12 rows single
    xxhash64 collisions are statistically certain (birthday ~4e9)."""
    import nuclei_feature_extraction_spark.operators.dedup as dd

    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["aaaa bbbb", "cccc dddd", "aaaa bbbb"]}
    )
    df = spark.createDataFrame(pdf)
    orig = dd._text_key

    def degraded(text_col):
        cols = orig(text_col)
        return [F.lit(0).cast("long").alias("__th1"), cols[1], cols[2]]

    monkeypatch.setattr(dd, "_text_key", degraded)
    out = dd.exact_dedup(df).toPandas().set_index("doc_id")
    assert out.loc[1, "dup_group_size"] == 2  # true dup still merged
    assert out.loc[2, "dup_group_size"] == 1  # distinct text kept apart


def test_lsh_bucket_cap_prevents_quadratic_blowup(spark):
    """One adversarial hot bucket (1k identical short docs) must not
    produce O(B²) pairs when capped; planted near-dups in small buckets
    keep full recall; lsh_bucket_stats reports the drop."""
    from nuclei_feature_extraction_spark.operators.dedup import (
        lsh_bucket_stats,
        minhash_buckets,
        minhash_lsh_pairs,
        minhash_signature,
    )

    rng = np.random.default_rng(3)
    rows = [(i, "spam spam spam spam") for i in range(1000)]  # hot bucket
    base = " ".join(rng.choice(WORDS, size=60))
    toks = base.split()
    toks[10] = "EDIT"
    rows += [(2000, base), (2001, " ".join(toks))]  # planted near-dup pair
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    capped = minhash_lsh_pairs(df, max_bucket_size=50).toPandas()
    # without the cap the hot bucket alone yields 1000*999/2 ≈ 5e5 pairs
    assert len(capped) < 100
    assert (2000, 2001) in {tuple(sorted(p)) for p in zip(capped.id_a, capped.id_b)}

    sig = minhash_signature(df)
    stats = lsh_bucket_stats(minhash_buckets(sig), max_bucket_size=50)
    assert stats["n_dropped_buckets"] >= 1
    assert stats["n_dropped_members"] >= 1000
    assert stats["max_bucket"] == 1000


def test_simhash_bucket_cap(spark):
    from nuclei_feature_extraction_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    rows = [(i, "same short text") for i in range(500)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = simhash_near_dup_pairs(df, max_bucket_size=50).toPandas()
    assert len(out) == 0  # the one giant bucket is dropped, not exploded


def test_simhash_warns_when_pigeonhole_guarantee_void(spark, planted_docs):
    """band_bits=16 → 4 bands → guaranteed recall only to hamming 3;
    asking for max_hamming=6 must warn (probabilistic recall), and a
    guarantee-satisfying config must stay silent."""
    import warnings

    from nuclei_feature_extraction_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    with pytest.warns(UserWarning, match="probabilistic"):
        simhash_near_dup_pairs(planted_docs, max_hamming=6, band_bits=16)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        simhash_near_dup_pairs(planted_docs, max_hamming=6, band_bits=8)


def test_ngram_jaccard_max_doc_freq_filtered_universe(spark):
    """With max_doc_freq, J is the exact Jaccard over the FILTERED
    shingle universe: a pair overlapping only on surviving shingles
    keeps a consistent numerator/denominator (sizing on the unfiltered
    universe would shrink only the numerator and could drop the pair)."""
    from nuclei_feature_extraction_spark.operators.dedup import (
        ngram_jaccard_all_pairs,
    )

    hot = "alpha beta gamma"  # shared by ALL docs → df = 4 > 3
    rows = [
        (0, f"{hot} one two three four"),
        (1, f"{hot} one two three five"),
        (2, f"{hot} six seven eight nine"),
        (3, f"{hot} ten eleven twelve thirteen"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = ngram_jaccard_all_pairs(
        df, threshold=0.3, shingle=1, max_doc_freq=3
    ).toPandas()
    got_map = {(a, b): j for a, b, j in got.itertuples(index=False)}
    # filtered universe drops {alpha, beta, gamma}; docs 0/1 keep
    # {one,two,three,four} / {one,two,three,five} → J = 3/5
    assert (0, 1) in got_map and abs(got_map[(0, 1)] - 0.6) < 1e-12
    # disjoint-after-filter pairs must not appear
    assert (2, 3) not in got_map


def test_ngram_jaccard_all_pairs_exact_vs_python(spark, planted_docs):
    """Inverted-index all-pairs Jaccard == brute-force python on shingle
    sets, value for value."""
    from nuclei_feature_extraction_spark.operators.dedup import (
        ngram_jaccard_all_pairs,
    )

    got = ngram_jaccard_all_pairs(planted_docs, threshold=0.5).toPandas()
    docs = {r.doc_id: r.text for r in planted_docs.collect()}

    def shingles(t, n=3):
        toks = t.lower().split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    want = {}
    ids = sorted(docs)
    for i, a in enumerate(ids):
        sa = shingles(docs[a])
        for b in ids[i + 1 :]:
            sb = shingles(docs[b])
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.5:
                want[(a, b)] = j
    got_map = {(a, b): j for a, b, j in got.itertuples(index=False)}
    assert set(got_map) == set(want)
    for k in want:
        assert abs(got_map[k] - want[k]) < 1e-12


def test_dup_groups_connected_components(spark):
    """Chain a-b-c + pair d-e + singleton f → groups {a,b,c}, {d,e}, {f}
    with min-id canonicals."""
    from nuclei_feature_extraction_spark.operators.dedup import dup_groups

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10, 11, 12, 20, 21, 30], "text": ["x"] * 6})
    )
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [10, 11, 20], "id_b": [11, 12, 21]})
    )
    out = dup_groups(docs, pairs).toPandas().set_index("doc_id").sort_index()
    assert out.dup_group_id.tolist() == [10, 10, 10, 20, 20, 30]
    assert out.dup_group_size.tolist() == [3, 3, 3, 2, 2, 1]
    assert out.is_canonical.tolist() == [True, False, False, True, False, True]


def test_connected_components_long_chain_converges(spark):
    """A 40-node path graph needs multiple propagation rounds — checks
    the convergence loop, not just one hop."""
    from nuclei_feature_extraction_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(39)), "id_b": list(range(1, 40))})
    )
    audit = {}
    out = connected_components(pairs, audit=audit).toPandas()
    assert (out.comp == 0).all() and len(out) == 40
    # adaptive doubling schedule: reach after round r multiplies by
    # (1 hop + 2^r jumps); a 40-node path must converge within 5
    # driver-synchronized rounds (fixed-3-hops took 4 rounds but paid
    # 3 self-joins in EVERY round; shallow graphs converge in 1-2)
    assert audit["cc_nodes"] == 40
    assert audit["cc_rounds"] <= 5, audit
    # a trivially shallow graph (one pair) must converge in 2 rounds
    # with a single composed hop each — the wasted-join fix
    tiny = spark.createDataFrame(pd.DataFrame({"id_a": [0], "id_b": [1]}))
    a2 = {}
    connected_components(tiny, audit=a2).count()
    assert a2["cc_rounds"] == 2 and a2["cc_hops"] <= 3, a2


def test_connected_components_round_plan_stays_small(spark, monkeypatch):
    """Each round's checkpointed plan stays bounded under the default
    hop schedule: a persisted hop keeps its whole logical plan, so the
    self-join doubled the plan string per composed hop (369 M chars at
    8 hops, an OutOfMemoryError on a 2 GB driver)."""
    from nuclei_feature_extraction_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(39)), "id_b": list(range(1, 40))})
    )
    plan_chars = []
    frame_cls = type(pairs)
    checkpoint = frame_cls.localCheckpoint

    def recording(self, eager=True, *args, **kwargs):
        if eager:
            plan_chars.append(len(self._jdf.queryExecution().toString()))
        return checkpoint(self, eager, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)
    audit = {}
    out = connected_components(pairs, audit=audit).toPandas()
    assert (out.comp == 0).all() and len(out) == 40
    assert audit["cc_hops"] >= 8 and len(plan_chars) == audit["cc_rounds"]
    assert max(plan_chars) < 2_000_000, plan_chars


def test_connected_components_size_estimate_resets(spark, monkeypatch):
    """With CBO off a join's size estimate is the product of its
    children's, so every hop squares it; the labels carried into the
    next round must start from a fresh estimate (without the reset it
    passes 2^5000 by round 2 on this path)."""
    from nuclei_feature_extraction_spark.operators import dedup

    bits = []
    reset = dedup._reset_size_estimate

    def recording(df):
        out = reset(df)
        size = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        bits.append(int(str(size)).bit_length())
        return out

    monkeypatch.setattr(dedup, "_reset_size_estimate", recording)
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(39)), "id_b": list(range(1, 40))})
    )
    audit = {}
    dedup.connected_components(pairs, audit=audit).count()
    assert len(bits) == audit["cc_rounds"] >= 3
    assert max(bits) < 200, bits


def test_connected_components_deep_path_and_star(spark):
    """A 10^5-node path plus a 1001-node star converges at the default
    driver heap (an eighth of RAM: ~2 GB on a 16 GB box). Without the
    plan cut and the size-estimate reset one round spent minutes
    planning, or the driver ran out of heap."""
    from nuclei_feature_extraction_spark.operators.dedup import (
        connected_components,
    )

    n, hub = 100_000, 1_000_000
    path = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    star = spark.range(1, 1001).select(
        F.lit(hub).cast("long").alias("id_a"),
        (F.col("id") + hub).alias("id_b"),
    )
    sizes = {
        r["comp"]: r["count"]
        for r in connected_components(path.unionByName(star))
        .groupBy("comp").count().collect()
    }
    assert sizes == {0: n, hub: 1001}, sizes


def test_connected_components_string_ids_long_chain(spark):
    """String doc ids (the common real-corpus case): F.sum over a string
    comp column is NULL, so a numeric-sum convergence check would see
    None == None after round 2 and return a half-merged path. The
    type-agnostic hash digest must keep iterating until the true
    fixpoint."""
    from nuclei_feature_extraction_spark.operators.dedup import (
        connected_components,
        dup_groups,
    )

    ids = [f"doc-{i:04d}" for i in range(40)]
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": ids[:-1], "id_b": ids[1:]})
    )
    out = connected_components(pairs).toPandas()
    assert (out.comp == "doc-0000").all() and len(out) == 40

    docs = spark.createDataFrame(pd.DataFrame({"doc_id": ids, "text": ["x"] * 40}))
    grp = dup_groups(docs, pairs).toPandas()
    assert (grp.dup_group_id == "doc-0000").all()
    assert (grp.dup_group_size == 40).all()
    assert grp.is_canonical.sum() == 1


def test_cosine_all_pairs_exact_vs_numpy(spark):
    from nuclei_feature_extraction_spark.operators.similarity import (
        cosine_all_pairs_exact,
    )

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((120, 12)).astype(np.float32)
    vecs[100:110] = vecs[:10] + 0.01 * rng.standard_normal((10, 12)).astype(
        np.float32
    )
    pdf = pd.DataFrame(
        {"vec_id": range(120), "embedding": [list(map(float, v)) for v in vecs]}
    )
    got = cosine_all_pairs_exact(
        spark.createDataFrame(pdf), threshold=0.6, n_blocks=4
    ).toPandas()
    v = vecs.astype(np.float64)
    vn = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = vn @ vn.T
    want = {
        (i, j): sims[i, j]
        for i in range(120)
        for j in range(i + 1, 120)
        if sims[i, j] >= 0.6
    }
    got_map = {(a, b): s for a, b, s in got.itertuples(index=False)}
    assert set(got_map) == set(want)
    for k, s in want.items():
        assert abs(got_map[k] - s) < 1e-6


def test_ivf_topk_recall_vs_exact(spark):
    """IVF (coarse quantize → probe → exact re-rank) finds the true
    top-1 for every query when probing enough lists, and candidates are
    restricted to the probed cells."""
    from nuclei_feature_extraction_spark.operators.similarity import (
        ivf_topk,
    )

    rng = np.random.default_rng(33)
    # 10 well-separated cluster centers, 40 points each
    centers = rng.standard_normal((10, 16)) * 4
    vecs = np.repeat(centers, 40, axis=0) + rng.standard_normal((400, 16)) * 0.3
    pdf = pd.DataFrame(
        {"vec_id": range(400), "embedding": [list(map(float, v)) for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    queries = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": [0, 1, 2], "embedding": [list(map(float, vecs[i])) for i in (0, 100, 200)]}
        )
    )
    got = ivf_topk(df, queries, k=3, n_centroids=16, nprobe=8).toPandas()
    v = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    for qi, src in ((0, 0), (1, 100), (2, 200)):
        sub = got[got.query_id == qi].sort_values("rank")
        sims = v @ v[src]
        true_top = int(np.argsort(-sims, kind="stable")[0])
        assert sub.iloc[0]["vec_id"] == true_top == src  # self-hit
        assert abs(sub.iloc[0]["sim"] - 1.0) < 1e-6
        # all returned sims within the probed lists are exact
        for _, r in sub.iterrows():
            assert abs(r["sim"] - round(sims[int(r.vec_id)], 6)) < 1e-6


def test_ivf_topk_query_table_distributed_probes(spark):
    """A query TABLE (1k rows) flows through the distributed probe
    assignment (no driver collect of queries): in the exhaustive config
    (nprobe = n_centroids) IVF must equal brute force for every query."""
    from nuclei_feature_extraction_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((300, 8))
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(300), "embedding": [list(map(float, v)) for v in vecs]}
        )
    )
    qvecs = rng.standard_normal((1000, 8))
    queries = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": range(1000),
             "embedding": [list(map(float, v)) for v in qvecs]}
        )
    )
    got = (
        ivf_topk(df, queries, k=1, n_centroids=8, nprobe=8)
        .toPandas()
        .set_index("query_id")
    )
    assert len(got) == 1000
    v = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    q = qvecs / np.linalg.norm(qvecs, axis=1, keepdims=True)
    sims = q @ v.T
    # exhaustive probing ≡ exact: check every 37th query's top-1
    for qi in range(0, 1000, 37):
        true_top = int(np.argsort(-sims[qi], kind="stable")[0])
        assert int(got.loc[qi, "vec_id"]) == true_top, qi


def test_kmeans_refine_improves_recall_on_planted_clusters(spark):
    """Lloyd refinement balances inverted lists: recall@1 at a tight
    nprobe must not degrade, and list balance (max list size) must
    improve vs the raw hash-sampled seeds on planted clusters."""
    from nuclei_feature_extraction_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        kmeans_refine,
        sample_centroids,
    )

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 12)) * 5
    vecs = np.repeat(centers, 50, axis=0) + rng.standard_normal((400, 12)) * 0.2
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(400), "embedding": [list(map(float, v)) for v in vecs]}
        )
    )
    qidx = list(range(0, 400, 25))
    queries = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": qidx,
             "embedding": [list(map(float, vecs[i])) for i in qidx]}
        )
    )
    seeds = sample_centroids(df, 8)
    refined = kmeans_refine(df, seeds, n_iter=4)

    def max_list(c):
        return (
            ivf_assign(df, c).groupBy("ivf_cell").count().toPandas()["count"].max()
        )

    def recall_at_1(c):
        got = ivf_topk(
            df, queries, k=1, n_centroids=8, nprobe=1, centroids=c
        ).toPandas()
        hits = sum(int(r.vec_id) == int(r.query_id) for _, r in got.iterrows())
        return hits / len(qidx)

    assert max_list(refined) <= max_list(seeds)
    r_seed, r_ref = recall_at_1(seeds), recall_at_1(refined)
    assert r_ref >= r_seed
    assert r_ref >= 0.9  # well-separated planted clusters: near-perfect


def test_ivf_list_size_telemetry_on_skewed_corpus(spark, tmp_path):
    """Unbalanced centroid seeds must surface: a corpus with 90% of mass
    in one cluster yields a hot inverted list, visible in the audit and
    persisted in the run-metrics manifest (the LSH bucket-audit policy
    applied to IVF)."""
    import json

    from nuclei_feature_extraction_spark.lineage import RunMetrics
    from nuclei_feature_extraction_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(5)
    hot = rng.standard_normal(8) * 4
    cold = rng.standard_normal((9, 8)) * 4
    vecs = np.vstack(
        [hot + rng.standard_normal((360, 8)) * 0.2]
        + [c + rng.standard_normal((5, 8)) * 0.2 for c in cold]
    )
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(len(vecs)),
             "embedding": [list(map(float, v)) for v in vecs]}
        )
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "embedding": [list(map(float, hot))]})
    )
    audit = {}
    # seed centroids = the true cluster centers, so the hot cluster's
    # mass lands in ONE inverted list (deterministic skew)
    seeds = np.vstack([hot, cold[:7]])
    got = ivf_topk(
        df, queries, k=3, n_centroids=8, nprobe=8, centroids=seeds,
        audit=audit,
    )
    assert got.count() == 3
    st = audit["ivf_lists"]
    assert st["n_centroids"] == 8
    assert st["max_list"] >= 300  # the hot cluster dominates one list
    assert st["max_over_mean"] > 4.0  # imbalance factor is loud
    assert st["n_nonempty_cells"] + st["n_empty_cells"] == 8
    # rides into the serialized run manifest verbatim
    m = RunMetrics(
        rows=3, wall_seconds=0.1, rows_per_sec=30.0, null_keys=0,
        min_ts="", max_ts="", audits=audit,
    )
    path = m.write(str(tmp_path))
    on_disk = json.load(open(path))
    assert on_disk["audits"]["ivf_lists"]["max_list"] == st["max_list"]

def test_repetition_stats_edges_and_values(spark):
    """with_repetition_stats: hand-checked values plus the degenerate
    single-token / empty / fully-repeated inputs (the sequence(1,0)
    descending-range trap), and a UDF-free single-stage plan."""
    import pandas as pd

    from nuclei_feature_extraction_spark.operators.text import (
        with_repetition_stats,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [
                "a b a b c",      # dup 2/5; top word 2/5; top bigram 'a b' 2/4
                "x x x x",        # full repetition
                "solo",           # single token: no bigrams
                "",               # split('') -> [''] single empty token
                "one two three",  # all distinct
            ],
        }
    )
    got = (
        with_repetition_stats(spark.createDataFrame(pdf))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert got["dup_word_frac"].tolist() == [0.4, 0.75, 0.0, 0.0, 0.0]
    assert got["top_word_frac"].tolist() == [0.4, 1.0, 1.0, 1.0, 0.333333]
    import numpy as np
    np.testing.assert_allclose(
        got["top_bigram_frac"].to_numpy(),
        [0.5, 1.0, np.nan, np.nan, 0.5], equal_nan=True,
    )

    plan = (
        with_repetition_stats(spark.createDataFrame(pdf))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "PythonUDF" not in plan


def test_capped_pair_expansion_matches_self_join(spark, monkeypatch):
    """The chunked mapInPandas pair expansion (capped path) must emit
    EXACTLY the self-join's pair set — for long AND string ids, and
    also when a bucket overflows the chunk budget (the streaming
    one-anchor-row path for user-raised caps)."""
    from nuclei_feature_extraction_spark.operators import dedup as dd

    rng = np.random.default_rng(7)
    rows = []
    for b in range(6):
        size = int(rng.integers(2, 40))
        for i in range(size):
            rows.append((b * 100 + i, b))
    buckets = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "bucket"])
    ).withColumn("band", F.lit(0)).select("doc_id", "band", "bucket")

    def pair_set(df):
        return {
            tuple(r) for r in df.select("id_a", "id_b").toPandas().itertuples(
                index=False
            )
        }

    uncapped = pair_set(dd._capped_bucket_pairs(buckets, "doc_id", None))
    capped = pair_set(dd._capped_bucket_pairs(buckets, "doc_id", 1000))
    assert capped == uncapped and len(capped) > 50

    # chunk-overflow path: every bucket is "huge" relative to the chunk
    monkeypatch.setattr(dd, "_PAIR_CHUNK", 8)
    tiny_chunks = pair_set(dd._capped_bucket_pairs(buckets, "doc_id", 1000))
    assert tiny_chunks == uncapped
    monkeypatch.undo()

    # string ids (np.unique/np.full must preserve full-width values)
    sb = buckets.select(
        F.concat(F.lit("doc_"), F.col("doc_id")).alias("doc_id"),
        "band", "bucket",
    )
    s_uncapped = pair_set(dd._capped_bucket_pairs(sb, "doc_id", None))
    s_capped = pair_set(dd._capped_bucket_pairs(sb, "doc_id", 1000))
    assert s_capped == s_uncapped and len(s_capped) == len(uncapped)


def test_observe_audit_matches_eager(spark):
    """observe_audit=True must yield the same cap stats as the eager
    lsh_bucket_stats job — just with zero extra Spark jobs (the metrics
    ride the pair plan; harvest after the first action)."""
    from nuclei_feature_extraction_spark.operators.dedup import (
        harvest_lsh_audit,
        minhash_lsh_pairs,
    )

    rows = [(i, "spam spam spam spam") for i in range(200)]
    rows += [(1000 + i, f"unique doc number {i} with words {i * 7}")
             for i in range(20)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    eager: dict = {}
    minhash_lsh_pairs(df, max_bucket_size=50, audit=eager)

    lazy: dict = {}
    pairs = minhash_lsh_pairs(
        df, max_bucket_size=50, audit=lazy, observe_audit=True
    )
    assert "_pending_observation" in lazy and "n_buckets" not in lazy
    pairs.count()  # first action over the pair plan completes the metrics
    harvest_lsh_audit(lazy)
    assert "_pending_observation" not in lazy
    for k in ("n_buckets", "max_bucket", "n_dropped_buckets",
              "n_dropped_members"):
        assert lazy[k] == eager[k], k
    # harvest is idempotent and json-safe afterwards
    import json as _json

    harvest_lsh_audit(lazy)
    _json.dumps(lazy)
