"""Similarity search (X19/X21): brute cosine, k-NN join, LSH recall."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators import similarity
from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES


def test_dot_and_norm(spark):
    df = spark.createDataFrame([([1.0, 2.0, 2.0], [2.0, 0.0, 1.0])], "a array<double>, b array<double>")
    row = df.select(
        similarity.dot(F.col("a"), F.col("b")).alias("d"),
        similarity.l2_norm(F.col("a")).alias("n"),
        similarity.cosine(F.col("a"), F.col("a")).alias("self"),
    ).head()
    assert row["d"] == 4.0
    assert row["n"] == 3.0
    assert abs(row["self"] - 1.0) < 1e-12


def test_brute_topk_orders_by_similarity(embeddings):
    qvec = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).head()["embedding"]]
    top = similarity.cosine_topk_brute(
        embeddings.filter(F.col("vec_id") != 0), qvec, k=5
    ).collect()
    sims = [r["cosine_sim"] for r in top]
    assert len(top) == 5
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 - 1e-9 <= s <= 1.0 + 1e-9 for s in sims)


def test_knn_join_brute_self_match(embeddings):
    qs = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    out = similarity.knn_join_brute(qs, embeddings, k=1)
    rows = {r["q_id"]: (r["vec_id"], r["cosine_sim"]) for r in out.collect()}
    for q_id, (c_id, sim) in rows.items():
        assert c_id == q_id  # nearest neighbor of a vector is itself
        assert abs(sim - 1.0) < 1e-5


def test_lsh_recall_vs_brute(embeddings):
    """Multi-probe RHP-LSH at 8 planes must recover most of the true top-5
    (brute force is the exact baseline). The self-pair (sim=1.0) at least
    must always survive — a query shares its own bucket by construction."""
    qs = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    brute = similarity.knn_join_brute(qs, embeddings, k=5)
    lsh = similarity.lsh_knn_join(qs, embeddings, dim=64, k=5, n_planes=6, n_tables=4)
    truth = {(r["q_id"], r["vec_id"]) for r in brute.collect()}
    got = {(r["q_id"], r["vec_id"]) for r in lsh.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, recall
    assert all((q, q) in got for q in range(10))


def test_rhp_signature_deterministic(embeddings):
    sig = embeddings.limit(20).select(
        "vec_id", similarity.rhp_signature("embedding", 64, 8).alias("s")
    )
    a = sorted(map(tuple, sig.collect()))
    b = sorted(map(tuple, sig.collect()))
    assert a == b
    assert all(0 <= s < 2**8 for _, s in a)


def test_embedding_stats_normalized_corpus(spark, sf_dir):
    stats = QUERIES["q38_embedding_stats"](spark, sf_dir).limit(50).collect()
    for r in stats:
        assert r["dim"] == 64
        assert math.isclose(r["l2_norm"], 1.0, abs_tol=1e-4)


def test_ivf_knn_recall_vs_brute(embeddings):
    """IVF with generous probing must recover most of the true top-5; the
    self-pair always lands in the query's own best cell."""
    qs = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    brute = similarity.knn_join_brute(qs, embeddings, k=5)
    ivf = similarity.ivf_knn_join(
        qs, embeddings, dim=64, k=5, n_centroids=8, n_probes=4
    )
    truth = {(r["q_id"], r["vec_id"]) for r in brute.collect()}
    got = {(r["q_id"], r["vec_id"]) for r in ivf.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, recall
    assert all((q, q) in got for q in range(10))


def test_ivf_centroids_deterministic(embeddings):
    a = similarity.ivf_centroids(embeddings, n_centroids=4)
    b = similarity.ivf_centroids(embeddings, n_centroids=4)
    assert a == b
    for c in a:
        assert math.isclose(sum(x * x for x in c) ** 0.5, 1.0, rel_tol=1e-9)


def test_cosine_near_dup_finds_planted_pair(spark, embeddings):
    """Plant two near-identical vectors; the LSH near-dup pass must pair
    them (multi-table OR-construction makes a miss ~(theta/pi)^planes^tables
    -- negligible for a ~0 angle)."""
    base = [float(x) for x in embeddings.filter(F.col("vec_id") == 0).head()["embedding"]]
    tweaked = list(base)
    tweaked[0] += 1e-3
    planted = spark.createDataFrame(
        [(100001, base), (100002, tweaked)], "vec_id bigint, embedding array<double>"
    )
    corpus = embeddings.select("vec_id", "embedding").union(planted)
    pairs = similarity.cosine_near_dup_pairs(
        corpus, dim=64, threshold=0.99, n_planes=8, n_tables=2
    ).collect()
    assert any(
        {r["id_a"], r["id_b"]} >= {100001, 100002} or (r["id_a"], r["id_b"]) == (100001, 100002)
        for r in pairs
    )
    for r in pairs:
        assert r["cosine_sim"] >= 0.99


def test_vectorized_knn_matches_brute(embeddings):
    """The Arrow/numpy gemm path must produce the same neighbor sets as
    the JVM-expression brute path (values can differ in the last ulp at
    the 6dp rounding boundary, so compare sets and near-equal sims)."""
    qs = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    brute = {
        (r["q_id"], r["vec_id"]): r["cosine_sim"]
        for r in similarity.knn_join_brute(qs, embeddings, k=5).collect()
    }
    vec = {
        (r["q_id"], r["vec_id"]): r["cosine_sim"]
        for r in similarity.knn_join_vectorized(qs, embeddings, k=5).collect()
    }
    # Membership can only differ on exact score ties at rank k.
    only_b, only_v = set(brute) - set(vec), set(vec) - set(brute)
    assert len(only_b) <= 2 and len(only_v) <= 2, (only_b, only_v)
    for pair in set(brute) & set(vec):
        assert abs(brute[pair] - vec[pair]) < 2e-6, pair
    assert all((q, q) in vec for q in range(5))


def test_knn_vectorized_refuses_oversized_query_side(embeddings):
    """The collect-as-model posture must refuse rather than OOM the driver
    when the query side exceeds max_query_rows."""
    qs = embeddings.select(F.col("vec_id").alias("q_id"), "embedding")
    with pytest.raises(ValueError, match="lsh_knn_join"):
        similarity.knn_join_vectorized(qs, embeddings, k=3, max_query_rows=10)


def test_cosine_pairs_exact_refuses_oversized_corpus(embeddings):
    """All-pairs exact cosine is the O(n^2) verify stage; past max_rows it
    must refuse and point at the LSH path."""
    with pytest.raises(ValueError, match="cosine_near_dup_pairs"):
        similarity.cosine_pairs_exact(embeddings, max_rows=10)


def test_cosine_pairs_exact_small_corpus(embeddings):
    """Within the cap: symmetric dedup (id_a < id_b) and threshold filter."""
    pairs = similarity.cosine_pairs_exact(
        embeddings.filter(F.col("vec_id") < 30), threshold=0.3
    ).collect()
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert r["cosine_sim"] >= 0.3


def test_semantic_dedup_drops_planted_near_identical(spark, embeddings):
    """SemDeDup: a vector planted ~identical to an existing one is
    dropped (keeping the lower id); the corpus otherwise survives."""
    base = [float(x) for x in embeddings.filter(F.col("vec_id") == 7).head()["embedding"]]
    tweaked = list(base)
    tweaked[1] += 1e-4
    planted = spark.createDataFrame(
        [(200001, tweaked)], "vec_id bigint, embedding array<double>"
    )
    corpus = embeddings.select("vec_id", "embedding").union(planted)
    kept = {
        r["vec_id"]
        for r in similarity.semantic_dedup(corpus, threshold=0.999).collect()
    }
    assert 200001 not in kept
    assert 7 in kept
    assert len(kept) >= embeddings.count() - 5


def test_l2_normalize_arrow_fixed_and_ragged(spark):
    """mapInArrow normalization: normalized norm is 1.0 (norm_e6 of the
    OUTPUT vector == scale) on the fixed-dim fast path, and the ragged
    fallback produces identical results for the same vector."""
    from spark_lakehouse_medallion_pipeline_spark.operators.similarity import l2_normalize_arrow

    fixed = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in l2_normalize_arrow(fixed).collect()}
    assert out[1]["norm_e6"] == 5_000_000 and out[1]["dim"] == 2
    assert out[1]["packed"] == "600000,800000"  # (0.6, 0.8)
    assert out[2]["packed"] == "1000000,0"

    ragged = spark.createDataFrame(
        [(1, [3.0, 4.0]), (3, [2.0, 2.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    rout = {r["vec_id"]: r for r in l2_normalize_arrow(ragged).collect()}
    assert rout[1]["packed"] == out[1]["packed"]  # fallback == fast path
    assert rout[3]["norm_e6"] == 3_000_000 and rout[3]["dim"] == 3


def test_pq_knn_recall_vs_brute(embeddings):
    """ADC over 8-byte PQ codes + exact re-rank of 4x candidates must
    recover most of the true top-5; the self-pair must always survive
    (its ADC distance to itself is the subspace quantization floor,
    comfortably inside the refine window on this corpus)."""
    qs = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    brute = similarity.knn_join_brute(qs, embeddings, k=5)
    pq = similarity.pq_knn_join(qs, embeddings, k=5)
    truth = {(r["q_id"], r["vec_id"]) for r in brute.collect()}
    got = {(r["q_id"], r["vec_id"]) for r in pq.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.5, recall
    assert all((q, q) in got for q in range(10))


def test_pq_codebooks_deterministic_and_shaped(embeddings):
    b1 = similarity.pq_codebooks(embeddings, n_subspaces=8, n_codes=4)
    b2 = similarity.pq_codebooks(embeddings, n_subspaces=8, n_codes=4)
    assert b1 == b2
    assert len(b1) == 8 and len(b1[0]) == 4 and len(b1[0][0]) == 8


def test_pq_knn_refuses_oversized_query_side(embeddings):
    with pytest.raises(ValueError, match="broadcasts the query side"):
        similarity.pq_knn_join(
            embeddings.select(F.col("vec_id").alias("q_id"), "embedding"),
            embeddings,
            max_query_rows=10,
        )


def test_pq_codebooks_reject_indivisible_dim(embeddings):
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_codebooks(embeddings, n_subspaces=7)


def test_ivfpq_knn_recall_vs_brute(embeddings):
    """IVF-cell pruning stacked on PQ-ADC scoring: with 4 of 8 cells
    probed and 8x refine, the composite must keep most of the true
    top-5; every query's self-pair lives in its own top probe cell and
    must survive."""
    qs = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    brute = similarity.knn_join_brute(qs, embeddings, k=5)
    ivfpq = similarity.ivfpq_knn_join(qs, embeddings, k=5, n_centroids=8, n_probes=4)
    truth = {(r["q_id"], r["vec_id"]) for r in brute.collect()}
    got = {(r["q_id"], r["vec_id"]) for r in ivfpq.collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.4, recall
    assert all((q, q) in got for q in range(10))


def test_pca_fit_matches_numpy(embeddings):
    import numpy as np

    model = similarity.pca_fit(embeddings, k=4)
    rows = embeddings.select("vec_id", "embedding").collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    cov = np.cov(X, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:4]
    np.testing.assert_allclose(
        model["explained_var"], vals[order], rtol=1e-5, atol=1e-7
    )
    for got, j in zip(model["components"], order):
        v = vecs[:, j]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v  # same sign convention as pca_fit
        np.testing.assert_allclose(got, v, rtol=1e-4, atol=1e-6)
    # variance must be sorted descending (top components first)
    ev = model["explained_var"]
    assert all(a >= b for a, b in zip(ev, ev[1:]))


def test_pca_project_reduces_and_centers(embeddings):
    import numpy as np

    model = similarity.pca_fit(embeddings, k=3)
    proj = similarity.pca_project(embeddings, model, id_col="vec_id").collect()
    assert {len(r["pca"]) for r in proj} == {3}
    P = np.array([r["pca"] for r in proj])
    # projections of centered data onto orthonormal axes have ~zero mean
    np.testing.assert_allclose(P.mean(axis=0), 0.0, atol=1e-6)
    # per-axis variance equals the eigenvalue it came from
    np.testing.assert_allclose(
        P.var(axis=0), model["explained_var"][:3], rtol=1e-5, atol=1e-7
    )


def test_portable_ivf_model_matches_default_semantics(spark, embeddings):
    """The portable IVF mode (q45/q96's oracle-replayable index) must
    keep the operator semantics: planted near-identical vector still
    dropped by semantic_dedup, self-pairs still recovered by
    ivf_knn_join, and the portable centroid components sit exactly on
    the e6 grid (the property the SQL oracle rebuild relies on)."""
    cents = similarity.ivf_centroids(embeddings, n_centroids=4, portable=True)
    for c in cents:
        for x in c:
            assert abs(round(x * 1e6) - x * 1e6) < 1e-9, x

    base = [float(x) for x in embeddings.filter(F.col("vec_id") == 7).head()["embedding"]]
    tweaked = list(base)
    tweaked[1] += 1e-4
    planted = spark.createDataFrame(
        [(200001, tweaked)], "vec_id bigint, embedding array<double>"
    )
    corpus = embeddings.select("vec_id", "embedding").union(planted)
    kept = {
        r["vec_id"]
        for r in similarity.semantic_dedup(corpus, threshold=0.999).collect()
    }
    assert 200001 not in kept and 7 in kept

    qs = embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    got = {
        (r["q_id"], r["vec_id"])
        for r in similarity.ivf_knn_join(
            qs, embeddings, dim=64, k=5, n_centroids=8, n_probes=4
        ).collect()
    }
    assert all((q, q) in got for q in range(10))


# ---------------------------------------------------------------------------
# Integer power-iteration PCA (q198)
# ---------------------------------------------------------------------------


def test_power_iteration_converges_on_anisotropic_data(spark):
    """On a planted dominant direction the 3-round integer power
    iteration must agree with numpy's exact eigh: cosine of the
    recovered direction > 0.999, and the per-row scores must rank
    identically to the true centered PC1 projection."""
    import numpy as np

    rng = np.random.default_rng(42)
    n = 400
    t = rng.normal(0.0, 1000.0, n)  # dominant axis, var ~1e6
    rows = [
        (
            int(i),
            int(round(3 * t[i] + rng.normal(0, 5))),
            int(round(-2 * t[i] + rng.normal(0, 5))),
            int(round(1 * t[i] + rng.normal(0, 5))),
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, x1 long, x2 long, x3 long")
    out = similarity.power_iteration_top1_int(
        df, "id", ["x1", "x2", "x3"], rounds=3
    )
    scores = {r["id"]: r["pc1_score"] for r in out.collect()}

    X = np.array([r[1:] for r in rows], dtype=np.float64)
    C = np.cov(X.T, bias=True)
    _, evecs = np.linalg.eigh(C)
    pc1 = evecs[:, -1]
    true_proj = (X - X.mean(0)) @ pc1
    ours = np.array([scores[i] for i in range(n)], dtype=np.float64)
    corr = np.corrcoef(ours, true_proj)[0, 1]
    assert abs(corr) > 0.999, f"|corr|={abs(corr)}"


def test_power_iteration_edge_cases(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, 5, 7)], "id long, x1 long, x2 long")
    # single row: centered Gram is all zero -> v collapses to 0 -> score 0
    out = similarity.power_iteration_top1_int(df, "id", ["x1", "x2"]).collect()
    assert out[0]["pc1_score"] == 0
    empty = df.filter("id < 0")
    with _pytest.raises(ValueError, match="empty"):
        similarity.power_iteration_top1_int(empty, "id", ["x1", "x2"])
    with _pytest.raises(ValueError, match="rounds"):
        similarity.power_iteration_top1_int(df, "id", ["x1"], rounds=0)
    with _pytest.raises(ValueError, match="feature column"):
        similarity.power_iteration_top1_int(df, "id", [])


def test_power_iteration_projection_shuffle_budget(spark):
    """The returned plan must be the q191 shape: the per-id projection
    adds NO exchange beyond the feature aggregate itself (direction is
    a driver-side model inlined as literals)."""
    df = spark.createDataFrame(
        [(i, i * 10, i % 7) for i in range(50)], "id long, x1 long, x2 long"
    )
    feats = df.groupBy("id").agg(
        F.sum("x1").alias("f1"), F.sum("x2").alias("f2")
    )
    out = similarity.power_iteration_top1_int(feats, "id", ["f1", "f2"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1, plan


# ---------------------------------------------------------------------------
# Integer-exact PQ codes (q201)
# ---------------------------------------------------------------------------


def test_pq_codes_int_separates_planted_clusters(spark):
    """Vectors planted in 4 well-separated groups (the same offset
    pattern in every subspace) must encode to 4 distinct code tuples,
    with identical vectors always sharing a tuple, and the whole
    train+encode must be deterministic across runs."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    for i in range(80):
        g = i % 4
        base = np.full(64, g * 0.2 - 0.3)
        rows.append((i, (base + rng.normal(0, 0.005, 64)).astype(float).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.pq_codes_int(
        df, n_subspaces=4, sub_dim=16, n_codes=4, rounds=2
    )
    codes = {r["vec_id"]: (r["code_s0"], r["code_s1"], r["code_s2"], r["code_s3"])
             for r in out.collect()}
    by_group = {}
    for i, c in codes.items():
        by_group.setdefault(i % 4, set()).add(c)
    # every planted group collapses to ONE code tuple, all distinct
    assert all(len(s) == 1 for s in by_group.values()), by_group
    tuples = {next(iter(s)) for s in by_group.values()}
    assert len(tuples) == 4, tuples
    again = {r["vec_id"]: (r["code_s0"], r["code_s1"], r["code_s2"], r["code_s3"])
             for r in similarity.pq_codes_int(
                 df, n_subspaces=4, sub_dim=16, n_codes=4, rounds=2
             ).collect()}
    assert again == codes


def test_pq_codes_int_edge_cases(spark):
    import pytest as _pytest

    small = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="need >= 4"):
        similarity.pq_codes_int(small, n_codes=4, rounds=2)
    bad_dim = spark.createDataFrame(
        [(1, [0.1] * 32)], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="dim"):
        similarity.pq_codes_int(bad_dim, n_subspaces=4, sub_dim=16)
    with _pytest.raises(ValueError, match="rounds"):
        similarity.pq_codes_int(small, rounds=0)
    with _pytest.raises(ValueError, match="empty"):
        similarity.pq_codes_int(small.filter("vec_id < 0"))


def test_pq_codes_int_encode_shuffle_free(spark):
    """The returned encode plan is the q191 assignment shape: argmin
    folds over literal codebooks on the checkpointed points — no
    exchange at all."""
    df = spark.createDataFrame(
        [(i, [float(i % 5)] * 64) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    out = similarity.pq_codes_int(df, n_subspaces=4, sub_dim=16, n_codes=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0, plan


def test_pq_codes_int_rejects_null_and_wrong_dim(spark):
    import pytest as _pytest

    rows = [(i, [0.1] * 64) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    nulled = df.selectExpr(
        "vec_id", "CASE WHEN vec_id = 7 THEN NULL ELSE embedding END AS embedding"
    )
    with _pytest.raises(ValueError, match="NULL or non-64-dim"):
        similarity.pq_codes_int(nulled, n_subspaces=4, sub_dim=16)
    short = df.selectExpr(
        "vec_id",
        "CASE WHEN vec_id = 3 THEN slice(embedding, 1, 10) ELSE embedding END AS embedding",
    )
    with _pytest.raises(ValueError, match="NULL or non-64-dim"):
        similarity.pq_codes_int(short, n_subspaces=4, sub_dim=16)
