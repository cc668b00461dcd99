"""Similarity search and embeddings: exact and approximate k-NN, cosine near-
duplicates, quantization, PCA, k-means and rank fusion."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators import clustering, similarity
from spark_lakehouse_medallion_pipeline_spark.operators.similarity import (
    _hyperplane_comps,
)
from spark_lakehouse_medallion_pipeline_spark.queries._common import (
    SC,
    S_FLOOR,
    _q,
    _t,
    floor_round,
)


@_q(
    "q36_knn_vec0",
    f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           {S_FLOOR("list_cosine_similarity(e.embedding::DOUBLE[], q.v)", 6)} AS cosine_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """,
)
def q36_knn_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (X19 baseline): one corpus scan, per-
    partition heap (TakeOrderedAndProject). Query vector looked up first
    (tiny collect of one row — the query, not the corpus). floor-round at
    6dp absorbs engine-internal summation-order ulps."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    q = F.array(*[F.lit(v) for v in qvec])
    scored = emb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        floor_round(similarity.cosine(F.col("embedding"), q), 6).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.col("vec_id")).limit(10)


def _rhp_bucket_sql(dim: int, n_planes: int, table: int) -> str:
    """DuckDB expression replaying the engine's RHP bucket id for one
    plane table: the hyperplanes are DETERMINISTIC blake2b-derived
    floats (similarity._hyperplane_comps), so the oracle inlines them
    as literal arrays — the same candidate-pinning move that
    value-oracled q162/q183 (portable hashes instead of engine-side
    randomness). Sign of <v, plane> is ulp-stable across engines for
    real embeddings (|dot| ~ 1e-16 is measure-zero; the engine-side
    gemm is float64 like list_inner_product)."""
    terms = []
    for i in range(n_planes):
        arr = "[" + ", ".join(repr(c) for c in _hyperplane_comps(dim, i, table)) + "]"
        terms.append(
            f"(CASE WHEN list_inner_product(e, {arr}) >= 0.0"
            f" THEN {2 ** i} ELSE 0 END)"
        )
    return " + ".join(terms)


def _q37_oracle() -> str:
    """q37's oracle, built at import: replay the 8-plane RHP bucketing
    with the engine's deterministic blake2b hyperplanes inlined as
    literals (the q44 move), including the Hamming-1 multi-probe on the
    query side (own bucket UNION ALL the 8 single-bit flips — probe
    buckets are pairwise distinct within a query, so no dedup needed
    before the per-(q_id, vec_id) MAX that collapses multi-probe hits)."""
    bucket = _rhp_bucket_sql(64, 8, 0)
    flips = ", ".join(f"({2 ** i})" for i in range(8))
    return f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), csig AS (
      SELECT vec_id, e, {bucket} AS bucket FROM v
    ), qsig AS (
      SELECT vec_id AS q_id, e AS qe, bucket
      FROM csig WHERE vec_id < 5
    ), probes AS (
      SELECT q_id, qe, bucket FROM qsig
      UNION ALL
      SELECT q_id, qe, xor(bucket, p) FROM qsig, (VALUES {flips}) t(p)
    ), scored AS (
      SELECT p.q_id, c.vec_id,
             {S_FLOOR("list_cosine_similarity(c.e, p.qe)", 6)} AS cosine_sim
      FROM csig c JOIN probes p ON c.bucket = p.bucket
    ), dd AS (
      SELECT q_id, vec_id, MAX(cosine_sim) AS cosine_sim
      FROM scored GROUP BY q_id, vec_id
    )
    SELECT q_id, vec_id, cosine_sim FROM (
      SELECT q_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine_sim DESC, vec_id) AS rn
      FROM dd) z
    WHERE rn <= 5
    """


@_q("q37_lsh_knn_join", _q37_oracle())
def q37_lsh_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN k-NN join via random-hyperplane LSH (X19 scale path): bucket
    join instead of cross join; recall vs brute force asserted in tests.
    Value-oracled since round 7 (the q44 literal-planes move + the
    operator's floor6 similarity): bucketing, Hamming-1 multi-probe, and
    top-5 scores all hash-compare against the SQL replay."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.lsh_knn_join(queries, emb, dim=64, k=5, n_planes=8)


@_q(
    "q38_embedding_stats",
    f"""
    SELECT vec_id,
           len(embedding) AS dim,
           {S_FLOOR("sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))", 6)} AS l2_norm,
           {S_FLOOR("embedding[1]::DOUBLE", 6)} AS first_component
    FROM embeddings
    """,
)
def q38_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-array multimodal column ops (X21): dim, norm, element access."""
    v = F.col("embedding")
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.size(v).alias("dim"),
        floor_round(similarity.l2_norm(v), 6).alias("l2_norm"),
        floor_round(F.element_at(v, 1).cast("double"), 6).alias("first_component"),
    )


@_q(
    "q43_cosine_pairs_exact",
    f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 200
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {S_FLOOR("list_cosine_similarity(a.v, b.v)", 6)} AS cosine_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {S_FLOOR("list_cosine_similarity(a.v, b.v)", 6)} >= 0.3
    """,
)
def q43_cosine_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup kernel, oracled on a capped slice
    (all-pairs is the O(n^2) verify stage; the scale path is the LSH
    variant below). floor-round at 6dp absorbs summation-order ulps.
    Delegates to operators.similarity.cosine_pairs_exact, whose max_rows
    guard refuses un-capped inputs — the vec_id filter here is what keeps
    this O(n^2) stage bounded at any sf."""
    return similarity.cosine_pairs_exact(
        _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200),
        threshold=0.3,
    )


@_q(
    "q44_cosine_near_dup_lsh",
    f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), sig AS (
      SELECT vec_id, e, 0 AS tbl, {_rhp_bucket_sql(64, 6, 0)} AS bucket FROM v
      UNION ALL
      SELECT vec_id, e, 1 AS tbl, {_rhp_bucket_sql(64, 6, 1)} AS bucket FROM v
    ), pr AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {S_FLOOR("list_cosine_similarity(a.e, b.e)", 6)} AS cosine_sim
      FROM sig a JOIN sig b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, MAX(cosine_sim) AS cosine_sim
    FROM pr WHERE cosine_sim >= 0.3
    GROUP BY id_a, id_b
    """,
)
def q44_cosine_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup at scale: RHP-LSH buckets block the
    corpus (never a cross join), exact cosine inside buckets. Random
    corpus has no true dups, so the demo threshold is low; recall on
    planted near-dups is asserted in tests/test_similarity.py.
    Value-oracled since round 7: the hyperplanes are deterministic
    literals the oracle replays (_rhp_bucket_sql) and the operator
    rounds the similarity with the cross-engine floor6 idiom instead of
    Spark HALF_UP rounding, so bucketing AND scores hash-compare
    exactly — the q189 cosine discipline applied to the LSH path."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs(
        emb, dim=64, threshold=0.3, n_planes=6, n_tables=2
    )


def _ivf_oracle_cells(n_centroids: int) -> str:
    """Shared oracle CTEs rebuilding the PORTABLE IVF model from data
    (q45/q96): centroid sample ordered by the portable 60-bit md5 hash,
    components e6-quantized exactly as ivf_centroids(portable=True)
    computes them driver-side (math.sqrt == SQL sqrt, Python sequential
    sum == list_reduce — IEEE-identical; the e6 FLOOR absorbs any
    remaining ulp), then every vector assigned to its argmax-dot cell
    with the engine's larger-cid tie-break (array_max over (score, cid)
    structs)."""
    return f"""
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), sel AS (
      SELECT vec_id, e,
             row_number() OVER (
               ORDER BY ('0x' || substr(md5(vec_id::VARCHAR), 2, 15))::BIGINT,
                        vec_id) AS rk
      FROM v
    ), cents AS (
      SELECT CAST(rk - 1 AS INT) AS cid,
             list_transform(e, x -> FLOOR(x / sqrt(list_reduce(
                 list_transform(e, y -> y*y), (a,b) -> a+b))
                 * 1000000.0 + 0.5) / 1000000.0) AS c
      FROM sel WHERE rk <= {n_centroids}
    ), cscore AS (
      SELECT v.vec_id, v.e, cents.cid,
             list_inner_product(v.e, cents.c) AS score
      FROM v CROSS JOIN cents
    ), ranked AS (
      SELECT vec_id, e, cid,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY score DESC, cid DESC) AS rn
      FROM cscore
    ), ccell AS (
      SELECT vec_id, e, cid AS cell FROM ranked WHERE rn = 1
    )"""


@_q(
    "q45_ivf_knn",
    f"""
    WITH {_ivf_oracle_cells(16)}, qprobe AS (
      SELECT vec_id AS q_id, e AS qe, cid AS cell
      FROM ranked WHERE vec_id < 5 AND rn <= 4
    ), scored AS (
      SELECT p.q_id, c.vec_id,
             {S_FLOOR("list_cosine_similarity(c.e, p.qe)", 6)} AS cosine_sim
      FROM ccell c JOIN qprobe p ON c.cell = p.cell
    )
    SELECT q_id, vec_id, cosine_sim FROM (
      SELECT q_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cosine_sim DESC, vec_id) AS rn
      FROM scored) z
    WHERE rn <= 5
    """,
)
def q45_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN k-NN join (X19 scale path #2): nearest-centroid cells,
    n_probes cell probes per query, exact cosine inside probed cells.
    Value-oracled since round 7: the operator's portable centroid
    selection (md5 sample order) + e6-quantized centroid components
    let the oracle rebuild the exact index from the data and replay cell
    assignment, the 4-cell probe, and the floor6 top-5
    (_ivf_oracle_cells)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.ivf_knn_join(
        queries, emb, dim=64, k=5, n_centroids=16, n_probes=4
    )


@_q(
    "q50_knn_vectorized",
    f"""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5)
    SELECT q_id, vec_id, cosine_sim FROM (
      SELECT q.q_id, e.vec_id,
             {S_FLOOR("list_cosine_similarity(e.embedding::DOUBLE[], q.v)", 6)} AS cosine_sim,
             row_number() OVER (
               PARTITION BY q.q_id
               ORDER BY {S_FLOOR("list_cosine_similarity(e.embedding::DOUBLE[], q.v)", 6)} DESC,
                        e.vec_id
             ) AS rn
      FROM embeddings e, q
    ) WHERE rn <= 5
    """,
)
def q50_knn_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN join on the Arrow/numpy gemm path (X16+X19): per-batch
    BLAS matmul + batch-local top-k inside mapInPandas, window-reduced.
    Same semantics as the JVM brute join; this is the hot-path design
    for dense-vector math at scale (interpreted zip_with dot products
    measured ~10x slower per element)."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    return similarity.knn_join_vectorized(qs, emb, k=5)


@_q(
    "q78_embedding_quantization",
    """
    SELECT label, COUNT(*) AS n,
           CAST(SUM(mse_e9) AS DOUBLE) / COUNT(*) / 1e9 AS avg_mse,
           MAX(mx) AS max_abs
    FROM (
      SELECT label, mx,
             CAST(FLOOR(
               list_aggregate(
                 list_transform(xd, x -> (x - FLOOR(x*127.0/mx + 0.5)*mx/127.0)
                                         * (x - FLOOR(x*127.0/mx + 0.5)*mx/127.0)),
                 'sum') / len(xd) * 1e9 + 0.5) AS BIGINT) AS mse_e9
      FROM (
        SELECT label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd,
               list_aggregate(list_transform(embedding,
                              x -> abs(CAST(x AS DOUBLE))), 'max') AS mx
        FROM embeddings
      ) WHERE mx > 0
    )
    GROUP BY label
    """,
)
def q78_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of embeddings (the standard 4x
    compression for 100 TB vector stores) + reconstruction-error audit.
    Quantize = FLOOR(x*127/max_abs + 0.5) — pure integer-valued doubles,
    bit-stable on both engines; per-vector MSE is a left-to-right fold in
    both (identical summation order), snapped to exact 1e-9 grid before
    the cross-row average so group aggregation is order-insensitive.
    Entirely JVM-side array lambdas: no UDF, no shuffle before the tiny
    label aggregate."""
    emb = _t(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    mx = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double"))))
    dq = lambda x: F.floor(x * 127.0 / F.col("mx") + 0.5) * F.col("mx") / 127.0  # noqa: E731
    sq_err = F.aggregate(
        F.transform(F.col("xd"), lambda x: (x - dq(x)) * (x - dq(x))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        emb.select("label", xd.alias("xd"), mx.alias("mx"))
        .filter(F.col("mx") > 0)
        .select(
            "label",
            "mx",
            F.floor(sq_err / F.size("xd") * 1e9 + F.lit(0.5)).cast("long").alias("mse_e9"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("mse_e9").cast("double") / F.count(F.lit(1)) / F.lit(1e9)).alias("avg_mse"),
            F.max("mx").alias("max_abs"),
        )
    )


@_q("q140_pq_knn")  # compressed-scan ADC ANN; recall checked in pytest
def q140_pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN k-NN join (X19 scale path #4, Jegou et al. TPAMI 2011):
    Lloyd-refined per-subspace codebooks, asymmetric-distance scan over
    4-byte codes, exact cosine re-rank of refine*k candidates joined
    back by id. Rows-only (float F.avg codebook refinement is
    partial-aggregation-order dependent); the TRAINING+ENCODE half of
    the pipeline is value-oracled since round 8 via the integer-exact
    twin q201 (similarity.pq_codes_int); recall vs brute force pinned
    in tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.pq_knn_join(queries, emb, k=5)


@_q("q143_ivfpq_knn")  # cell-pruned + code-compressed ANN; recall in pytest
def q143_ivfpq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (X19 scale path #5): IVF cells prune which
    rows are scored, PQ codes shrink what each scored row reads, exact
    re-rank by id join-back — the billion-scale index layout. Rows-only
    (float codebooks, see q140 — the PQ train+encode math itself is
    value-oracled as q201); recall vs brute force pinned in
    tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.ivfpq_knn_join(queries, emb, k=5, n_centroids=8, n_probes=4)


@_q(
    "q153_ann_rerank",
    f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT q.q_id, e.vec_id,
             {S_FLOOR("list_cosine_similarity(e.embedding::DOUBLE[], q.v)", 6)}
               AS cosine_sim
      FROM embeddings e, q
      WHERE (e.vec_id * 2654435761) % 97 < 25
    )
    SELECT q_id, vec_id, cosine_sim FROM scored
    QUALIFY row_number() OVER (
      PARTITION BY q_id ORDER BY cosine_sim DESC, vec_id
    ) <= 5
    """,
)
def q153_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-oracle for the exact re-rank stage every ANN path shares
    (operators.similarity.exact_rerank — the tail of q37/q45/q140/q143,
    whose candidate GENERATORS are engine-side and hence rows-only):
    candidates are pinned by a deterministic, SQL-expressible
    multiplicative-hash sample (Knuth 2654435761 mod 97, ~26% of the
    corpus — standing in for an ADC/cell-probe survivor set), then
    joined back to full-precision vectors by id, floor-rounded cosine,
    bounded top-k window per query. DuckDB reproduces candidate set,
    scores, and ranking end-to-end, so the stage's values — not just
    its row count — are hash-checked."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    sampled = emb.filter((F.col("vec_id") * F.lit(2654435761)) % 97 < 25)
    cand = sampled.select("vec_id").crossJoin(F.broadcast(queries.select("q_id")))
    return similarity.exact_rerank(cand, queries, emb, k=5)


@_q("q156_pca_project")  # eigendecomposition is float/driver-side; rows-only + pytest
def q156_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA dimensionality reduction (embedding-table
    preprocessing ahead of ANN indexing / SemDeDup): tall-skinny fit —
    per-batch Arrow partials of (count, sum, gram), map-combined
    position-wise reduction (d + d^2 groups, the model not the data),
    driver-side d x d eigh — then an Arrow-gemm projection of every
    vector to 8 components (operators.similarity.pca_fit/pca_project).
    Rows-only, and structurally so: LAPACK eigh's pivoting/rotation
    order is not reproducible in SQL, and the integer-power-iteration
    escape hatch that value-oracled the other iterative ops (q188/
    q191/q192, and PCA itself as q198) cannot converge on THIS corpus
    — the synthetic embeddings are near-isotropic (lambda2/lambda1 ~
    0.99 measured at sf0.01/0.1), so separating 8 components needs the
    full eigh. q198 runs the oracled power-iteration form on an
    anisotropic feature matrix instead; here, variance capture and
    agreement with numpy's full PCA are pinned in
    tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    model = similarity.pca_fit(emb, k=8)
    return similarity.pca_project(emb, model, id_col="vec_id")


@_q(
    "q183_ann_recall_eval",
    f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.q_id, e.vec_id,
             {S_FLOOR("list_cosine_similarity(e.embedding::DOUBLE[], q.qv)", 6)}
               AS sim,
             ('0x' || substr(md5(CAST(e.vec_id AS VARCHAR)), 18, 15))::BIGINT
               % 4 = 0 AS sampled
      FROM embeddings e, q WHERE e.vec_id <> q.q_id
    ), ex AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY sim DESC, vec_id) AS rn
        FROM scored) z
      WHERE rn <= 10
    ), ca AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY sim DESC, vec_id) AS rn
        FROM scored WHERE sampled) z
      WHERE rn <= 10
    )
    SELECT ex.q_id, CAST(COUNT(ca.vec_id) AS BIGINT) AS n_hits,
           CAST(COUNT(ca.vec_id) * 10 AS BIGINT) AS recall_pct
    FROM ex LEFT JOIN ca ON ca.q_id = ex.q_id AND ca.vec_id = ex.vec_id
    GROUP BY ex.q_id
    """,
)
def q183_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality EVALUATION harness — recall@10 of a candidate-set
    retrieval against the exact brute-force top-10, the metric every
    production ANN deployment must report before trusting an index.
    The candidate set here is the deterministic portable-md5 25%
    sample (so the whole evaluation value-oracles end to end: sampling,
    scoring, both rankings, and the recall join are replayed in SQL);
    swapping the sample for any engine-side index (IVF/PQ/LSH) reuses
    the same harness — that variant is recall-pytested instead
    (tests/test_similarity.py). Cosine floor-rounded at 6dp with
    vec_id tie-break: identical top-k SETS on both engines, making
    the recall metric integer-exact."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            floor_round(
                similarity.cosine(F.col("embedding"), F.col("qv")), 6
            ).alias("sim"),
            (
                F.conv(
                    F.substring(F.md5(F.col("vec_id").cast("string")), 18, 15),
                    16,
                    10,
                ).cast("bigint")
                % 4
                == 0
            ).alias("sampled"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    ex = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("q_id", "vec_id")
    )
    ca = (
        scored.filter("sampled")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("q_id", "vec_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        ex.join(ca, ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"))
        .select(
            "q_id", "n_hits", (F.col("n_hits") * 10).alias("recall_pct")
        )
    )


@_q(
    "q189_rrf_fusion",
    f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.q_id, e.vec_id,
             {S_FLOOR("list_cosine_similarity(e.embedding::DOUBLE[], q.qv)", 6)}
               AS cos_sim,
             {S_FLOOR("list_inner_product(e.embedding::DOUBLE[], q.qv)", 6)}
               AS dot_sim
      FROM embeddings e, q WHERE e.vec_id <> q.q_id
    ), ranked AS (
      SELECT q_id, vec_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos_sim DESC, vec_id) AS rank_cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY dot_sim DESC, vec_id) AS rank_dot
      FROM scored
    ), fused AS (
      SELECT q_id, vec_id,
             CAST(1000000 // (60 + rank_cos) + 1000000 // (60 + rank_dot)
                  AS BIGINT) AS rrf_score_e6
      FROM ranked
    )
    SELECT q_id, vec_id, rrf_score_e6 FROM (
      SELECT q_id, vec_id, rrf_score_e6,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY rrf_score_e6 DESC, vec_id) AS rn
      FROM fused) z
    WHERE rn <= 10
    """,
)
def q189_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings (cosine and raw
    inner product) — the standard way hybrid search merges rankers
    without score calibration (RRF, Cormack 2009): fused score =
    sum over rankers of 1/(60+rank). Held integer-exact by flooring
    each reciprocal at e6 BEFORE summing (both engines truncate
    1000000//(60+rank) identically; float reciprocals could ulp-drift
    at equal-score boundaries). Ranks themselves are deterministic via
    the floor6 similarity + vec_id tie-break (the q36/q183
    discipline). One scored pass feeds both rankings — two windows
    over the same shuffle, no second scan."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            floor_round(
                similarity.cosine(F.col("embedding"), F.col("qv")), 6
            ).alias("cos_sim"),
            floor_round(
                similarity.dot(F.col("embedding"), F.col("qv")), 6
            ).alias("dot_sim"),
        )
    )
    w_cos = Window.partitionBy("q_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    w_dot = Window.partitionBy("q_id").orderBy(
        F.desc("dot_sim"), F.asc("vec_id")
    )
    fused = scored.select(
        "q_id",
        "vec_id",
        F.row_number().over(w_cos).alias("rank_cos"),
        F.row_number().over(w_dot).alias("rank_dot"),
    ).select(
        "q_id",
        "vec_id",
        F.expr(
            "CAST(1000000 div (60 + rank_cos) + 1000000 div (60 + rank_dot)"
            " AS BIGINT)"
        ).alias("rrf_score_e6"),
    )
    w_f = Window.partitionBy("q_id").orderBy(
        F.desc("rrf_score_e6"), F.asc("vec_id")
    )
    return (
        fused.withColumn("rn", F.row_number().over(w_f))
        .filter(F.col("rn") <= 10)
        .select("q_id", "vec_id", "rrf_score_e6")
    )


@_q(
    "q191_kmeans_spend_segments",
    """
    WITH pts AS (
      SELECT o_custkey AS id,
             CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) // 100
                  AS BIGINT) AS x,
             CAST(COUNT(*) * 1000000 AS BIGINT) AS y
      FROM orders GROUP BY o_custkey
    ), c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cid,
             x AS cx, y AS cy
      FROM (SELECT id, x, y FROM pts ORDER BY id LIMIT 4) s
    ), a1 AS (
      SELECT id, x, y, cid FROM (
        SELECT p.id, p.x, p.y, c.cid,
               row_number() OVER (PARTITION BY p.id
                 ORDER BY (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy),
                          c.cid) AS rn
        FROM pts p CROSS JOIN c0 c) z WHERE rn = 1
    ), u1 AS (
      SELECT cid, CAST(SUM(x) // COUNT(*) AS BIGINT) AS cx,
             CAST(SUM(y) // COUNT(*) AS BIGINT) AS cy
      FROM a1 GROUP BY cid
    ), c1 AS (
      SELECT c0.cid, COALESCE(u1.cx, c0.cx) AS cx, COALESCE(u1.cy, c0.cy) AS cy
      FROM c0 LEFT JOIN u1 ON u1.cid = c0.cid
    ), a2 AS (
      SELECT id, x, y, cid FROM (
        SELECT p.id, p.x, p.y, c.cid,
               row_number() OVER (PARTITION BY p.id
                 ORDER BY (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy),
                          c.cid) AS rn
        FROM pts p CROSS JOIN c1 c) z WHERE rn = 1
    ), u2 AS (
      SELECT cid, CAST(SUM(x) // COUNT(*) AS BIGINT) AS cx,
             CAST(SUM(y) // COUNT(*) AS BIGINT) AS cy
      FROM a2 GROUP BY cid
    ), c2 AS (
      SELECT c1.cid, COALESCE(u2.cx, c1.cx) AS cx, COALESCE(u2.cy, c1.cy) AS cy
      FROM c1 LEFT JOIN u2 ON u2.cid = c1.cid
    ), af AS (
      SELECT id, cid FROM (
        SELECT p.id, c.cid,
               row_number() OVER (PARTITION BY p.id
                 ORDER BY (p.x-c.cx)*(p.x-c.cx)+(p.y-c.cy)*(p.y-c.cy),
                          c.cid) AS rn
        FROM pts p CROSS JOIN c2 c) z WHERE rn = 1
    )
    SELECT af.id, af.cid, c2.cx, c2.cy FROM af JOIN c2 ON c2.cid = af.cid
    """,
)
def q191_kmeans_spend_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segmentation by k-means (k=4, 2 Lloyd rounds) over the
    per-customer spend profile — x = lifetime spend in exact integer
    dollars, y = order count scaled to comparable magnitude — the
    mixture-balancing / embedding-bucketing assignment step a
    training-data pipeline runs. Exact integer arithmetic (truncating
    integer-divide means — Spark ``div``/DuckDB ``//`` trunc toward
    zero, which differs from floor for negative coordinate sums — plus
    integer squared distances, smallest-id seeds, smallest-cid
    tie-break) makes the fixed iteration count BIT-IDENTICAL across
    engines, so the classic iterative-ML loop value-oracles as unrolled
    CTEs (the q188 LPA discipline). Scale shape: the k centroids are a
    bounded driver-side model inlined as literals, so ASSIGNMENT IS
    SHUFFLE-FREE (an argmin fold inside codegen); per round the only
    shuffle is one map-side-combined k-row aggregate — never a join or
    window over the point set (operators.clustering.kmeans_int_2d).
    Dollars not cents for x so squared distances stay far inside int64
    at any SF (the stratified-sample overflow lesson)."""
    pts = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("id"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) div 100"
                " AS BIGINT)"
            ).alias("x"),
            (F.count(F.lit(1)) * F.lit(1000000)).cast("long").alias("y"),
        )
    )
    return clustering.kmeans_int_2d(pts, k=4, rounds=2)


def _pow_round_ctes(r: int) -> str:
    """One max-norm power-iteration round as oracle CTEs: mat-vec on the
    centered Gram, max-|w| normalizer (sqrt-free), truncating divide."""
    return f"""
    w{r} AS (SELECT gc.j, SUM(gc.g * v{r - 1}.v) AS w
             FROM gc JOIN v{r - 1} ON v{r - 1}.j = gc.k GROUP BY gc.j),
    m{r} AS (SELECT GREATEST(MAX(ABS(w)), 1) AS m FROM w{r}),
    v{r} AS (SELECT j, (w * 1000000) // m AS v FROM w{r} CROSS JOIN m{r})"""


_PCA_POWER_SQL = (
    f"""
    WITH f AS (
      SELECT o_custkey AS custkey,
             CAST(SUM({SC("o_totalprice")}) // 100 AS BIGINT) AS x1,
             CAST(COUNT(*) * 1000 AS BIGINT) AS x2,
             CAST(MAX({SC("o_totalprice")}) // 100 AS BIGINT) AS x3,
             CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN 1000 ELSE 0 END) AS BIGINT) AS x4
      FROM orders GROUP BY o_custkey
    ),
    q AS (
      SELECT custkey, j,
             CAST(CASE j WHEN 1 THEN x1 WHEN 2 THEN x2
                         WHEN 3 THEN x3 ELSE x4 END AS HUGEINT) AS e
      FROM f CROSS JOIN (SELECT unnest(range(1, 5)) AS j)
    ),
    nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM f),
    s AS (SELECT j, SUM(e) AS s FROM q GROUP BY j),
    g AS (SELECT a.j AS j, b.j AS k, SUM(a.e * b.e) AS g
          FROM q a JOIN q b USING (custkey) GROUP BY a.j, b.j),
    gc AS (SELECT g.j, g.k, nn.n * g.g - sa.s * sb.s AS g
           FROM g CROSS JOIN nn
           JOIN s sa ON sa.j = g.j JOIN s sb ON sb.j = g.k),
    v0 AS (SELECT unnest(range(1, 5)) AS j, CAST(1000000 AS HUGEINT) AS v),"""
    + ",".join(_pow_round_ctes(r) for r in (1, 2, 3))
    + """
    ,
    sgn AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS s
            FROM v3 ORDER BY ABS(v) DESC, j ASC LIMIT 1),
    vf AS (SELECT j, v * sgn.s AS v FROM v3 CROSS JOIN sgn)
    SELECT q.custkey, CAST(SUM(q.e * vf.v) AS BIGINT) AS pc1_score
    FROM q JOIN vf ON vf.j = q.j GROUP BY q.custkey
    """
)


@_q("q198_pca_power_customers", _PCA_POWER_SQL)
def q198_pca_power_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-principal-direction score per customer — PCA's power
    iteration made VALUE-ORACLE-ABLE (VERDICT r7 Next #4): 3 max-norm
    rounds on the centered Gram of a 4-feature customer matrix
    (lifetime spend $, order count, largest order $, urgent-order
    count — the latter three scaled x1000 so no feature is pure noise
    at int resolution), all in exact integer arithmetic
    (similarity.power_iteration_top1_int). The oracle unrolls the
    iteration: n*G - S*S^T centered-Gram CTE, three mat-vec +
    max-|w| + truncating-divide rounds, largest-|coordinate| sign fix,
    then the uncentered integer projection — bit-identical because
    every step is integer (+,*,trunc-div,max,abs), sqrt-free by using
    the max norm instead of L2. Unlike the embeddings corpus
    (lambda2/lambda1 ~ 0.99, where no power method separates PC1 —
    see q156), this feature matrix is strongly anisotropic (spend
    variance dominates), so 3 rounds converge; cos > 0.999 vs numpy
    eigh is pytest-pinned on planted data. Scale shape: fit is ONE
    map-combined 15-sum aggregate (d(d+1)/2 + d + 1 — the model,
    never the data) + a driver-side d x d iteration; projection is
    shuffle-free literal-fold codegen (the q191 assignment shape)."""
    orders = _t(spark, sf_dir, "orders")
    feats = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.expr(f"CAST(sum({SC('o_totalprice')}) div 100 AS BIGINT)").alias("x1"),
        (F.count(F.lit(1)) * 1000).alias("x2"),
        F.expr(f"CAST(max({SC('o_totalprice')}) div 100 AS BIGINT)").alias("x3"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1000).otherwise(0)
        ).alias("x4"),
    )
    return similarity.power_iteration_top1_int(
        feats, "custkey", ["x1", "x2", "x3", "x4"], rounds=3
    )


def _pq_assign_cte(r: int) -> str:
    """One PQ-Lloyd assignment pass against codebook c{r-1}: per
    (vector, subspace), rank codes by integer squared distance with
    ties to the smallest code id (DuckDB evaluates the row_number
    window AFTER the per-(point,code) distance aggregate)."""
    return f"""
    a{r} AS (
      SELECT vec_id, s, cid FROM (
        SELECT sub.vec_id, sub.s, c.cid,
               row_number() OVER (
                 PARTITION BY sub.vec_id, sub.s
                 ORDER BY SUM((sub.v - c.c) * (sub.v - c.c)) ASC, c.cid ASC
               ) AS rn
        FROM sub JOIN c{r - 1} c ON c.s = sub.s AND c.d = sub.d
        GROUP BY sub.vec_id, sub.s, c.cid
      ) WHERE rn = 1
    )"""


_PQ_INT_SQL = (
    """
    WITH qv AS (
      SELECT vec_id, j,
             CAST(FLOOR(CAST(embedding[j] AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS v
      FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS j)
    ),
    sub AS (SELECT vec_id, (j - 1) // 16 AS s, (j - 1) % 16 AS d, v FROM qv),
    seeds AS (
      SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
      FROM (SELECT DISTINCT vec_id FROM sub ORDER BY vec_id LIMIT 4)
    ),
    c0 AS (SELECT sub.s, seeds.cid, sub.d, sub.v AS c
           FROM sub JOIN seeds USING (vec_id)),"""
    + _pq_assign_cte(1)
    + """,
    u1 AS (
      SELECT a.s, a.cid, sub.d, SUM(sub.v) // COUNT(*) AS m
      FROM a1 a JOIN sub ON sub.vec_id = a.vec_id AND sub.s = a.s
      GROUP BY a.s, a.cid, sub.d
    ),
    c1 AS (SELECT c0.s, c0.cid, c0.d, COALESCE(u1.m, c0.c) AS c
           FROM c0 LEFT JOIN u1
             ON u1.s = c0.s AND u1.cid = c0.cid AND u1.d = c0.d),"""
    + _pq_assign_cte(2)
    + """
    SELECT vec_id,
           CAST(MAX(CASE WHEN s = 0 THEN cid END) AS INT) AS code_s0,
           CAST(MAX(CASE WHEN s = 1 THEN cid END) AS INT) AS code_s1,
           CAST(MAX(CASE WHEN s = 2 THEN cid END) AS INT) AS code_s2,
           CAST(MAX(CASE WHEN s = 3 THEN cid END) AS INT) AS code_s3
    FROM a2 GROUP BY vec_id
    """
)


@_q("q201_pq_codes_int", _PQ_INT_SQL)
def q201_pq_codes_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-Quantization encoding with an INTEGER-EXACT trained
    codebook — the value-oracled twin of the PQ family (q140/q143 use
    similarity.pq_codebooks, whose float F.avg refinement is partial-
    aggregation-order dependent and documented rows-only forever; this
    entry closes that gap the way q198 closed PCA's). 4 subspaces x
    16 dims x 4 codes over the e6-quantized embeddings: seeds are the
    4 smallest vec_ids' subvectors, then assign -> truncating-integer
    mean update -> assign (rounds=2), ties to the smallest code id,
    empty cells keep their previous code. The oracle derives the SAME
    codebook RELATIONALLY (no literal inlining needed): seed CTE from
    ORDER BY vec_id LIMIT 4, one distance-rank assignment CTE and one
    grouped trunc-div mean CTE per round — every step integer, so
    train + encode hash-match across engines. Scale shape
    (similarity.pq_codes_int): codebook is a bounded driver model;
    per round ONE map-combined aggregate grouped by the code tuple
    (<= 4^4 groups, marginalized per subspace driver-side);
    assignment/encode are literal-inlined argmin folds in codegen —
    shuffle-free, the q191 shape."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_codes_int(
        emb, n_subspaces=4, sub_dim=16, n_codes=4, rounds=2
    )


@_q(
    "q210_label_centroid_similarity",
    """
    WITH q AS (
      SELECT label, j,
             CAST(FLOOR(CAST(embedding[j] AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS e
      FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS j)
    ),
    c AS (SELECT label, j, SUM(e) // COUNT(*) AS c FROM q GROUP BY label, j),
    nrm AS (SELECT label, CAST(SUM(c * c) AS BIGINT) AS nrm FROM c GROUP BY label),
    d AS (
      SELECT a.label AS la, b.label AS lb, CAST(SUM(a.c * b.c) AS BIGINT) AS dot
      FROM c a JOIN c b ON a.j = b.j AND a.label < b.label
      GROUP BY a.label, b.label
    )
    SELECT la AS label_a, lb AS label_b, dot,
           CAST(FLOOR(CAST(dot AS DOUBLE)
                      / (SQRT(CAST(GREATEST(x.nrm, 1) AS DOUBLE))
                         * SQRT(CAST(GREATEST(y.nrm, 1) AS DOUBLE)))
                      * 1000000.0 + 0.5) AS BIGINT) AS cos_e6
    FROM d JOIN nrm x ON x.label = d.la JOIN nrm y ON y.label = d.lb
    """,
)
def q210_label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-LABEL embedding centroids
    — the domain-affinity matrix a mixture designer reads before
    merging or re-weighting sources (which clusters are near-duplicates
    of each other, which are genuinely distinct; complements q208's
    quotas and q185's doc-level affinity). Centroids are EXACT integer
    vectors (e6-quantized components, truncating-divide mean — the
    q198/q201 discipline), so the pairwise dot products are exact
    BIGINTs; only the final normalization touches floats (IEEE sqrt +
    one division chain, GREATEST(nrm,1) guarding degenerate all-zero
    centroids identically on both engines) and is floor6-quantized.
    Scale shape: the corpus collapses to label x dim integer sums in
    ONE map-combined aggregate (the model, never the data); the
    centroid self-join is label-count-sized (45 pairs here) — at
    100 TB this is a scan plus arithmetic on a few-KB model."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "label",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(
                    x.cast("double") * F.lit(1000000.0) + F.lit(0.5)
                ).cast("long"),
            )
        ).alias("j0", "e"),
    ).select("label", (F.col("j0") + 1).alias("j"), "e")
    c = q.groupBy("label", "j").agg(
        F.expr("CAST(sum(e) div count(1) AS BIGINT)").alias("c")
    )
    nrm = c.groupBy("label").agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("nrm")
    )
    a = c.select(
        F.col("label").alias("la"), "j", F.col("c").alias("ca")
    )
    b = c.select(
        F.col("label").alias("lb"), "j", F.col("c").alias("cb")
    )
    d = (
        a.join(b, "j")
        .filter(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("dot"))
    )
    x = nrm.select(F.col("label").alias("la"), F.col("nrm").alias("_na"))
    y = nrm.select(F.col("label").alias("lb"), F.col("nrm").alias("_nb"))
    cos = (
        F.col("dot").cast("double")
        / (
            F.sqrt(F.greatest(F.col("_na"), F.lit(1)).cast("double"))
            * F.sqrt(F.greatest(F.col("_nb"), F.lit(1)).cast("double"))
        )
    )
    return (
        d.join(F.broadcast(x), "la")
        .join(F.broadcast(y), "lb")
        .select(
            F.col("la").alias("label_a"),
            F.col("lb").alias("label_b"),
            "dot",
            F.floor(cos * F.lit(1000000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("cos_e6"),
        )
    )
