"""Similarity search over embedding columns (SURVEY.md §2b X19, X21).

Two paths:
  - brute-force cosine top-k: exact baseline. Dot products via
    F.zip_with + F.aggregate in double precision — JVM expressions, no
    UDF, so a scan+project; per-query cost is one pass over the corpus.
  - LSH-bucketed ANN: random-hyperplane signatures (deterministic
    hyperplanes derived from xxhash64) bucket the corpus; queries probe
    only their bucket — the 100 TB path, where brute force per query is
    a full scan and the bucket join is a hash join on a short bit-string.

Embeddings: array<float> columns (driver corpus: 64-dim, L2-normalized,
so cosine == dot product; we still normalize defensively).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.functions.scalars import floor_round

_E6 = 1_000_000  # integer scale of the e6-quantized, value-oracled operators


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk_brute(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine to a literal query vector.

    One scan + TakeOrderedAndProject — no shuffle of the corpus, each
    partition keeps its k best. Tie-broken on id for determinism.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = corpus.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 6).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)


def knn_join_brute(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact k-NN join (every query row gets its k nearest corpus rows).

    Broadcast the (small) query side against the corpus scan, then a
    row_number window per query. For large query sets, use
    lsh_knn_join instead — this one is O(|Q| x |C|).
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(q_id), F.col(vec_col).alias("_qvec")
    )
    scored = corpus.join(F.broadcast(q)).select(
        F.col(q_id),
        F.col(c_id),
        F.round(cosine(F.col(vec_col), F.col("_qvec")), 6).alias("cosine_sim"),
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("cosine_sim"), F.col(c_id))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def _hyperplane_comps(dim: int, plane_idx: int, table: int = 0) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j of plane i is
    a hash-derived value in [-1, 1). Computed driver-side (a few hundred
    floats) — same plane on every executor, no stored model."""
    import hashlib

    comps = []
    for j in range(dim):
        h = hashlib.blake2b(f"plane:{table}:{plane_idx}:{j}".encode(), digest_size=8).digest()
        comps.append(int.from_bytes(h, "big", signed=True) / float(2**63))
    return comps


def _dot_lit_sql(vec_sql: str, comps: list[float]) -> str:
    """SQL text for <vec, literal array> — the same zip_with+aggregate
    tree the Column-combinator form builds, but parsed JVM-side."""
    arr = "array(" + ", ".join(f"{v!r}D" for v in comps) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr},"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v)"
    )


def _sql_ident(name: str) -> str:
    """Backtick-quote a column name for interpolation into SQL text."""
    return "`" + name.replace("`", "``") + "`"


def rhp_signature(vec: str, dim: int, n_planes: int = 16) -> Column:
    """Random-hyperplane (SimHash for cosine) signature: bit i = sign of
    <vec, plane_i>, packed into a bigint. P[bits agree] = 1 - theta/pi.
    Uses plane family 0, the same planes as ``rhp_signature_udf``'s
    default table.

    Driver-cost note: built as ONE textual expr. The Column-combinator
    form issued ~250 py4j round trips per signature (each lambda
    conversion and literal element is a call; ~0.8 ms/call under gVisor
    -> multi-second plan builds); the textual form is one call and
    parses to the same SQL-lambda tree, so execution is unchanged. A
    fully-flattened multiply-add variant (no zip_with) was rejected:
    768-term trees blow past codegen method limits and fall back to
    per-node interpretation (~15x slower at runtime).

    ``vec`` is a COLUMN NAME (not a Column): stringifying a Column tree
    needs classic-only JVM internals (`_jc`), which Spark Connect lacks —
    the name form works on both.
    """
    vec_sql = _sql_ident(vec)
    terms = []
    for i in range(n_planes):
        dot_sql = _dot_lit_sql(vec_sql, _hyperplane_comps(dim, i))
        terms.append(f"(CASE WHEN {dot_sql} >= 0.0D THEN {2**i}L ELSE 0L END)")
    return F.expr(" + ".join(terms))


def rhp_signature_udf(dim: int, n_planes: int, table: int = 0):
    """Vectorized (Arrow/numpy) RHP signature: one (batch x dim) @ (dim x
    n_planes) gemm per Arrow batch, sign bits packed into a bigint.

    Produces the SAME signature as rhp_signature (both compute the dots
    in float64; a sign can differ only when |<v, plane>| ~ 1e-16, i.e.
    measure-zero for real embeddings — verified bit-identical on the
    driver corpus). ~2x faster at execution than the interpreted
    SQL-lambda tree and, more importantly, constant-size in the plan:
    no 50 KB textual expr to parse/analyze/compile per signature, which
    is where the JVM form pays seconds of driver time. The plane matrix
    (dim x n_planes floats) ships once in the closure.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [_hyperplane_comps(dim, i, table) for i in range(n_planes)]
    ).T  # (dim, n_planes)
    bits = (2 ** np.arange(n_planes)).astype(np.int64)

    def sig(v):
        if not len(v):
            return pd.Series([], dtype="int64")
        m = np.array(v.tolist(), dtype=np.float64)
        return pd.Series(((m @ planes) >= 0.0) @ bits)

    # `from __future__ import annotations` stringifies inline hints, which
    # the hint-inference path can't read — attach live objects instead of
    # the deprecated PandasUDFType.SCALAR constant.
    sig.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(sig, "long")


def lsh_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    n_tables: int = 1,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN k-NN join: bucket both sides by RHP signature, hash-join on the
    bucket, exact cosine + top-k inside buckets. The similarity is rounded
    with the cross-engine-stable FLOOR(x*1e6+0.5)/1e6 idiom so a SQL
    oracle can replay scores bit-exactly (see cosine_near_dup_pairs).

    Recall knobs (standard LSH design space):
      - ``n_tables`` independent plane families (OR-construction): a true
        neighbor is found if it collides in ANY table. Costs one corpus
        signature row per table (explode), i.e. n_tables x corpus shuffle
        volume — the classic memory/recall tradeoff.
      - multi-probe: each query also probes the buckets at Hamming
        distance 1 from its signature (flip one plane bit) — the standard
        recall recovery for vectors near a hyperplane, exploding ONLY the
        tiny query side: all n_planes single-bit flips per table.
      - n_planes: fewer planes -> bigger buckets -> higher recall.

    Scale shape: corpus shuffle is by a (table, 2^n_planes) key (uniform
    for normalized embeddings); no cross join anywhere.
    """
    from pyspark.sql import Window

    # Signatures land in their own projection (one pandas-UDF gemm per
    # table), so the explode/probe exprs below reference a computed
    # attribute instead of re-invoking the UDF per probe.
    c_sigged = corpus.select(
        F.col(c_id),
        F.col(vec_col).alias("_cvec"),
        *[
            rhp_signature_udf(dim, n_planes, t)(vec_col).alias(f"_s{t}")
            for t in range(n_tables)
        ],
    )
    c_sig = c_sigged.select(
        c_id,
        "_cvec",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("table"), F.col(f"_s{t}").alias("sig"))
                    for t in range(n_tables)
                ]
            )
        ).alias("_b"),
    ).select(c_id, "_cvec", F.col("_b.table").alias("_table"), F.col("_b.sig").alias("_bucket"))
    # Query side: per table, own bucket + Hamming-1 probe buckets.
    q_sigged = queries.select(
        F.col(q_id),
        F.col(vec_col).alias("_qvec"),
        *[
            rhp_signature_udf(dim, n_planes, t)(vec_col).alias(f"_s{t}")
            for t in range(n_tables)
        ],
    )
    probe_structs = []
    for t in range(n_tables):
        sig = F.col(f"_s{t}")
        for bucket in [sig] + [sig.bitwiseXOR(F.lit(2**i)) for i in range(n_planes)]:
            probe_structs.append(
                F.struct(F.lit(t).alias("table"), bucket.alias("sig"))
            )
    q_probed = q_sigged.select(
        F.col(q_id),
        "_qvec",
        F.explode(F.array_distinct(F.array(*probe_structs))).alias("_b"),
    ).select(q_id, "_qvec", F.col("_b.table").alias("_table"), F.col("_b.sig").alias("_bucket"))
    sim = floor_round(cosine(F.col("_cvec"), F.col("_qvec")), 6)
    scored = c_sig.join(q_probed, on=["_table", "_bucket"]).select(
        F.col(q_id), F.col(c_id), sim.alias("cosine_sim")
    )
    # A (query, corpus) pair can arrive via several probes — dedup before top-k.
    scored = scored.groupBy(q_id, c_id).agg(F.max("cosine_sim").alias("cosine_sim"))
    w = Window.partitionBy(q_id).orderBy(F.desc("cosine_sim"), F.col(c_id))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def cosine_near_dup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup-family variant of
    X19): LSH-block the corpus, generate pairs only inside buckets, keep
    pairs with exact cosine >= threshold.

    Scale shape: the self-pairing happens per (table, signature) bucket —
    never a cross join — and OR-construction over ``n_tables`` plane
    families recovers pairs that a single table's hyperplanes split.
    Recall for a pair at angle theta is 1-(1-(1-theta/pi)^n_planes)^n_tables.

    Returns (id_a, id_b, cosine_sim), id_a < id_b, exact cosine.

    The similarity is rounded with the cross-engine-stable
    FLOOR(x*1e6 + 0.5)/1e6 idiom, not round() (Spark round() is
    BigDecimal HALF_UP on the shortest decimal repr, other engines'
    round() is C-style on the binary value — they can disagree on the
    SAME double), which is what lets a SQL oracle reproduce the output
    bit-exactly: the hyperplanes themselves are deterministic
    blake2b-derived literals (_hyperplane_comps), so an oracle can
    inline them and replay the bucketing.
    """
    sides = []
    for suffix in ("a", "b"):
        sigged = corpus.select(
            F.col(id_col).alias(f"id_{suffix}"),
            F.col(vec_col).alias(f"_vec_{suffix}"),
            *[
                rhp_signature_udf(dim, n_planes, t)(vec_col).alias(f"_s{t}")
                for t in range(n_tables)
            ],
        )
        sig = sigged.select(
            f"id_{suffix}",
            f"_vec_{suffix}",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(t).alias("table"), F.col(f"_s{t}").alias("sig"))
                        for t in range(n_tables)
                    ]
                )
            ).alias("_b"),
        ).select(
            f"id_{suffix}",
            f"_vec_{suffix}",
            F.col("_b.table").alias("_table"),
            F.col("_b.sig").alias("_bucket"),
        )
        sides.append(sig)
    a, b = sides
    sim = floor_round(cosine(F.col("_vec_a"), F.col("_vec_b")), 6)
    return (
        a.join(b, on=["_table", "_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine_sim").alias("cosine_sim"))
    )


def cosine_pairs_exact(
    corpus: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 20000,
) -> DataFrame:
    """All-pairs exact cosine — the O(n^2) oracle/verify stage for the LSH
    path (cosine_near_dup_pairs is the scale path).

    ``max_rows`` is a hard refusal: n^2 pair generation past ~20k rows is
    a scale-killer by construction (400M pairs), and silently running it
    on a 100 TB corpus would be a cluster-wide incident. Callers that
    really need bigger exact verification should sample or shard first.

    Each vector is normalized ONCE in its own projection so the pair loop
    runs a single dot-product aggregate (not dot + 2 norms) per pair.
    Output: (id_a, id_b, cosine_sim) with id_a < id_b, floor-rounded at
    6dp to absorb summation-order ulps vs other engines.
    """
    n = corpus.count()
    if n > max_rows:
        raise ValueError(
            f"cosine_pairs_exact is O(n^2); input has {n} rows "
            f"(max_rows={max_rows}). Use cosine_near_dup_pairs (LSH-bucketed) "
            f"at scale, or pre-filter/sample the corpus."
        )
    e = corpus.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
    ).select(
        "_id", F.expr("transform(_v, x -> CAST(x AS DOUBLE) / _n)").alias("_v")
    )
    a = e.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    b = e.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    return (
        a.join(b, a.id_a < b.id_b)
        .select(
            "id_a",
            "id_b",
            floor_round(dot(F.col("_va"), F.col("_vb")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    portable: bool = False,
) -> list[list[float]]:
    """Deterministic IVF 'training': pick n_centroids corpus vectors by
    lowest xxhash64(id) (a reproducible uniform sample — no iterative
    k-means, which buys little on normalized web-scale embeddings) and
    L2-normalize them driver-side. The collect is n_centroids rows — the
    model, not the data.

    ``portable=True`` makes the whole model SQL-replayable (the q162
    portable-hash + q44 literal-planes discipline): the sample order is
    the portable 60-bit md5 hash instead of Spark xxhash64, and the
    normalized components are quantized to the e6 grid with the
    cross-engine FLOOR idiom — math.sqrt and the sequential
    sum-of-squares are IEEE-identical to SQL sqrt + list_reduce, and
    the e6 floor absorbs any remaining ulp, so an oracle can rebuild
    the exact centroid table from the data."""
    if portable:
        order = F.expr(
            f"CAST(conv(substr(md5(CAST({id_col} AS STRING)), 2, 15), 16, 10)"
            " AS BIGINT)"
        )
    else:
        order = F.xxhash64(F.col(id_col).cast("string"))
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(order, F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    import math

    cents = []
    for r in rows:
        v = [float(x) for x in r[1]]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        if portable:
            cents.append(
                [math.floor(x / norm * 1e6 + 0.5) / 1e6 for x in v]
            )
        else:
            cents.append([x / norm for x in v])
    return cents


def _centroid_scores(vec: str, cents: list[list[float]]) -> Column:
    """array<struct<score,cid>> of cosine-rank scores against normalized
    centroids. Centroids are unit vectors, so dot(vec, c) ranks identically
    to cosine for a fixed vec — no per-row norm needed. One textual expr
    for the whole array (see rhp_signature's driver-cost note). ``vec``
    is a column name (Connect-safe; see rhp_signature)."""
    vec_sql = _sql_ident(vec)
    structs = [
        f"struct({_dot_lit_sql(vec_sql, c)} AS score, {i} AS cid)"
        for i, c in enumerate(cents)
    ]
    return F.expr("array(" + ", ".join(structs) + ")")


def ivf_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    n_probes: int = 3,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN k-NN join — the cell-probe alternative to
    lsh_knn_join. The index is the portable centroid table and the scores
    are FLOOR-rounded at 6dp, so both are SQL-replayable (see
    ivf_centroids / cosine_near_dup_pairs).

    Index: every corpus vector is assigned to its nearest centroid's cell
    (scan-local argmax over n_centroids dot products). Search: each query
    probes its ``n_probes`` nearest cells, hash-joins on cell id, exact
    cosine + top-k inside the probed cells. Corpus shuffle key is the
    cell id: ~|corpus|/n_centroids per cell, tunable; work per query is
    n_probes/n_centroids of a full scan.
    """
    from pyspark.sql import Window

    cents = ivf_centroids(corpus, n_centroids, c_id, vec_col, portable=True)
    c_cell = corpus.select(
        F.col(c_id),
        F.col(vec_col).alias("_cvec"),
        F.array_max(_centroid_scores(vec_col, cents))["cid"].alias("_cell"),
    )
    # Query side: top n_probes cells by score (sort desc on (score, cid)).
    probed = F.slice(
        F.reverse(F.array_sort(_centroid_scores(vec_col, cents))), 1, n_probes
    )
    q_cell = queries.select(
        F.col(q_id),
        F.col(vec_col).alias("_qvec"),
        F.explode(probed).alias("_probe"),
    ).select(q_id, "_qvec", F.col("_probe.cid").alias("_cell"))
    sim = floor_round(cosine(F.col("_cvec"), F.col("_qvec")), 6)
    scored = c_cell.join(q_cell, on="_cell").select(
        F.col(q_id), F.col(c_id), sim.alias("cosine_sim")
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("cosine_sim"), F.col(c_id))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def knn_join_vectorized(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 65536,
) -> DataFrame:
    """Exact k-NN join on the Arrow/numpy fast path.

    The JVM-expression dot product (zip_with + aggregate) evaluates
    interpreted per element; for dense-vector math the right 100 TB
    design is Arrow-batched mapInPandas with a BLAS matmul: each corpus
    batch computes (batch x dim) @ (dim x |Q|) in one gemm call, keeps
    its per-query top-k (so the shuffle carries |batches| x |Q| x k rows,
    not |corpus| x |Q|), and a final window reduces per-query.

    The query side is collected to the driver and closed over (it is the
    'model', a few KB-MB — same posture as broadcast); the corpus never
    leaves executors. ``max_query_rows`` guards that posture: past the
    cap the closure would blow driver/executor memory, so the call
    refuses and directs to the distributed paths (lsh_knn_join /
    ivf_knn_join), which bucket-join both sides instead of broadcasting.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import DoubleType, StructField, StructType

    q_rows = queries.select(q_id, vec_col).limit(max_query_rows + 1).collect()
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"knn_join_vectorized collects the query side as a broadcast "
            f"model; it has >{max_query_rows} rows. Use lsh_knn_join or "
            f"ivf_knn_join (bucketed joins) for large query sets, or raise "
            f"max_query_rows explicitly."
        )
    q_ids = [r[0] for r in q_rows]
    # Id columns keep their source types (ids are not always integers —
    # e.g. sha2-derived string ids); only the score type is fixed.
    out_schema = StructType(
        [
            StructField(q_id, queries.schema[q_id].dataType),
            StructField(c_id, corpus.schema[c_id].dataType),
            StructField("cosine_sim", DoubleType()),
        ]
    )

    def score(batches):
        import numpy as np
        import pandas as pd

        qm = np.array([[float(x) for x in r[1]] for r in q_rows])
        qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cm @ qm.T  # (batch, |Q|) — one gemm
            ids = pdf[c_id].to_numpy()
            take = min(k, len(ids))
            for j, qid in enumerate(q_ids):
                col = sims[:, j]
                idx = (
                    np.argpartition(-col, take - 1)[:take]
                    if len(col) > take
                    else np.arange(len(col))
                )
                yield pd.DataFrame(
                    {
                        q_id: [qid] * len(idx),
                        c_id: ids[idx],
                        # floor-round at 6dp, same idiom as the JVM path
                        "cosine_sim": np.floor(col[idx] * 1e6 + 0.5) / 1e6,
                    }
                )

    partial = corpus.select(c_id, vec_col).mapInPandas(score, out_schema)
    w = Window.partitionBy(q_id).orderBy(F.desc("cosine_sim"), F.col(c_id))
    return partial.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k).drop("rn")


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    embeddings, compare pairs only WITHIN a cluster, and drop every
    member of a near-identical pair except the lowest id.

    Scale shape: centroid assignment is a scan-local projection against
    broadcast unit centroids (the model, n_centroids rows); the pair
    stage shuffles once on cluster id and generates pairs inside each
    cell — the cross-cluster O(n^2) never happens, mirroring the paper's
    k-means-then-intra-cluster design. Cell skew is bounded by the
    centroid count; at 100 TB raise n_centroids so cells stay ~1/k of
    the corpus, or re-cluster hot cells recursively.

    The centroids are the portable (SQL-replayable) ivf_centroids model,
    and the pair dot is e6-floored before the threshold compare, so a SQL
    oracle's summation-order ulps cannot flip a drop decision at the
    boundary (the q37/q44/q45 absorber).

    Returns surviving rows of ``corpus`` (all original columns).
    """
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col, portable=True)
    assigned = corpus.withColumn(
        "_cell", F.array_max(_centroid_scores(vec_col, cents))["cid"]
    )
    e = assigned.select(
        F.col(id_col).alias("_id"),
        F.col("_cell"),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
    ).select(
        "_id", "_cell", F.expr("transform(_v, x -> CAST(x AS DOUBLE) / _n)").alias("_v")
    )
    a = e.select(F.col("_id").alias("id_a"), F.col("_cell"), F.col("_v").alias("_va"))
    b = e.select(F.col("_id").alias("id_b"), F.col("_cell"), F.col("_v").alias("_vb"))
    pair_dot = floor_round(dot(F.col("_va"), F.col("_vb")), 6)
    dropped = (
        a.join(b, on="_cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(pair_dot >= threshold)
        .select(F.col("id_b").alias("_drop_id"))
        .distinct()
    )
    return corpus.join(
        dropped, corpus[id_col] == dropped["_drop_id"], "left_anti"
    )


def l2_normalize_arrow(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """L2-normalize an embedding column on the Arrow-NATIVE path
    (``mapInArrow``): batches arrive as pyarrow RecordBatches, the math
    runs vectorized in numpy, and no pandas conversion happens at all —
    the zero-copy variant of the mapInPandas path ``knn_join_vectorized``
    uses. Shuffle-free: a pure per-batch map at scan speed.

    Output per row: (id, dim, norm_e6, packed) where norm_e6 is the L2
    norm and packed the comma-joined normalized components, both
    floor-rounded at 1e-6 and SCALED TO INTEGERS — integer-to-string
    renders identically on every engine, where double-to-string does not
    (the q46 array_join lesson, applied to floats). Norm summation is
    ``cumsum`` (strictly left-to-right double adds) to match the
    sequential fold the oracle's list_sum performs — pairwise/BLAS
    summation would differ in the last ulp.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField("dim", LongType()),
            StructField("norm_e6", LongType()),
            StructField("packed", StringType()),
        ]
    )

    def normalize(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(batch.schema.get_field_index(id_col))
            vecs = batch.column(batch.schema.get_field_index(vec_col))
            rows = vecs.to_pylist()
            dims = np.array([len(r) for r in rows], dtype=np.int64)
            # fixed-dim corpora take the vectorized path; ragged falls
            # back to a per-row loop (same math, same results)
            if len(set(dims.tolist())) == 1:
                m = np.asarray(rows, dtype=np.float64)
                sq = m * m
                norms = np.sqrt(np.cumsum(sq, axis=1)[:, -1])
                safe = np.where(norms == 0.0, 1.0, norms)
                ints = np.floor(m / safe[:, None] * _E6 + 0.5).astype(np.int64)
                packed = [",".join(map(str, row)) for row in ints]
            else:
                norms, packed = [], []
                for r in rows:
                    v = np.asarray(r, dtype=np.float64)
                    n = np.sqrt(np.cumsum(v * v)[-1]) if len(v) else 0.0
                    norms.append(n)
                    s = n if n != 0.0 else 1.0
                    packed.append(
                        ",".join(
                            str(int(np.floor(x / s * _E6 + 0.5))) for x in v
                        )
                    )
                norms = np.asarray(norms)
            norm_e6 = np.floor(norms * _E6 + 0.5).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(dims, type=pa.int64()),
                    pa.array(norm_e6, type=pa.int64()),
                    pa.array(packed, type=pa.string()),
                ],
                names=[id_col, "dim", "norm_e6", "packed"],
            )

    return df.select(id_col, vec_col).mapInArrow(normalize, out_schema)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-scan ANN with exact re-rank
# ---------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic PQ training (Jegou et al., 'Product Quantization
    for Nearest Neighbor Search', TPAMI 2011): seed n_codes codes per
    subspace from the corpus vectors with lowest xxhash64(id) (a
    reproducible uniform sample), then run 2 k-means refinement passes
    PER SUBSPACE as distributed aggregates — assign every corpus
    subvector to its nearest code (scan-local expression),
    groupBy (subspace, code) and average each dimension (map-side
    combined; the shuffle is n_subspaces * n_codes groups). Each
    iteration collects only the n_subspaces * n_codes refined means —
    the model, not the data. Empty cells keep their previous code.
    Determinism: seeded sample + fixed iteration count, and refined
    means are rounded to 1e-9 before storing — F.avg over doubles is
    partial-aggregation-order dependent, so unrounded codebooks could
    differ in the last ulp across partitionings/cluster layouts; at
    1e-9 the embedding-scale values are stable across plans (an exact
    guarantee would need scaled-integer sums, overkill for a codebook
    whose assignments tolerate far larger perturbations — but see
    ``pq_codes_int`` below, which pays exactly that cost to make the
    train+encode pipeline value-oracle-able)."""
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_codes)
        .collect()
    )
    vecs = [[float(x) for x in r[1]] for r in rows]
    dim = len(vecs[0])
    if dim % n_subspaces != 0:
        raise ValueError(f"dim ({dim}) not divisible by n_subspaces ({n_subspaces})")
    sub = dim // n_subspaces
    books = [[v[s * sub : (s + 1) * sub] for v in vecs] for s in range(n_subspaces)]
    for _ in range(2):
        assigned = corpus.select(
            F.col(vec_col).alias("_v"),
            F.posexplode(pq_encode_udf(books)(F.col(vec_col))).alias("_s", "_code"),
        )
        means = (
            assigned.groupBy("_s", "_code")
            .agg(
                *[
                    F.avg(
                        F.element_at(
                            F.col("_v"), F.col("_s") * sub + d + 1
                        ).cast("double")
                    ).alias(f"_m{d}")
                    for d in range(sub)
                ]
            )
            .collect()
        )
        for r in means:
            books[r["_s"]][r["_code"]] = [
                round(float(r[f"_m{d}"]), 9) for d in range(sub)
            ]
    return books


def exact_rerank(
    cand_ids: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine re-rank — the final stage every ANN path here (LSH /
    IVF / PQ / IVF-PQ) shares: candidate (q_id, c_id) pairs join BACK to
    the full-precision corpus BY ID, score exactly, keep top-k per query.

    Factored out so the stage is independently testable/oracle-able: the
    candidate generator (ADC scan, cell probe, band collision) is the
    approximate, engine-specific part; this tail is exact and
    SQL-expressible over any pinned candidate set. Plan shape: the
    query side broadcasts (bounded by the callers' max_query_rows), the
    corpus join moves full vectors only for |cand_ids| rows, and top-k
    is a bounded per-query window. Contract: ``cand_ids`` pairs are
    distinct (every caller here builds them via distinct() or a
    row_number filter) — duplicates would occupy multiple top-k slots;
    dedup is the candidate generator's job, not a hidden extra shuffle
    on every re-rank."""
    from pyspark.sql import Window

    scored = (
        cand_ids.join(
            F.broadcast(queries.select(F.col(q_id), F.col(vec_col).alias("_qvec"))),
            q_id,
        )
        .join(corpus.select(F.col(c_id), F.col(vec_col).alias("_cvec")), c_id)
        .select(
            q_id,
            c_id,
            floor_round(cosine(F.col("_cvec"), F.col("_qvec")), 6).alias("cosine_sim"),
        )
    )
    w_k = Window.partitionBy(q_id).orderBy(F.desc("cosine_sim"), F.col(c_id))
    return (
        scored.withColumn("_rn", F.row_number().over(w_k))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _books_arrays(books: list[list[list[float]]]):
    """books -> list of (n_codes, sub) float64 numpy arrays, validated."""
    import numpy as np

    return [np.asarray(book, dtype=np.float64) for book in books]


def pq_encode_udf(books: list[list[list[float]]]):
    """Vectorized (Arrow/numpy) PQ encoder: array<int> of per-subspace
    nearest-code ids — the n_subspaces-bytes-per-vector compressed
    representation (stored as int array here; a production sink would
    pack to binary).

    A pandas UDF, not a JVM expression, deliberately: the expression
    form is n_subspaces * n_codes * sub_dim arithmetic terms (4096 at
    the 4x64x16 defaults), which blows past janino's method limits,
    falls back to per-node interpretation, and pays seconds of
    parse/analyze time per plan — the same trap rhp_signature's
    docstring documents. Here each Arrow batch does one
    ||x||^2 - 2xC' + ||c||^2 gemm per subspace and an argmin."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = _books_arrays(books)
    sub = C[0].shape[1]

    def enc(v):
        if not len(v):
            return pd.Series([], dtype=object)
        X = np.array(v.tolist(), dtype=np.float64)
        cols = []
        for s, Cs in enumerate(C):
            Xs = X[:, s * sub : (s + 1) * sub]
            d = (
                (Xs * Xs).sum(1)[:, None]
                - 2.0 * (Xs @ Cs.T)
                + (Cs * Cs).sum(1)[None, :]
            )
            cols.append(d.argmin(1))
        codes = np.stack(cols, axis=1).astype("int32")
        return pd.Series(list(codes))

    enc.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(enc, "array<int>")


def pq_dist_tables_udf(books: list[list[list[float]]]):
    """Vectorized query-side ADC model: array<array<double>> of
    per-subspace distance tables from the vector's subvectors to every
    code (same batch-gemm rationale as pq_encode_udf)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = _books_arrays(books)
    sub = C[0].shape[1]

    def tables(v):
        if not len(v):
            return pd.Series([], dtype=object)
        X = np.array(v.tolist(), dtype=np.float64)
        per_sub = []
        for s, Cs in enumerate(C):
            Xs = X[:, s * sub : (s + 1) * sub]
            d = (
                (Xs * Xs).sum(1)[:, None]
                - 2.0 * (Xs @ Cs.T)
                + (Cs * Cs).sum(1)[None, :]
            )
            per_sub.append(d)
        stacked = np.stack(per_sub, axis=1)  # (n, n_subspaces, n_codes)
        return pd.Series([list(map(list, row)) for row in stacked])

    tables.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(tables, "array<array<double>>")


def pq_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 1024,
) -> DataFrame:
    """PQ ANN k-NN join: asymmetric-distance (ADC) scan over CODES of a
    4-subspace, 64-code codebook, then exact cosine re-rank of the top
    8*k candidates.

    The scale story differs from LSH/IVF: PQ does not prune candidates —
    it shrinks each vector to 4 code bytes (64 floats -> 4 bytes here),
    so the 'full scan' reads ~2% of the bytes and each ADC score is 4
    table lookups instead of a dim-length dot product. Queries broadcast
    as per-subspace distance tables (the model — max_query_rows guards
    the same posture as knn_join_vectorized); candidates join BACK to
    the full-precision corpus BY ID for the exact re-rank, so
    uncompressed vectors are only touched for 8*k rows per query.
    Combine with IVF cells for the classic IVF-PQ when candidate pruning
    is also needed.
    """
    from pyspark.sql import Window

    n_q = queries.limit(max_query_rows + 1).count()
    if n_q > max_query_rows:
        raise ValueError(
            f"pq_knn_join broadcasts the query side as ADC tables; it has "
            f">{max_query_rows} rows. Use lsh_knn_join/ivf_knn_join for "
            f"large query sets, or raise max_query_rows explicitly."
        )
    books = pq_codebooks(corpus, 4, 64, c_id, vec_col)
    codes = corpus.select(
        F.col(c_id), pq_encode_udf(books)(F.col(vec_col)).alias("_codes")
    )
    qt = queries.select(
        F.col(q_id),
        pq_dist_tables_udf(books)(F.col(vec_col)).alias("_tabs"),
    )
    adc = codes.crossJoin(F.broadcast(qt)).select(
        q_id,
        c_id,
        F.expr(
            "aggregate(zip_with(_codes, _tabs, (c, t) -> element_at(t, c + 1)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        ).alias("_adc"),
    )
    w_c = Window.partitionBy(q_id).orderBy(F.asc("_adc"), F.col(c_id))
    cand = (
        adc.withColumn("_rn", F.row_number().over(w_c))
        .filter(F.col("_rn") <= 8 * k)
        .select(q_id, c_id)
    )
    return exact_rerank(cand, queries, corpus, k, q_id, c_id, vec_col)


def ivfpq_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probes: int = 4,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 1024,
) -> DataFrame:
    """IVF-PQ composite ANN: IVF cells prune WHICH rows are scored
    (n_probes/n_centroids of the corpus), PQ codes shrink WHAT is read
    per scored row (4 code bytes from a 64-code codebook instead of dim
    floats), exact cosine re-ranks the 8*k survivors joined back by id —
    the billion-scale index layout (Jegou et al. TPAMI 2011; global
    codebooks rather than per-cell residual codebooks — the IVFFlat-PQ
    variant — to keep the model deterministic and cell-independent).

    Plan: corpus side carries (cell, codes) — both scan-local
    expressions; query side explodes to its probed cells with its ADC
    tables; one hash join on cell id; two bounded windows. The shuffle
    carries codes (bytes/row), not vectors; uncompressed vectors move
    only for 8*k rows per query.
    """
    from pyspark.sql import Window

    n_q = queries.limit(max_query_rows + 1).count()
    if n_q > max_query_rows:
        raise ValueError(
            f"ivfpq_knn_join broadcasts the query side as ADC tables; it has "
            f">{max_query_rows} rows. Use lsh_knn_join/ivf_knn_join for large "
            f"query sets, or raise max_query_rows explicitly."
        )
    cents = ivf_centroids(corpus, n_centroids, c_id, vec_col)
    books = pq_codebooks(corpus, 4, 64, c_id, vec_col)
    c_idx = corpus.select(
        F.col(c_id),
        F.array_max(_centroid_scores(vec_col, cents))["cid"].alias("_cell"),
        pq_encode_udf(books)(F.col(vec_col)).alias("_codes"),
    )
    probed = F.slice(
        F.reverse(F.array_sort(_centroid_scores(vec_col, cents))), 1, n_probes
    )
    q_side = queries.select(
        F.col(q_id),
        pq_dist_tables_udf(books)(F.col(vec_col)).alias("_tabs"),
        F.explode(probed).alias("_probe"),
    ).select(q_id, "_tabs", F.col("_probe.cid").alias("_cell"))
    adc = c_idx.join(F.broadcast(q_side), on="_cell").select(
        q_id,
        c_id,
        F.expr(
            "aggregate(zip_with(_codes, _tabs, (c, t) -> element_at(t, c + 1)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        ).alias("_adc"),
    )
    w_c = Window.partitionBy(q_id).orderBy(F.asc("_adc"), F.col(c_id))
    cand = (
        adc.withColumn("_rn", F.row_number().over(w_c))
        .filter(F.col("_rn") <= 8 * k)
        .select(q_id, c_id)
    )
    return exact_rerank(cand, queries, corpus, k, q_id, c_id, vec_col)


def pca_fit(
    corpus: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
) -> dict:
    """Tall-skinny distributed PCA fit: the classic layout for n >> d
    (Halko et al. 2011 notation; no randomization needed at d<=~1k).
    Per Arrow batch, mapInPandas emits one partial (count, sum(x),
    sum(x x')) row; partials reduce through a map-side-combined
    posexplode/groupBy-position aggregate (d + d^2 groups — the model,
    never the data); the driver assembles the d x d covariance and
    eigendecomposes locally with numpy. At 100 TB the only thing that
    grows is the number of partial rows, and those collapse in the
    combiner — the same partial-aggregate shape as any sum.

    Returns {"mean": [d], "components": [k][d], "explained_var": [k]}.
    Determinism: partial sums are rounded to 1e-6 before eigh (float
    partial-aggregation order is plan-dependent — same trade as
    pq_codebooks), and each component's sign is fixed so its
    largest-magnitude coordinate is positive (eigenvectors are
    sign-ambiguous)."""
    import numpy as np
    import pandas as pd

    first = corpus.select(vec_col).first()
    if first is None:
        raise ValueError("pca_fit: empty corpus")
    d = len(first[0])
    if not 0 < k <= d:
        raise ValueError(f"pca_fit: k={k} must be in 1..dim={d}")

    def partials(batches):
        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if not len(X):
                continue
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [(X.T @ X).ravel().tolist()],
                }
            )

    part = corpus.select(vec_col).mapInPandas(
        partials, schema="n long, s array<double>, g array<double>"
    )
    n_total = part.agg(F.sum("n").alias("n")).collect()[0]["n"]
    sums = (
        part.select(F.posexplode("s").alias("i", "x"))
        .groupBy("i")
        .agg(F.sum("x").alias("x"))
        .collect()
    )
    grams = (
        part.select(F.posexplode("g").alias("i", "x"))
        .groupBy("i")
        .agg(F.sum("x").alias("x"))
        .collect()
    )
    s = np.zeros(d)
    for r in sums:
        s[r["i"]] = round(r["x"], 6)
    G = np.zeros(d * d)
    for r in grams:
        G[r["i"]] = round(r["x"], 6)
    G = G.reshape(d, d)
    mean = s / n_total
    cov = G / n_total - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for j in order:
        v = vecs[:, j]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append([float(x) for x in v])
    return {
        "mean": [float(x) for x in mean],
        "components": comps,
        "explained_var": [float(vals[j]) for j in order],
    }


def pca_project(
    df: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project vectors onto a pca_fit model: out[i] = (x - mean) . c_i.
    One Arrow-gemm pandas UDF per batch (k x d model broadcast in the
    UDF closure — same no-shuffle batch-transform shape as
    pq_encode_udf); output is array<double> length k."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    mean = np.asarray(model["mean"], dtype=np.float64)
    C = np.asarray(model["components"], dtype=np.float64)  # (k, d)

    def proj(v):
        if not len(v):
            return pd.Series([], dtype=object)
        X = np.array(v.tolist(), dtype=np.float64) - mean
        Y = X @ C.T
        return pd.Series([row.tolist() for row in Y])

    # `from __future__ import annotations` stringifies inline hints (see
    # rhp_signature_udf) — attach live objects instead.
    proj.__annotations__ = {"v": pd.Series, "return": pd.Series}
    proj_udf = pandas_udf(proj, "array<double>")
    return df.select(F.col(id_col), proj_udf(F.col(vec_col)).alias(out_col))


def _trunc_div(a: int, b: int) -> int:
    """Integer divide truncating TOWARD ZERO — the shared semantics of
    Spark ``div`` and DuckDB ``//`` (Python ``//`` floors, which differs
    on negatives, so it cannot be used directly)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def power_iteration_top1_int(
    feats: DataFrame,
    id_col: str,
    feature_cols: list[str],
    rounds: int = 3,
) -> DataFrame:
    """Dominant principal direction of an INTEGER feature matrix by
    max-norm power iteration on the centered Gram — every step exact
    integer arithmetic, so a fixed ``rounds`` count is BIT-IDENTICAL
    across engines and the classic eigen-iteration value-oracles as
    unrolled SQL CTEs (the q188/q191/q192 discipline applied to PCA;
    LAPACK ``eigh`` in ``pca_fit`` can never be oracled — see q156).

    Fit: ONE map-side-combined aggregate computes n, the column sums
    S_j, and the raw second moments G_jk (d(d+1)/2 sums — the model,
    never the data); the centered Gram n*G - S S^T is assembled
    DRIVER-SIDE in arbitrary-precision Python ints (it can exceed
    int64; the distributed sums G_jk themselves must fit, which is the
    caller's scaling contract — pre-scale features like q191 does with
    dollars-not-cents). Each iteration is a d x d mat-vec on the
    driver (d^2 multiplies on a bounded model), normalized by
    v_j <- trunc(w_j * 10^6 / max|w|) — max-norm, not L2, so the
    normalizer needs no sqrt and stays in integers. Sign is fixed so
    the largest-|v_j| coordinate (smallest j on ties) is positive.

    Project: the final direction v is inlined as d literals and folded
    per row — SHUFFLE-FREE whole-stage codegen, the q191 assignment
    shape. Returns (id_col, pc1_score) with pc1_score = sum_j x_j*v_j
    exactly (UNcentered projection: differs from the centered one by a
    constant shift, which rank/threshold consumers never see; keeping
    it uncentered keeps the per-row arithmetic in int64).

    Convergence caveat: rate is (lambda2/lambda1)^rounds — meaningful
    on anisotropic features (pytest pins cos > 0.999 vs numpy eigh on
    a planted dominant direction); on near-isotropic data (the
    synthetic embeddings corpus: lambda2/lambda1 ~ 0.99) the result is
    a deterministic Krylov direction, not a converged PC1.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1 (got {rounds})")
    d = len(feature_cols)
    if d < 1:
        raise ValueError("need at least one feature column")
    aggs = [F.count(F.lit(1)).alias("_n")]
    aggs += [F.sum(c).alias(f"_s{j}") for j, c in enumerate(feature_cols)]
    aggs += [
        F.sum(F.col(feature_cols[j]) * F.col(feature_cols[k])).alias(f"_g{j}_{k}")
        for j in range(d)
        for k in range(j, d)
    ]
    row = feats.agg(*aggs).collect()[0]
    n = row["_n"]
    if n == 0:
        raise ValueError("power_iteration_top1_int: empty input")
    S = [int(row[f"_s{j}"]) for j in range(d)]
    G = [[0] * d for _ in range(d)]
    for j in range(d):
        for k in range(j, d):
            G[j][k] = G[k][j] = int(row[f"_g{j}_{k}"])
    n = int(n)
    Gc = [[n * G[j][k] - S[j] * S[k] for k in range(d)] for j in range(d)]
    v = [_E6] * d
    for _ in range(rounds):
        w = [sum(Gc[j][k] * v[k] for k in range(d)) for j in range(d)]
        m = max(abs(x) for x in w) or 1
        v = [_trunc_div(x * _E6, m) for x in w]
    jmax = min(range(d), key=lambda j: (-abs(v[j]), j))
    if v[jmax] < 0:
        v = [-x for x in v]
    score = sum(
        (F.col(c).cast("long") * F.lit(v[j]) for j, c in enumerate(feature_cols)),
        start=F.lit(0).cast("long"),
    )
    return feats.select(F.col(id_col), score.cast("long").alias("pc1_score"))


def pq_codes_int(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
    sub_dim: int = 16,
    n_codes: int = 4,
    rounds: int = 2,
) -> DataFrame:
    """Product-Quantization codes with an INTEGER-EXACT codebook — the
    value-oracle-able twin of ``pq_codebooks`` (whose float F.avg
    refinement is partial-aggregation-order dependent and therefore
    forever rows-only, as its docstring documents). Same discipline
    that cracked k-means/BFS/LPA/PCA (q191/q192/q188/q198): e6-quantize
    the vectors, seed each subspace's ``n_codes`` codes from the
    ``n_codes`` SMALLEST ids (no RNG), then run ``rounds`` Lloyd
    assignment passes with ``rounds - 1`` interleaved updates —
    integer squared distances, ties to the smallest code id,
    truncating integer-divide means, empty cells keep their previous
    code — so the whole train+encode pipeline is BIT-IDENTICAL across
    engines and unrolls into oracle SQL (q201).

    Scale shape: the codebook is a bounded driver-side model
    (n_subspaces * n_codes * sub_dim ints). Per update round the ONLY
    shuffle is one map-side-combined aggregate grouped by the full
    code TUPLE (<= n_codes^n_subspaces bounded groups, collected and
    marginalized per subspace driver-side — one job per round, not one
    per subspace). Assignment and final encoding are literal-inlined
    argmin folds inside whole-stage codegen: shuffle-free, the q191
    assignment shape. Returns (id_col, code_s0..code_s{n-1}) ints.

    Caller contract: quantized components must keep
    sub_dim * (2*10^6*max|x|)^2 inside int64 (true for unit-scale
    embeddings at e6), and ids must be globally unique."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1 (got {rounds})")
    dim = n_subspaces * sub_dim
    first = corpus.select(vec_col).first()
    if first is None:
        raise ValueError("pq_codes_int: empty corpus")
    if first[0] is None:
        # The full NULL scan below covers the rest of the corpus; this
        # guard keeps a NULL FIRST row on the documented ValueError
        # contract instead of an obscure len(None) TypeError.
        raise ValueError("pq_codes_int: 1+ rows have NULL vectors")
    if len(first[0]) != dim:
        raise ValueError(
            f"pq_codes_int: dim {len(first[0])} != n_subspaces*sub_dim {dim}"
        )
    qv = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(_E6)) + F.lit(0.5)).cast(
            "long"
        ),
    )
    pts = corpus.select(F.col(id_col).alias("_id"), qv.alias("_q")).localCheckpoint(
        eager=True
    )
    # Fail fast on NULL / wrong-length vectors anywhere in the corpus —
    # a NULL among the seeds would TypeError obscurely, and a NULL
    # elsewhere would let the null-first struct ordering silently
    # assign code 0 (and diverge from the oracle). One cheap count
    # over the already-checkpointed points.
    n_bad = pts.filter(
        F.col("_q").isNull() | (F.size("_q") != dim)
    ).count()
    if n_bad:
        raise ValueError(
            f"pq_codes_int: {n_bad} rows have NULL or non-{dim}-dim vectors"
        )
    seed_rows = pts.orderBy("_id").limit(n_codes).collect()
    if len(seed_rows) < n_codes:
        raise ValueError(
            f"pq_codes_int: need >= {n_codes} vectors, got {len(seed_rows)}"
        )
    # books[s][cid][d]: seed cid = rank of vec_id among the n_codes smallest
    books = [
        [
            [int(seed_rows[cid]["_q"][s * sub_dim + d]) for d in range(sub_dim)]
            for cid in range(n_codes)
        ]
        for s in range(n_subspaces)
    ]

    def _code_col(s: int) -> Column:
        # Build the unrolled argmin as ONE SQL string parsed JVM-side,
        # not n_codes*sub_dim Column operations (r15, VERDICT r14 Next
        # #4): the Column form issued ~1k py4j round-trips per subspace,
        # and with 8 _code_col builds per call the DRIVER spent ~4-5 s
        # of the query's 5 s constructing expression trees in Python
        # (measured: py-build 2.4 s for 4 subspaces vs 0.65 s of actual
        # cached-codegen execution). The parsed tree is operation-for-
        # operation identical — left-associative term addition, (x-c)*
        # (x-c) squares, named (dist, cid) structs, array_min ties to
        # the smallest cid — so plans, codegen source, and every integer
        # are unchanged; only the construction path moved off py4j.
        structs = []
        for cid in range(n_codes):
            terms = " + ".join(
                f"(element_at(_q, {s * sub_dim + d + 1}) - {books[s][cid][d]}L)"
                f" * (element_at(_q, {s * sub_dim + d + 1}) - {books[s][cid][d]}L)"
                for d in range(sub_dim)
            )
            structs.append(f"named_struct('dist', {terms}, 'cid', {cid})")
        # array_min on (dist, cid) structs: smallest distance, ties to the
        # smallest code id — lexicographic struct ordering does both
        return F.expr(f"array_min(array({', '.join(structs)})).cid")

    for _ in range(rounds - 1):
        assigned = pts.select(
            "_q", *[_code_col(s).alias(f"_c{s}") for s in range(n_subspaces)]
        )
        aggs = [F.count(F.lit(1)).alias("_n")] + [
            F.expr(f"sum(element_at(_q, {i + 1}))").alias(f"_s{i}")
            for i in range(dim)
        ]
        tuples = assigned.groupBy(
            *[f"_c{s}" for s in range(n_subspaces)]
        ).agg(*aggs).collect()
        for s in range(n_subspaces):
            sums = [[0] * sub_dim for _ in range(n_codes)]
            cnts = [0] * n_codes
            for row in tuples:
                cid = row[f"_c{s}"]
                cnts[cid] += int(row["_n"])
                for d in range(sub_dim):
                    sums[cid][d] += int(row[f"_s{s * sub_dim + d}"])
            for cid in range(n_codes):
                if cnts[cid]:  # empty cells keep their previous code
                    books[s][cid] = [
                        _trunc_div(sums[cid][d], cnts[cid])
                        for d in range(sub_dim)
                    ]
    return pts.select(
        F.col("_id").alias(id_col),
        *[_code_col(s).cast("int").alias(f"code_s{s}") for s in range(n_subspaces)],
    )
