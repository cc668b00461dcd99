"""Deduplication: exact, MinHash/SimHash/LSH, jaccard and containment joins,
fuzzy matching, clustering and blocking quality."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators import dedup, similarity, text
from spark_lakehouse_medallion_pipeline_spark.operators.dedup import (
    bloom_prefilter_semi_join,
    contrastive_pairs,
)
from spark_lakehouse_medallion_pipeline_spark.queries._common import _q, _t
from spark_lakehouse_medallion_pipeline_spark.queries.similarity import (
    _ivf_oracle_cells,
)


_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


@_q(
    "q28_exact_dedup_docs",
    f"""
    SELECT {_NORM_SQL} AS content_key,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY {_NORM_SQL}
    """,
)
def q28_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups (X17): hash-groupBy on normalized content."""
    return dedup.exact_dedup_groups(_t(spark, sf_dir, "documents"))


@_q("q33_minhash_candidates")  # LSH banding not ANSI-SQL-expressible; rows-only + pytest
def q33_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates (X18): shingle -> minhash -> band ->
    bucket join (never a cross join) -> pairs whose estimated jaccard is
    at least 0.5. Verified against exact jaccard in tests/test_dedup.py."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_near_dup_pairs(docs).select("id_a", "id_b", "jaccard_est")


@_q("q34_simhash_pairs")  # bit-twiddling fingerprint; rows-only + pytest
def q34_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (X18 variant) with pigeonhole chunk blocking."""
    return dedup.simhash_near_dup_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


# Each document's distinct normalized tokens (t), and the jaccard of two
# such sets over a self-join whose ON condition the caller appends.
_TOKSET_CTE = f"""t AS (
      SELECT doc_id,
             list_distinct(string_split_regex({_NORM_SQL}, '\\s+')) AS toks
      FROM documents
    )"""
_TOKSET_JACCARD_SQL = f"""
    WITH {_TOKSET_CTE}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / len(list_distinct(list_concat(a.toks, b.toks))) AS jaccard
    FROM t a JOIN t b ON """


@_q(
    "q35_ngram_jaccard_adjacent",
    _TOKSET_JACCARD_SQL + "b.doc_id = a.doc_id + 1\n    ",
)
def q35_ngram_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set jaccard (X18 verify stage) on adjacent doc pairs — keeps
    the demo O(n) while exercising the exact pairwise kernel. int/int
    division — bit-stable without rounding."""
    docs = _t(spark, sf_dir, "documents")
    pairs = docs.select(F.col("doc_id").alias("id_a")).join(
        docs.select((F.col("doc_id") - 1).alias("id_a"), F.col("doc_id").alias("id_b")),
        "id_a",
    )
    return dedup.ngram_jaccard_pairs(docs, pairs)


@_q(
    "q67_dedup_clusters",
    f"""
    WITH RECURSIVE
    {_TOKSET_CTE},
    prs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.5
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION SELECT id_b, id_a FROM prs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(a, b) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
    ),
    comp AS (SELECT a AS node, MIN(b) AS component FROM reach GROUP BY a)
    SELECT component, COUNT(*) AS n_members
    FROM comp GROUP BY component
    """,
)
def q67_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected components -> cluster sizes: the
    grouping step that turns pairwise candidates into keep/drop dedup
    groups (component id = min doc_id = the keeper). The pair set here is
    the deterministic adjacent-jaccard kernel (q35, threshold 0.5) so
    DuckDB can verify components via a recursive CTE; the same operator
    consumes MinHash/SimHash/cosine pairs in production."""
    docs = _t(spark, sf_dir, "documents")
    adjacent = docs.select(F.col("doc_id").alias("id_a")).join(
        docs.select((F.col("doc_id") - 1).alias("id_a"), F.col("doc_id").alias("id_b")),
        "id_a",
    )
    pairs = dedup.ngram_jaccard_pairs(docs, adjacent).filter(F.col("jaccard") >= 0.5)
    cc = dedup.connected_components(pairs)
    return cc.groupBy("component").agg(F.count(F.lit(1)).alias("n_members"))


@_q("q94_incremental_near_dup")  # xxhash64 banding is engine-side; rows-only + pytest
def q94_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-ingest dedup (X18 incremental form): treat doc_id % 10 == 0
    as the incoming shard and the rest as the already-ingested corpus
    (signatures persisted); keep shard docs with no LSH band collision
    against the corpus. Left-anti bucket join — no pair generation.
    Rows-only (xxhash64 banding, like q33/q34); the portable-md5 twin
    q209 value-oracles the identical incremental plan since round 8."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    sigs = dedup.minhash_signatures(existing)
    return dedup.incremental_near_dup_filter(new, sigs).select("doc_id")


@_q(
    "q96_semantic_dedup",
    f"""
    WITH {_ivf_oracle_cells(8)}, n AS (
      SELECT vec_id, cell,
             list_transform(e, x -> x / sqrt(list_reduce(
                 list_transform(e, y -> y*y), (a,b) -> a+b))) AS nv
      FROM ccell
    ), drops AS (
      SELECT DISTINCT b.vec_id
      FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE FLOOR(list_inner_product(a.nv, b.nv) * 1000000.0 + 0.5)
              / 1000000.0 >= 0.98
    )
    SELECT v.vec_id FROM v
    LEFT JOIN drops d ON d.vec_id = v.vec_id
    WHERE d.vec_id IS NULL
    """,
)
def q96_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (X19/X17 hybrid): cluster embeddings to IVF cells,
    drop within-cell near-identical vectors (keep lowest id). Pair
    generation never crosses cells — the paper's k-means-then-
    intra-cluster design. Planted-duplicate recall in pytest.
    Value-oracled since round 7 via the operator's portable IVF model
    (_ivf_oracle_cells): the oracle rebuilds the cells and replays the
    within-cell pair drop (per-row L2 normalization is the identical
    sqrt + sequential-sum chain on both engines; the operator e6-floors
    the pair dot before the threshold compare so summation-order ulps
    can't flip a drop at the boundary)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        emb.select("vec_id", "embedding"),
        threshold=0.98,
        n_centroids=8,
    ).select("vec_id")


@_q(
    "q109_fuzzy_name_pairs",
    """
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q109_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy match (record linkage): customer-name
    pairs within levenshtein distance 1. The ORACLE is the naive
    quadratic form; the Spark side blocks by SymSpell deletion
    neighborhoods (exact recall at d<=1, see operators.dedup.fuzzy_pairs)
    so the engine never materializes the O(n^2) comparison — identical
    output, scalable plan."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return dedup.fuzzy_pairs(cust, id_col="c_custkey", name_col="c_name")


@_q(
    "q137_bloom_prefilter_dedup",
    r"""
    WITH d AS (
      SELECT doc_id, source,
             md5(array_to_string(
                 (string_split_regex(lower(text), '\s+'))[1:2], ' ')) AS fp
      FROM documents
    ),
    ref AS (SELECT DISTINCT fp FROM d WHERE doc_id % 7 = 0),
    probe AS (SELECT doc_id, source, fp FROM d WHERE doc_id % 7 <> 0)
    SELECT p.source, COUNT(*) AS n_dup
    FROM probe p
    WHERE EXISTS (SELECT 1 FROM ref r WHERE r.fp = p.fp)
    GROUP BY p.source ORDER BY p.source
    """,
)
def q137_bloom_prefilter_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-ingest dedup with a broadcast bloom-bitset prefilter
    (operators.dedup.bloom_prefilter_semi_join): the already-ingested
    shard's fingerprints compress into a bit-table bounded by m_bits/64
    words (kilobytes, independent of corpus size); probe rows whose k
    hash bits are not all set drop at the scan, so the exact verify
    semi-join shuffles only candidates — the oracle is the PLAIN
    semi-join, pinning that the prefilter is invisible to results. At
    100 TB this is the difference between shuffling every ingested row
    and shuffling ~the duplicate rate. The fingerprint is the first two
    lowercased tokens (a boilerplate-header key with real collisions in
    this corpus — exact-text md5 finds zero and would pin nothing)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(
            F.concat_ws(" ", F.slice(F.split(F.lower(F.col("text")), r"\s+"), 1, 2))
        ).alias("fp"),
    )
    ref = docs.filter(F.col("doc_id") % 7 == 0).select("fp")
    probe = docs.filter(F.col("doc_id") % 7 != 0)
    dups = bloom_prefilter_semi_join(probe, ref, "fp", m_bits=1 << 20)
    return (
        dups.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_dup"))
        .orderBy("source")
    )


# Portable MinHash over a shingle CTE sh(doc_id, s): 16 md5-seeded minima
# per document (h) and their 4-row band keys (b), the DuckDB spelling of
# dedup._pmd5's hash family. Each user builds its own sh (shingle width,
# DISTINCT) ahead of it.
_MINHASH_BANDS_SQL = """h AS (
      SELECT doc_id, seed,
             MIN(('0x' || substr(md5(s || ':' || (seed // 2)),
                                 CASE WHEN seed % 2 = 0 THEN 2 ELSE 18 END,
                                 15))::BIGINT) AS m
      FROM sh CROSS JOIN (SELECT unnest(range(16)) AS seed)
      GROUP BY doc_id, seed
    ),
    b AS (
      SELECT doc_id, seed // 4 AS band,
             string_agg(m, ',' ORDER BY seed) AS bkey
      FROM h GROUP BY doc_id, seed // 4
    )"""


def _cp_h(expr: str, seed: int) -> str:
    """DuckDB side of dedup._pmd5: low 60 bits of md5(expr || '#seed')."""
    return f"('0x' || substr(md5({expr} || '#{seed}'), 2, 15))::BIGINT"


def _cp_pairing_ctes(seed: int) -> str:
    """One deterministic disjoint-pairing pass (dedup._hash_paired):
    bucket by seeded md5, rank by a second seeded md5
    inside the bucket, pair rank 2k-1 with rank 2k."""
    return f"""
    rk{seed} AS (
      SELECT _id, bkt, row_number() OVER (PARTITION BY bkt ORDER BY rh, _id) AS rn
      FROM (SELECT _id, {_cp_h('_idv', seed * 1000)} % nb.nb AS bkt,
                   {_cp_h('_idv', seed)} AS rh
            FROM ids CROSS JOIN nb)
    ),
    pr{seed} AS (
      SELECT LEAST(l._id, r._id) AS id_a, GREATEST(l._id, r._id) AS id_b
      FROM rk{seed} l JOIN rk{seed} r
        ON l.bkt = r.bkt AND l.rn % 2 = 1 AND r.rn = l.rn + 1
    )"""


_CP_SELHASH = _cp_h("CAST(id_a AS VARCHAR) || ':' || CAST(id_b AS VARCHAR)", 9)

_CONTRASTIVE_PORTABLE_SQL = (
    rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS l FROM documents
    ),
    sh AS (
      SELECT doc_id, array_to_string(l[i:i+1], ' ') AS s
      FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i
            FROM toks WHERE len(l) >= 2)
    ),
    {_MINHASH_BANDS_SQL},
    pos AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM b x JOIN b y
        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
    ),
    npos AS (SELECT COUNT(*) AS n FROM pos),
    ids AS (
      SELECT DISTINCT doc_id AS _id, CAST(doc_id AS VARCHAR) AS _idv
      FROM documents
    ),
    nb AS (
      SELECT LEAST(64, GREATEST(1, COUNT(*) // 16)) AS nb FROM ids
    ),"""
    + ",".join(_cp_pairing_ctes(s) for s in (1, 2, 3, 4))
    + f"""
    ,
    n1 AS (
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b,
               row_number() OVER (ORDER BY {_CP_SELHASH}, id_a, id_b) AS srn
        FROM pr1 pr
        WHERE NOT EXISTS (SELECT 1 FROM pos
                          WHERE pos.id_a = pr.id_a AND pos.id_b = pr.id_b)
      ) CROSS JOIN npos WHERE srn <= npos.n
    ),
    n2 AS (
      SELECT * FROM n1 UNION ALL
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b,
               row_number() OVER (ORDER BY {_CP_SELHASH}, id_a, id_b) AS srn
        FROM pr2 pr
        WHERE NOT EXISTS (SELECT 1 FROM pos
                          WHERE pos.id_a = pr.id_a AND pos.id_b = pr.id_b)
          AND NOT EXISTS (SELECT 1 FROM n1
                          WHERE n1.id_a = pr.id_a AND n1.id_b = pr.id_b)
      ) CROSS JOIN npos
      WHERE srn <= npos.n - (SELECT COUNT(*) FROM n1)
    ),
    n3 AS (
      SELECT * FROM n2 UNION ALL
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b,
               row_number() OVER (ORDER BY {_CP_SELHASH}, id_a, id_b) AS srn
        FROM pr3 pr
        WHERE NOT EXISTS (SELECT 1 FROM pos
                          WHERE pos.id_a = pr.id_a AND pos.id_b = pr.id_b)
          AND NOT EXISTS (SELECT 1 FROM n2
                          WHERE n2.id_a = pr.id_a AND n2.id_b = pr.id_b)
      ) CROSS JOIN npos
      WHERE srn <= npos.n - (SELECT COUNT(*) FROM n2)
    ),
    n4 AS (
      SELECT * FROM n3 UNION ALL
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b,
               row_number() OVER (ORDER BY {_CP_SELHASH}, id_a, id_b) AS srn
        FROM pr4 pr
        WHERE NOT EXISTS (SELECT 1 FROM pos
                          WHERE pos.id_a = pr.id_a AND pos.id_b = pr.id_b)
          AND NOT EXISTS (SELECT 1 FROM n3
                          WHERE n3.id_a = pr.id_a AND n3.id_b = pr.id_b)
      ) CROSS JOIN npos
      WHERE srn <= npos.n - (SELECT COUNT(*) FROM n3)
    ),
    allp AS (
      SELECT id_a, id_b, 1 AS label FROM pos
      UNION ALL
      SELECT id_a, id_b, 0 AS label FROM n4
    ),
    tk AS (
      SELECT doc_id,
             list_distinct(string_split_regex(lower(text), '\\s+')) AS t
      FROM documents
    ),
    sc AS (
      SELECT label,
             1000000 * len(list_intersect(ta.t, tb.t))
               // (len(ta.t) + len(tb.t) - len(list_intersect(ta.t, tb.t))) AS j6
      FROM allp
      JOIN tk ta ON ta.doc_id = allp.id_a
      JOIN tk tb ON tb.doc_id = allp.id_b
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(j6) // COUNT(*) AS BIGINT) AS mean_jaccard_e6
    FROM sc GROUP BY label
    """
)


@_q("q149_contrastive_pairs", _CONTRASTIVE_PORTABLE_SQL)
def q149_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining (dedup.contrastive_pairs):
    LSH near-dup candidates as positives, hash-bucket-paired non-
    colliding docs as negatives, 1:1. Output audits the mined set:
    per-label pair counts and mean token-set jaccard (positives must
    separate from negatives — also pinned in pytest).

    Value-oracled since round 8 (was rows-only for 7 rounds): the
    operator hashes with md5 everywhere (LSH positives = the q162
    family; pairing buckets/ranks and top-up selection order = seeded
    60-bit md5 with (id_a, id_b) tie-breaks) — and the oracle
    UNROLLS THE ITERATIVE TOP-UP LOOP as CTEs (the q188/q191/q192
    fixed-iteration discipline): pairing passes pr1..pr4, each top-up
    ranked by the selection hash and capped at the running deficit
    (n_k-1 full => cap <= 0 => CTE contributes nothing, exactly like
    the engine's early break). Audit metrics are exact integers: per
    pair j6 = 1e6*|inter| // |union|, per label mean = SUM(j6) //
    COUNT — truncating integer divides both engines share (trunc ==
    floor here, all non-negative). Determinism + label separation are
    pytest-pinned."""
    docs = _t(spark, sf_dir, "documents")
    # broadcast_distinct_shingles: this corpus's 2-shingle vocabulary is
    # bounded (same caller assertion q162/q222 already make on the same
    # fixture — measured 931 distinct vs 265k occurrences at sf0.1), so
    # hash the distinct table once instead of 8 md5 digests per
    # occurrence. Identical hash values => identical mined pairs; the
    # unrolled-CTE oracle re-proves it. 2.7x on the LSH stage (r15).
    pairs = contrastive_pairs(
        docs, num_hashes=16, bands=4, shingle_k=2,
        broadcast_distinct_shingles=True,
    )
    toks = docs.select(
        F.col("doc_id"),
        F.array_distinct(F.split(F.lower(F.col("text")), r"\s+")).alias("_t"),
    )
    scored = (
        pairs.join(toks.select(F.col("doc_id").alias("id_a"), F.col("_t").alias("_ta")), "id_a")
        .join(toks.select(F.col("doc_id").alias("id_b"), F.col("_t").alias("_tb")), "id_b")
        .select(
            "label",
            F.expr(
                "1000000L * size(array_intersect(_ta, _tb)) div "
                "(size(_ta) + size(_tb) - size(array_intersect(_ta, _tb)))"
            ).alias("_j6"),
        )
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("CAST(sum(_j6) div count(1) AS BIGINT)").alias("mean_jaccard_e6"),
        )
        .orderBy("label")
    )


@_q(
    "q152_fuzzy_name_pairs_d2",
    """
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE a.c_custkey % 5 = 0 AND b.c_custkey % 5 = 0
      AND levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def q152_fuzzy_name_pairs_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution at distance 2 (record linkage's common
    ask): customer-name pairs within levenshtein distance 2 — catches
    transpositions, which plain levenshtein scores as TWO substitutions
    and q109's d=1 therefore misses. The oracle is the naive quadratic
    form; the Spark side blocks by 2-delete SymSpell neighborhoods
    (exact recall at d<=2, operators.dedup.fuzzy_pairs) at the
    documented O(len^2/2)-keys-per-row explode cost — the engine never
    materializes the O(n^2) comparison. Restricted to custkey % 5 == 0:
    the synthetic digit-tail names make d<=2 pairs ~18% dense, so the
    unrestricted result is ~n^2/5 rows — noise for a driver-collected
    comparison, same operator coverage either way."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 5 == 0)
        .select("c_custkey", "c_name")
    )
    return dedup.fuzzy_pairs(cust, id_col="c_custkey", name_col="c_name", max_dist=2)


@_q(
    "q159_jaccard_prefix_join",
    _TOKSET_JACCARD_SQL
    + """a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks)) * 10
            >= 9 * len(list_distinct(list_concat(a.toks, b.toks)))
    """,
)
def q159_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-threshold similarity self-join (X18's guaranteed-recall
    complement to MinHash-LSH): all doc pairs with token-set jaccard >=
    0.9, found by prefix filtering — rarest-token prefixes bucket the
    corpus, the threshold test is integer cross-multiplication, and
    recall is provable, not probabilistic
    (operators.dedup.jaccard_join_prefix_filter; the ORACLE is the naive
    quadratic form). This corpus's shared vocabulary is the documented
    worst case for prefix pruning — the operator stays correct, the
    docstring says when to prefer LSH."""
    return dedup.jaccard_join_prefix_filter(
        _t(spark, sf_dir, "documents"), threshold_num=9, threshold_den=10
    )


@_q(
    "q160_unicode_nfc_dedup",
    """
    WITH v AS (
      SELECT doc_id,
             'résum' || CASE WHEN doc_id % 2 = 0 THEN 'é'
                             ELSE 'e' || chr(769) END
               || ' doc ' || CAST(doc_id // 2 AS VARCHAR) AS text
      FROM documents
    )
    SELECT nfc_normalize(text) AS content_key,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM v GROUP BY 1
    """,
)
def q160_unicode_nfc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-canonical exact dedup (web-corpus reality: composed
    U+00E9 'é' and decomposed 'e'+U+0301 are byte-different, so plain
    hash dedup misses canonically-equal documents): per-doc texts are
    synthesized in both encodings (even ids composed, odd decomposed,
    paired by doc_id div 2), NFC-normalized via the Arrow pandas UDF
    (operators.text.nfc_normalized — Spark has no normalization
    builtin), then hash-deduped on the canonical bytes. DuckDB's
    nfc_normalize reproduces the canonical form, so the whole path is
    value-hashed — each pair collapses to one group of n_copies=2."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    variant = F.concat(
        F.lit("résum"),
        # composed U+00E9 for even ids, decomposed e + U+0301 for odd
        F.when(F.col("doc_id") % 2 == 0, F.lit("\u00e9")).otherwise(
            F.lit("e\u0301")
        ),
        F.lit(" doc "),
        F.expr("CAST(doc_id div 2 AS STRING)"),
    )
    normed = text.nfc_normalized(docs.withColumn("text", variant))
    return normed.groupBy(F.col("text_nfc").alias("content_key")).agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@_q(
    "q162_minhash_portable",
    rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS l FROM documents
    ),
    sh AS (
      SELECT doc_id, array_to_string(l[i:i+2], ' ') AS s
      FROM (SELECT doc_id, l, unnest(range(1, len(l) - 1)) AS i
            FROM toks WHERE len(l) >= 3)
    ),
    {_MINHASH_BANDS_SQL},
    p AS (
      SELECT x.doc_id AS id_a, y.doc_id AS id_b
      FROM b x JOIN b y
        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
    )
    SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_shared_bands
    FROM p GROUP BY id_a, id_b
    """,
)
def q162_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates with a PORTABLE md5 hash family —
    the first VALUE-oracled entry in the LSH family (q33's xxhash64 fast
    path is Spark-specific, so it can only ever be rows-only + recall-
    pytested; here hash i of each 3-shingle is the low 60 bits of
    md5(shingle || ':' || i), reproduced digit-for-digit by the DuckDB
    oracle, so signatures, band keys, bucket membership, and the final
    (id_a, id_b, n_shared_bands) all hash-compare). Each md5 digest
    feeds TWO 60-bit hash slots (hex digits 2..16 and 18..32), halving
    the digest count (~10% here — codegen CSE already de-duplicates).
    Same plan shape as the fast path: one map-side-combined min
    aggregate, one bucket shuffle, in-bucket pair generation — never a
    cross join. This corpus has a BOUNDED vocabulary, so the distinct
    3-shingle table is tiny: hash it once and broadcast-join back
    (measured 1.8x end-to-end at sf0.1; an explicit opt-in — see
    broadcast_distinct_shingles in operators/dedup.py for why inline
    hashing stays the default at web scale)."""
    return dedup.minhash_lsh_candidates_portable(
        _t(spark, sf_dir, "documents"),
        num_hashes=16,
        bands=4,
        shingle_k=3,
        broadcast_distinct_shingles=True,
    )


@_q(
    "q165_simhash_portable",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             ('0x' || substr(md5(w), 18, 15))::BIGINT AS hh
      FROM toks
    ),
    bits AS (
      SELECT doc_id, j,
             SUM(CASE WHEN (hh >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN (SELECT unnest(range(60)) AS j)
      GROUP BY doc_id, j
    ),
    fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    ),
    nt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
           FROM toks GROUP BY doc_id)
    SELECT fp.doc_id, fp.simhash, nt.n_tokens
    FROM fp JOIN nt ON fp.doc_id = nt.doc_id
    """,
)
def q165_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints with the portable md5 hash family — every
    bit of every document's 60-bit fingerprint value-hashes against the
    DuckDB oracle (q34's xxhash64 SimHash is Spark-specific, so its
    correctness rests on recall pytest; this entry pins the sketch
    itself). Engine side computes the 60 majority votes as codegen'd
    conditional sums in ONE map-side-combined aggregate — the oracle's
    readable cross-join-with-range(60) form would shuffle 60 rows per
    doc, exactly the explosion the column form avoids at 100 TB."""
    return dedup.simhash_portable(_t(spark, sf_dir, "documents"))


@_q(
    "q179_chunk_dedup_first",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ), chunks AS (
      SELECT doc_id, CAST(g AS BIGINT) AS pos,
             array_to_string(t[g*10+1 : g*10+10], ' ') AS chunk
      FROM toks, LATERAL UNNEST(range(CAST(ceil(len(t)/10.0) AS BIGINT))) AS u(g)
    ), flagged AS (
      SELECT doc_id, pos, chunk,
             row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) = 1
               AS keep
      FROM chunks
    )
    SELECT doc_id, COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN keep THEN chunk END, ' '
                               ORDER BY pos), '') AS text_clean
    FROM flagged GROUP BY doc_id
    """,
)
def q179_chunk_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document chunk-level exact dedup with FIRST-OCCURRENCE
    keeper and reassembly — paragraph-granularity exact-substring dedup
    (RefinedWeb / "Deduplicating Training Data Makes LMs Better"):
    exactly ONE copy of every duplicated 10-token span survives
    corpus-wide (lowest (doc_id, pos) wins), each doc rebuilt from its
    surviving chunks in order. Distinct from q114, which removes
    boilerplate lines from EVERY doc including the first. The oracle
    replays the identical dataflow; every reassembled string must match
    byte-for-byte (operators.dedup.dedup_chunks_keep_first — one
    min-struct keeper shuffle, no collect_list of doc ids)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.dedup_chunks_keep_first(docs)


_CONTAINMENT_SQL = r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS l FROM documents
    ),
    tk AS (
      SELECT DISTINCT doc_id, array_to_string(l[i:i+1], ' ') AS t
      FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i
            FROM toks WHERE len(l) >= 2)
    ),
    nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tk),
    df AS (SELECT t, COUNT(*) AS df FROM tk GROUP BY t),
    dk AS (  -- distinctive tokens only: df <= N/2 (stop-token cap)
      SELECT tk.doc_id, tk.t FROM tk JOIN df USING (t) CROSS JOIN nn
      WHERE df.df * 2 <= nn.n
    ),
    sz AS (SELECT doc_id, COUNT(*) AS sa FROM dk GROUP BY doc_id),
    probes AS (SELECT doc_id AS probe_id, sa FROM sz WHERE doc_id % 20 = 0 AND sa >= 1),
    pairs AS (
      SELECT pr.probe_id, d.doc_id, COUNT(*) AS shared
      FROM probes pr
      JOIN dk p ON p.doc_id = pr.probe_id
      JOIN dk d ON d.t = p.t AND d.doc_id <> pr.probe_id
      GROUP BY pr.probe_id, d.doc_id
    ),
    scored AS (
      SELECT pa.probe_id, pa.doc_id, pa.shared,
             CAST(pa.shared * 1000000 // pr.sa AS BIGINT) AS cont_e6,
             CASE WHEN pa.shared * 5 >= pr.sa * 4 THEN 1 ELSE 0 END AS hit
      FROM pairs pa JOIN probes pr USING (probe_id)
    ),
    top1 AS (
      SELECT probe_id, doc_id AS top_doc, cont_e6 AS top_cont_e6 FROM (
        SELECT probe_id, doc_id, cont_e6,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY cont_e6 DESC, doc_id DESC) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT pr.probe_id, pr.sa AS n_probe_tokens,
           COALESCE(agg.n_containers, 0) AS n_containers,
           top1.top_doc, top1.top_cont_e6
    FROM probes pr
    LEFT JOIN (SELECT probe_id, CAST(SUM(hit) AS BIGINT) AS n_containers
               FROM scored GROUP BY probe_id) agg USING (probe_id)
    LEFT JOIN top1 USING (probe_id)
    """


@_q("q204_containment_scan", _CONTAINMENT_SQL)
def q204_containment_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided token-CONTAINMENT audit — the quote/subset-duplication
    detector jaccard misses (a short doc fully quoted inside a long one
    has low jaccard but containment ~1): for a deterministic 5% probe
    set (doc_id % 20 = 0), count corpus docs containing >= 80% of the
    probe's distinctive 2-gram shingles and surface the best-covering
    doc. SHINGLES, not unigrams: this corpus has a 31-token universal
    vocabulary (every unigram hits the stop cap), while its ~900
    bigrams have healthy document frequencies — the same reason q162's
    LSH shingles. Containment is computed over DISTINCTIVE shingles
    only (document frequency <= N/2) — the stop-token cap that keeps
    the inverted-index join from degenerating on corpus-universal
    terms, mirrored exactly in the oracle (integer df*2 <= n compare;
    the cap is a no-op on THIS corpus but is the 100 TB contract).
    Docs under 2 tokens drop out (no bigrams). All arithmetic
    integer (shared*1e6 div |A|; threshold as shared*5 >= 4*|A|);
    argmax doc via max-struct with (containment, doc_id) ordering =
    oracle's row_number DESC/DESC. Scale shape: explode -> df filter
    (vocabulary-sized broadcast side) -> token-equality join whose
    fan-out is bounded by the df cap -> pair aggregate -> per-probe
    rollup; probes per partition scale with the probe fraction, and
    the output is PROBE-sized, never pair-sized."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("_l")
    ).filter(F.size("_l") >= 2)
    tk = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("_l") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("_l", i), F.element_at("_l", i + 1)
                    ),
                )
            )
        ).alias("t"),
    )
    n = tk.select("doc_id").distinct().count()
    dfreq = tk.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    dk = tk.join(
        F.broadcast(dfreq.filter(F.col("df") * 2 <= F.lit(n)).select("t")), "t"
    )
    sz = dk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sa"))
    probes = (
        sz.filter((F.col("doc_id") % 20 == 0) & (F.col("sa") >= 1))
        .select(F.col("doc_id").alias("probe_id"), "sa")
        .localCheckpoint(eager=True)
    )
    p_t = dk.join(
        probes.select(F.col("probe_id").alias("doc_id")), "doc_id"
    ).select(F.col("doc_id").alias("probe_id"), "t")
    pairs = (
        p_t.join(dk.withColumnRenamed("doc_id", "doc_id_b"), "t")
        .filter(F.col("doc_id_b") != F.col("probe_id"))
        .groupBy("probe_id", F.col("doc_id_b").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    scored = pairs.join(probes, "probe_id").select(
        "probe_id",
        "doc_id",
        F.expr("CAST(shared * 1000000L div sa AS BIGINT)").alias("cont_e6"),
        F.when(F.col("shared") * 5 >= F.col("sa") * 4, 1).otherwise(0).alias("hit"),
    )
    per_probe = scored.groupBy("probe_id").agg(
        F.sum("hit").cast("bigint").alias("n_containers"),
        F.max(F.struct(F.col("cont_e6").alias("c"), F.col("doc_id").alias("d"))).alias(
            "_top"
        ),
    )
    return (
        probes.join(per_probe, "probe_id", "left")
        .select(
            "probe_id",
            F.col("sa").alias("n_probe_tokens"),
            F.coalesce("n_containers", F.lit(0).cast("bigint")).alias("n_containers"),
            F.col("_top.d").alias("top_doc"),
            F.col("_top.c").alias("top_cont_e6"),
        )
    )


@_q(
    "q209_incremental_near_dup_portable",
    rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS l FROM documents
    ),
    sh AS (
      SELECT doc_id, array_to_string(l[i:i+2], ' ') AS s
      FROM (SELECT doc_id, l, unnest(range(1, len(l) - 1)) AS i
            FROM toks WHERE len(l) >= 3)
    ),
    {_MINHASH_BANDS_SQL},
    dup AS (
      SELECT DISTINCT nb.doc_id
      FROM b nb JOIN b ob
        ON ob.band = nb.band AND ob.bkey = nb.bkey AND ob.doc_id % 10 <> 0
      WHERE nb.doc_id % 10 = 0
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id % 10 = 0
      AND NOT EXISTS (SELECT 1 FROM dup WHERE dup.doc_id = d.doc_id)
    """,
)
def q209_incremental_near_dup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-ingest near-dup filter, VALUE-ORACLED — the portable twin
    of q94 (whose xxhash64 banding is engine-side forever, like
    q33/q34): the incoming shard (doc_id % 10 = 0) keeps only docs
    with NO portable-md5 LSH band collision against the already-
    ingested corpus's persisted banded signatures. With this entry
    every rows-only battery member has either a value-oracled twin
    (q33->q162, q34->q165, q94->here, q140/q143->q201, q156->q198) or
    a documented impossibility (native HLL/KLL sketches, generator
    profiles). Same plan as q94: sign the small shard, ONE left-semi
    band-bucket hash join for dup ids, left-anti back — no pair
    generation, probe cost scales with the shard, not the corpus
    (dedup.minhash_banded_portable, the shared intermediate behind
    q162/q149's oracles). Docs under shingle_k tokens have no bands
    and trivially survive — mirrored by the oracle's NOT EXISTS."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    # broadcast_distinct_shingles on both sides: same bounded-vocabulary
    # assertion q162/q149 make on this fixture — the distinct 3-shingle
    # table is tiny next to the occurrence stream, so each side hashes
    # its distinct shingles once instead of 8 md5 digests per occurrence
    # (identical hash values => identical bands; oracle re-proves).
    nb = dedup.minhash_banded_portable(
        new, num_hashes=16, bands=4, shingle_k=3,
        broadcast_distinct_shingles=True,
    )
    ob = dedup.minhash_banded_portable(
        existing, num_hashes=16, bands=4, shingle_k=3,
        broadcast_distinct_shingles=True,
    ).select("band", "bkey")
    dup_ids = (
        nb.join(ob, ["band", "bkey"], "left_semi")
        .select(F.col("_id").alias("_dup_id"))
        .distinct()
    )
    return new.select("doc_id").join(
        dup_ids, F.col("doc_id") == F.col("_dup_id"), "left_anti"
    )


@_q(
    "q222_dup_cluster_profile",
    f"""
    WITH g AS (SELECT {_NORM_SQL} AS content_key, COUNT(*) AS sz
               FROM documents GROUP BY {_NORM_SQL}),
    h AS (SELECT CAST(sz AS BIGINT) AS cluster_size,
                 CAST(COUNT(*) AS BIGINT) AS n_clusters
          FROM g GROUP BY sz),
    m AS (SELECT CAST(SUM(cluster_size * n_clusters) AS BIGINT) AS n_docs
          FROM h)
    SELECT cluster_size, n_clusters,
           CAST(cluster_size * n_clusters AS BIGINT) AS docs_in_size,
           CAST((1000000 * cluster_size * n_clusters) // n_docs AS BIGINT)
             AS corpus_share_e6
    FROM h CROSS JOIN m
    """,
)
def q222_dup_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the AUDIT report on top of
    exact dedup (q28): how many content clusters exist at each copy
    count and what share of the corpus each size class holds (the
    histogram a curation run reads to decide whether dedup is worth a
    full LSH pass, and the exact twin of the planted-dup canary the
    LSH bench enforces). Same normalization as q28 so the two agree
    row-for-row. All integer; share is a truncating e6 divide. Plan:
    the content-key groupBy is the only data-sized shuffle (identical
    to q28's); the size histogram and the 1-row total are
    cluster-count-sized."""
    g = dedup.exact_dedup_groups(_t(spark, sf_dir, "documents")).select(
        F.col("n_copies").alias("sz")
    )
    h = g.groupBy("sz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    ).select(F.col("sz").cast("bigint").alias("cluster_size"), "n_clusters")
    m = h.agg(
        F.sum(F.col("cluster_size") * F.col("n_clusters"))
        .cast("bigint")
        .alias("n_docs")
    )
    return h.crossJoin(F.broadcast(m)).select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters"))
        .cast("bigint")
        .alias("docs_in_size"),
        F.expr(
            "CAST((1000000 * cluster_size * n_clusters) div n_docs AS BIGINT)"
        ).alias("corpus_share_e6"),
    )


@_q(
    "q238_blocking_quality",
    rf"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 10000000, text || ' zzdup zzdup'
      FROM documents WHERE doc_id % 7 = 0
    ),
    toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS l
      FROM corpus
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS s
      FROM (SELECT doc_id, l, unnest(range(1, len(l) - 1)) AS i
            FROM toks WHERE len(l) >= 3)
    ),
    sz AS (SELECT doc_id, COUNT(*) AS sa FROM sh GROUP BY doc_id),
    {_MINHASH_BANDS_SQL},
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM b x JOIN b y
        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b2.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b2 ON a.s = b2.s AND a.doc_id < b2.doc_id
      GROUP BY a.doc_id, b2.doc_id
    ),
    truth AS (
      SELECT i.id_a, i.id_b
      FROM inter i JOIN sz za ON za.doc_id = i.id_a
                   JOIN sz zb ON zb.doc_id = i.id_b
      WHERE 5 * i.i >= 4 * (za.sa + zb.sa - i.i)
    ),
    m AS (
      SELECT (SELECT COUNT(*) FROM sz) AS n_docs,
             (SELECT COUNT(*) FROM cand) AS n_candidates,
             (SELECT COUNT(*) FROM truth) AS n_true,
             (SELECT COUNT(*) FROM truth t JOIN cand c
                ON c.id_a = t.id_a AND c.id_b = t.id_b) AS n_caught
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS n_all_pairs,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_caught AS BIGINT) AS n_caught,
           CAST(1000000 - (1000000 * n_candidates)
                // greatest(n_docs * (n_docs - 1) // 2, 1) AS BIGINT)
             AS reduction_e6,
           CAST((1000000 * n_caught) // greatest(n_true, 1) AS BIGINT)
             AS completeness_e6
    FROM m
    """,
)
def q238_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality evaluation for the LSH dedup pipeline — the ER
    metrics (Christen 2012) that tell you whether a blocking scheme is
    SAFE to deploy at 100 TB: REDUCTION RATIO (what fraction of the
    quadratic pair space the band join avoids) and PAIR COMPLETENESS
    (what fraction of genuinely-near-duplicate pairs the blocks still
    catch, here truth = 3-shingle Jaccard >= 0.8 via the integer
    cross-multiply 5*inter >= 4*union). Completes the eval suite next
    to q183 (ANN recall) and q212 (ranking quality). Truth is exact
    Jaccard, which is quadratic BY NATURE — so it runs on a
    deterministic 1-in-7 sample (doc_id % 7), exactly how a production
    audit bounds it; candidates restrict to the same sample, which
    yields the same within-sample pairs the corpus-wide band join
    would (banding is per-document). Plan: the truth side is an
    inverted-index token join on distinct shingles (never a crossJoin;
    df-cap per q204 is the web-scale knob), the candidate side is
    q162's banded self-join; both integer-exact, one final 1-row
    aggregate. The natural corpus has no Jaccard>=0.8 pairs, so each
    sampled doc gets a PLANTED near-dup twin (id + 1e7, text + two
    appended tokens, adding 2 boundary shingles: a doc with s distinct
    shingles twins at j = s/(s+2), i.e. >= 0.8 whenever s >= 8) — the
    standard seeded-truth protocol for blocking audits, deterministic
    on both engines."""
    base = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    docs = base.select("doc_id", "text").unionAll(
        base.select(
            (F.col("doc_id") + 10000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzdup zzdup")).alias("text"),
        )
    )
    bands = dedup.minhash_banded_portable(
        docs, num_hashes=16, bands=4, shingle_k=3,
        broadcast_distinct_shingles=True,
    )
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b"))
        .distinct()
    )
    toks = docs.select(
        "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("l")
    ).filter(F.size("l") >= 3)
    sh = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("l") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("l"), i),
                    F.element_at(F.col("l"), i + 1),
                    F.element_at(F.col("l"), i + 2),
                ),
            )
        ).alias("s"),
    ).distinct()
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sa"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b2"),
            (F.col("a.s") == F.col("b2.s"))
            & (F.col("a.doc_id") < F.col("b2.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b2.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    truth = (
        inter.join(sz.select(F.col("doc_id").alias("id_a"), F.col("sa").alias("za")), "id_a")
        .join(sz.select(F.col("doc_id").alias("id_b"), F.col("sa").alias("zb")), "id_b")
        .filter(5 * F.col("i") >= 4 * (F.col("za") + F.col("zb") - F.col("i")))
        .select("id_a", "id_b")
    )
    caught = truth.join(cand, ["id_a", "id_b"])
    n_docs = sz.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    stats = (
        n_docs.crossJoin(
            F.broadcast(cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates")))
        )
        .crossJoin(
            F.broadcast(truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true")))
        )
        .crossJoin(
            F.broadcast(caught.agg(F.count(F.lit(1)).cast("bigint").alias("n_caught")))
        )
    )
    return stats.select(
        "n_docs",
        F.expr("CAST(n_docs * (n_docs - 1) div 2 AS BIGINT)").alias("n_all_pairs"),
        "n_candidates",
        "n_true",
        "n_caught",
        F.expr(
            "CAST(1000000 - (1000000 * n_candidates)"
            " div greatest(n_docs * (n_docs - 1) div 2, CAST(1 AS BIGINT))"
            " AS BIGINT)"
        ).alias("reduction_e6"),
        F.expr(
            "CAST((1000000 * n_caught)"
            " div greatest(n_true, CAST(1 AS BIGINT)) AS BIGINT)"
        ).alias("completeness_e6"),
    )
