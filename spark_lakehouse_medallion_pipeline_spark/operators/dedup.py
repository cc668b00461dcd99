"""Deduplication operators for LLM-data pipelines (SURVEY.md §2b X17-X18).

Four tiers, all shuffle-on-key (never cross-join), so each scales to 100 TB:

  exact            hash-groupBy on normalized text            (1 shuffle)
  minhash_lsh      shingle -> minhash -> band -> bucket join  (2 shuffles)
  simhash          64-bit sign-of-weighted-sum fingerprint    (1 shuffle)
  ngram_jaccard    token-set jaccard on candidate pairs       (verify stage)

The LSH path is the canonical web-scale near-dup design (shingling +
MinHash from Broder '97; banding from Mining of Massive Datasets ch.3):
documents sharing ANY band bucket become candidate pairs; jaccard on the
full signature (or token sets) verifies. Everything below is pure Column
expressions — higher-order array functions, xxhash64 — no Python UDFs, so
the hot path stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators.text import (
    normalized_text,
    whitespace_tokens,
)


def exact_dedup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup over normalized text: one row per distinct content,
    keeping the smallest id (deterministic keeper) + the copy count."""
    return (
        docs.groupBy(normalized_text(F.col(text_col)).alias("content_key"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def drop_exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep exactly the keeper row per distinct normalized text. Implemented
    as min-id-per-content semi-join rather than dropDuplicates so the kept
    row is deterministic under any partitioning."""
    keepers = exact_dedup_groups(docs, id_col, text_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return docs.join(keepers, on=id_col, how="left_semi")


def _fast_tokens(text: Column) -> Column:
    """``whitespace_tokens(normalized_text(text))`` minus the redundant
    collapse pass (optimization round, guide §1.2 per-task work): the
    composed form runs ``regexp_replace(lower(trim(x)), '\\s+', ' ')``
    — a full regex scan + string rebuild — only for ``split`` to
    re-scan with the same ``\\s+`` pattern. Splitting the un-collapsed
    string yields the IDENTICAL token array for every input: runs of
    whitespace are one separator either way, and leading/trailing
    whitespace of EVERY class is stripped by the anchored regex below —
    plain ``F.trim`` strips only spaces, so the r14 form grew an
    empty-string token on inputs like ``'foo\\n'`` where the composed
    form (whose outer trim runs AFTER collapsing turned the newline
    into a space) did not (r15 ADVICE fix). '' still yields [''], so
    every hash/jaccard derived from it is bit-identical to the
    composed form. Use only where the TOKENS are consumed — code that
    needs the collapsed STRING itself (exact_dedup content keys) keeps
    normalized_text."""
    return F.split(F.regexp_replace(F.lower(text), r"^\s+|\s+$", ""), r"\s+")


def word_shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles as array<string> over normalized text."""
    toks = whitespace_tokens(normalized_text(text))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
    )


def base_shingle_hashes(text: Column, shingle_k: int = 3) -> Column:
    """Each document's shingle set as 64-bit hashes (array<bigint>).

    Shape matters: the naive ``transform(word_shingles(...), xxhash64)``
    lambda captures the whole tokenize+normalize subtree, and interpreted
    higher-order evaluation re-runs that subtree once PER ELEMENT —
    measured 9x slower at sf0.1 (6s -> 0.65s for 260k shingles). Here
    each token is hashed once, then the shingle hash is a zip_with fold
    over k shifted copies of the token-hash array: every argument
    evaluates once per row and the lambdas touch only their own
    variables — all integer ops, no string assembly.
    """
    th = F.transform(_fast_tokens(text), lambda t: F.xxhash64(t))
    if shingle_k <= 1:
        return th
    acc = th
    for j in range(1, shingle_k):
        shifted = F.slice(th, j + 1, F.greatest(F.size(th) - j, F.lit(0)))
        # zip_with pads the shorter side with nulls; xxhash64 skips null
        # inputs, so trailing entries hash the partial window. They are
        # sliced off below — keeping one for docs shorter than k tokens,
        # mirroring word_shingles' "whatever remains" fallback shingle.
        acc = F.zip_with(acc, shifted, lambda a, b: F.xxhash64(a, b))
    return F.slice(acc, 1, F.greatest(F.size(th) - (shingle_k - 1), F.lit(1)))


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """(_id, _sig) signature table — the reusable intermediate. At scale
    this is what you persist/checkpoint so banding, candidate joins, and
    verification all read it instead of re-shingling the corpus.

    Fast path: explode the per-doc shingle hashes to rows, then take
    per-position mins with the hash family FUSED into the aggregate
    expressions — ``min(xxhash64(h, i))`` per position (whole-stage
    codegen; higher-order lambdas evaluate interpreted and measured
    10x+ slower). Fusing skips the intermediate 64-column projection
    row the old project-then-aggregate form wrote per shingle (r15,
    guide §1.2 per-task work; min-of-3 A/B 6.21 -> 5.90 s on the 1M
    sig stage, outputs proven identical by two-way exceptAll). The
    map-side partial aggregation means the shuffle carries ~one row per
    (doc, partition), not one per shingle."""
    base = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(base_shingle_hashes(F.col(text_col), shingle_k)).alias("_h"),
    )
    mins = base.groupBy("_id").agg(
        *[
            F.min(F.xxhash64(F.col("_h"), F.lit(i))).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    )
    return mins.select(
        "_id", F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("_sig")
    )


def _banded(sig_df: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Explode signatures to (_id, band, band_hash). Band hash is a
    multi-argument xxhash64 over the band's signature slots — plain
    codegen'd integer hashing, no string assembly."""
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes}) — "
            "a remainder would silently drop trailing signature positions"
        )
    rpb = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.element_at(F.col("_sig"), b * rpb + j + 1) for j in range(rpb)]
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sig_df.select("_id", F.explode(band_structs).alias("bb")).select(
        "_id", "bb.band", "bb.band_hash"
    )


def _bucket_pairs(ids: Column) -> Column:
    """All (id_a < id_b) pairs from a sorted bucket id array."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ids) - 1),
            lambda i: F.transform(
                F.slice(ids, 1, i),
                lambda a: F.struct(
                    a.alias("id_a"), F.element_at(ids, i + 1).alias("id_b")
                ),
            ),
        )
    )


def _pairs_from_banded(
    banded: DataFrame, key_cols: list[str], max_bucket: int | None = None
) -> DataFrame:
    """Hash-agnostic bucket-to-pairs tail shared by the xxhash64 fast
    path and the portable-md5 path: groupBy the band bucket collecting
    sorted ids, optionally cap degenerate buckets, generate in-bucket
    (id_a < id_b) pairs, count shared bands. ONE shuffle."""
    buckets = (
        banded.groupBy(*key_cols)
        .agg(F.array_sort(F.collect_list("_id")).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("_ids") <= max_bucket)
    return (
        buckets.select(F.explode(_bucket_pairs(F.col("_ids"))).alias("p"))
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def minhash_lsh_candidates_from_signatures(
    sig_df: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate pairs from a signature table.

    Plan shape: ONE shuffle — groupBy (band, band_hash) collecting the
    bucket's ids, then pairs are generated inside each bucket row. This
    replaces the banded self-join, which scanned + re-computed the
    signature projection twice and shuffled both copies.

    ``max_bucket`` drops degenerate buckets (at web scale a bucket with
    10^5 members is boilerplate/empty-page text; its O(n^2) pairs add no
    information — capping is standard practice, None = exact).
    """
    banded = _banded(sig_df, num_hashes, bands)
    return _pairs_from_banded(banded, ["band", "band_hash"], max_bucket)


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    Plan shape: project signatures (scan-local) -> explode to (band,
    band_hash, id) -> groupBy bucket -> in-bucket pair generation. The
    grouping key is the band bucket, so co-bucketed docs only — never a
    cross join. rows ~ docs * bands; at 100 TB, band_hash is a
    well-spread 64-bit key, so the shuffle is uniform (no salting
    needed).

    Returns (id_a, id_b, n_shared_bands) with id_a < id_b.
    """
    sig = minhash_signatures(docs, id_col, text_col, num_hashes, shingle_k)
    return minhash_lsh_candidates_from_signatures(sig, num_hashes, bands)


def minhash_jaccard_estimate(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Verify candidates: estimated jaccard = fraction of matching minhash
    positions. Joins signatures to both sides of the candidate pairs.

    Pass ``signatures`` (a (_id, _sig) table, ideally persisted) to skip
    re-shingling the corpus — the dominant cost; without it the corpus
    is re-signed here via the explode fast path."""
    sig = (
        signatures.select(F.col("_id").alias("_sid"), "_sig")
        if signatures is not None
        else minhash_signatures(docs, id_col, text_col, num_hashes, shingle_k).select(
            F.col("_id").alias("_sid"), "_sig"
        )
    )
    a = sig.select(F.col("_sid").alias("id_a"), F.col("_sig").alias("sig_a"))
    b = sig.select(F.col("_sid").alias("id_b"), F.col("_sig").alias("sig_b"))
    paired = candidates.join(a, "id_a").join(b, "id_b")
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return paired.select(
        "id_a",
        "id_b",
        (matches.cast("double") / F.lit(float(num_hashes))).alias("jaccard_est"),
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    min_jaccard: float | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: signatures once -> LSH candidates ->
    signature-match jaccard estimate.

    The signature table is pinned with a lazy localCheckpoint, so
    shingling+hashing — the dominant cost — runs exactly once even though
    three plan branches consume it (banding, id_a join, id_b join). The
    pin belongs to the returned frame and is released when that frame is
    garbage-collected; nothing enters the session's cache. At 100 TB the
    equivalent move is checkpointing signatures to a table; the plan
    shape is identical.

    Returns (id_a, id_b, n_shared_bands, jaccard_est), id_a < id_b.
    """
    sig = minhash_signatures(
        docs, id_col, text_col, num_hashes, shingle_k
    ).localCheckpoint(eager=False)
    cands = minhash_lsh_candidates_from_signatures(sig, num_hashes, bands, max_bucket)
    a = sig.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a"))
    b = sig.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b"))
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    est = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared_bands",
            (matches.cast("double") / F.lit(float(num_hashes))).alias("jaccard_est"),
        )
    )
    if min_jaccard is not None:
        est = est.filter(F.col("jaccard_est") >= min_jaccard)
    return est


# One-pass SimHash fold, SQL-lambda form. The PySpark shiftright() wrapper
# only takes a literal shift, but the SQL `>>` operator shifts by a column —
# so the per-bit vote loop lives in an expr over a prepared `_hashes` array.
_SIMHASH_VOTES = (
    "aggregate(_hashes, array_repeat(0L, 64),"
    " (acc, h) -> zip_with(acc, sequence(0, 63),"
    "   (a, i) -> a + CASE WHEN (h >> i) & 1 = 1 THEN 1L ELSE -1L END))"
)
_SIMHASH_EXPR = (
    f"aggregate(zip_with({_SIMHASH_VOTES}, sequence(0, 63),"
    " (v, i) -> CASE WHEN v > 0 THEN shiftleft(1L, i) ELSE 0L END),"
    " 0L, (acc, x) -> acc | x)"
)


def with_simhash64(
    df: DataFrame, text_col: str, out_col: str = "simhash", shingle_k: int = 2
) -> DataFrame:
    """64-bit SimHash over word shingles (Charikar '02): bit i of the
    fingerprint is the sign of the sum over tokens of ±1 per token-hash
    bit. One aggregate pass over the token hashes per document; pure
    JVM expressions."""
    # base_shingle_hashes, not transform(word_shingles, xxhash64): the
    # latter re-evaluates the captured tokenization subtree per element
    # under interpreted HOF evaluation (see base_shingle_hashes).
    hashes = base_shingle_hashes(F.col(text_col), shingle_k)
    return df.withColumn("_hashes", hashes).withColumn(
        out_col, F.expr(_SIMHASH_EXPR)
    ).drop("_hashes")


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    shingle_k: int = 2,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Blocking: split the 64-bit fingerprint into (max_hamming+1) chunks —
    two fingerprints within hamming distance h differ in at most h
    chunks, so they must agree on at least one (pigeonhole); the join
    key is (chunk_idx, chunk), never a cross join. The chunk count is
    DERIVED from max_hamming — a fixed count would silently miss pairs
    whenever max_hamming >= n_chunks."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    fp = with_simhash64(
        docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")),
        "_text",
        "_fp",
        shingle_k,
    ).select("_id", "_fp")
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    # Chunk indices are Python ints (shift amount is a literal); unsigned
    # shift so sign bits never leak into high chunks; the last chunk
    # absorbs the remainder bits.
    def _chunk(c: int) -> Column:
        shifted = F.shiftrightunsigned(F.col("_fp"), c * width)
        bits = 64 - c * width if c == n_chunks - 1 else width
        if bits >= 64:  # single-chunk case: the whole fingerprint
            return shifted
        return shifted.bitwiseAND(F.lit((1 << bits) - 1))

    chunk_structs = F.array(
        *[
            F.struct(F.lit(c).alias("chunk_idx"), _chunk(c).alias("chunk"))
            for c in range(n_chunks)
        ]
    )
    chunked = fp.select("_id", "_fp", F.explode(chunk_structs).alias("ch")).select(
        "_id", "_fp", "ch.chunk_idx", "ch.chunk"
    )

    a = chunked.select("chunk_idx", "chunk", F.col("_id").alias("id_a"), F.col("_fp").alias("fp_a"))
    b = chunked.select("chunk_idx", "chunk", F.col("_id").alias("id_b"), F.col("_fp").alias("fp_b"))
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        a.join(b, on=["chunk_idx", "chunk"], how="inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact token-set jaccard for given (id_a, id_b) pairs — the verify
    stage after LSH candidate generation."""
    toks = docs.select(
        F.col(id_col).alias("_tid"),
        F.array_distinct(_fast_tokens(F.col(text_col))).alias("_toks"),
    )
    a = toks.select(F.col("_tid").alias("id_a"), F.col("_toks").alias("toks_a"))
    b = toks.select(F.col("_tid").alias("id_b"), F.col("_toks").alias("toks_b"))
    # |A ∪ B| from sizes (arrays are array_distinct by construction):
    # one array_intersect per pair instead of intersect + union.
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    union = F.size("toks_a") + F.size("toks_b") - inter
    # Single int/int division — bit-stable across engines, no rounding.
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
    )


def minhash_signatures_pandas(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """(_id, _sig) signature table on the Arrow/numpy path.

    Shingling + base hashing stay JVM-side (string work); the n-hash
    family is a vectorized splitmix64 finalizer over a (shingles x
    num_hashes) uint64 grid per document — one numpy broadcast instead
    of num_hashes codegen'd columns. Measured at sf0.1 this does NOT
    beat minhash_signatures (9s vs 5.6s cold): Arrow list transfer +
    the per-document Python loop costs more than the one-time codegen
    compile it avoids. Kept as the reference implementation for
    environments where codegen is unavailable/hostile; the JVM explode
    path is the default. Hash family differs from the JVM path
    (splitmix64 vs xxhash64) — both are uniform 64-bit mixers; pick one
    per pipeline and stay with it.
    """
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    base = docs.select(
        F.col(id_col).alias("_id"),
        base_shingle_hashes(F.col(text_col), shingle_k).alias("_h"),
    )
    out_schema = StructType(
        [StructField("_id", LongType()), StructField("_sig", ArrayType(LongType()))]
    )

    def fam(batches):
        import numpy as np
        import pandas as pd

        with np.errstate(over="ignore"):
            seeds = (
                np.arange(1, num_hashes + 1, dtype=np.uint64)
                * np.uint64(0x9E3779B97F4A7C15)
            )
            for pdf in batches:
                sigs = []
                for h in pdf["_h"]:
                    z = np.asarray(h, dtype=np.int64).astype(np.uint64)[:, None] + seeds
                    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
                    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
                    z = z ^ (z >> np.uint64(31))
                    sigs.append(z.min(axis=0).astype(np.int64))
                yield pd.DataFrame({"_id": pdf["_id"], "_sig": sigs})

    return base.mapInPandas(fam, out_schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a pair list -> (node, component), where
    component = min node id in the component. This is the clustering step
    that turns near-dup PAIRS (minhash/simhash/cosine) into dedup GROUPS
    (keep min id per component, drop the rest).

    Algorithm: min-label propagation with pointer jumping. Each round a
    node takes the min of (its label, its neighbors' labels) — then labels
    chase their own label's label (label[label]), halving chain depth, so
    convergence is O(log diameter) rounds rather than O(diameter). Each
    round is two shuffles on well-spread keys; each round's label table
    is localCheckpoint'ed — an iterative self-referential plan otherwise
    doubles its lineage every round and the ANALYZER (not the data) runs
    out of heap. On a real cluster use reliable checkpoint() so rounds
    also survive executor loss. The loop stops at fixpoint (driver-side
    loop is inherent to iterative graph algorithms on Spark — each ROUND is fully distributed).
    """
    from pyspark import StorageLevel

    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nmin = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("label").alias("nmin"))
        )
        prop = labels.join(nmin, labels.node == nmin.dst, "left").select(
            "node",
            F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                "label"
            ),
        )
        # pointer jumping: label <- label[label]
        l2 = prop.select(F.col("node").alias("pnode"), F.col("label").alias("plabel"))
        jumped = (
            prop.join(l2, prop.label == l2.pnode)
            .select("node", F.least(F.col("label"), F.col("plabel")).alias("label"))
            .localCheckpoint()  # eager: truncates lineage AND materializes
        )
        changed = (
            jumped.join(labels.withColumnRenamed("label", "old"), "node")
            .filter(F.col("label") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    edges.unpersist()
    return labels.select("node", F.col("label").alias("component"))


def strip_common_prefixes(
    docs: DataFrame,
    n_words: int = 2,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-frequency boilerplate removal (CCNet-style header strip):
    drop a document's leading ``n_words`` words when that exact prefix
    opens at least ``min_docs`` documents — shared openers across a crawl
    are navigation/boilerplate, not content.

    Scale shape: ONE map-side-combined shuffle to count prefixes. The
    hot-prefix set is usually the small head of a Zipf distribution, but
    on a full crawl the number of prefixes shared by >= ``min_docs``
    documents grows with the corpus — so the join back deliberately
    carries NO broadcast hint: AQE promotes it to a broadcast join at
    runtime when the hot side is under the threshold, and falls back to
    a shuffled join when it is not (never an executor OOM either way).
    Returns (id, text, prefix_stripped flag).
    """
    # backtick-quote user column names (dots/spaces must stay literal)
    id_c = F.col("`" + id_col.replace("`", "``") + "`")
    text_c = F.col("`" + text_col.replace("`", "``") + "`")
    pref = F.array_join(F.slice(F.split(text_c, " "), 1, n_words), " ")
    with_pref = docs.select(id_c, text_c, pref.alias("_pref"))
    hot = (
        with_pref.groupBy("_pref")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_docs)
        .select("_pref")
    )
    joined = with_pref.join(hot.withColumn("_hot", F.lit(1)), "_pref", "left")
    stripped = F.when(
        F.col("_hot").isNotNull(),
        # drop prefix + the following space; a doc that IS the prefix -> ''
        text_c.substr(F.length(F.col("_pref")) + F.lit(2), F.length(text_c)),
    ).otherwise(text_c)
    return joined.select(
        id_c,
        stripped.alias(text_col),
        F.col("_hot").isNotNull().alias("prefix_stripped"),
    )


def incremental_near_dup_filter(
    new_docs: DataFrame,
    existing_signatures: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Shard-ingest dedup: keep only new documents that are NOT LSH
    near-duplicates of an already-ingested corpus.

    ``existing_signatures`` is a persisted (_id, _sig) table from
    minhash_signatures — at 100 TB you maintain it as a managed table and
    each incoming shard probes it instead of re-signing the corpus. Plan:
    sign the (small) new shard, explode both sides to (band, band_hash)
    buckets, and LEFT ANTI join new against existing buckets — one
    hash-join on a well-spread key, no pair generation, no O(n^2).

    Returns the surviving rows of ``new_docs`` (all original columns).

    Raises ``ValueError`` if ``existing_signatures`` was built with a
    different ``num_hashes`` than this probe: mismatched signature widths
    band into disjoint buckets and silently report zero collisions, so
    every near-duplicate would pass the filter.
    """
    first = existing_signatures.select(F.size("_sig").alias("_w")).limit(1).collect()
    if first and first[0]["_w"] != num_hashes:
        raise ValueError(
            f"existing_signatures has {first[0]['_w']}-hash signatures but this "
            f"probe uses num_hashes={num_hashes}; rebuild one side so the "
            "banding schemes match (a mismatch finds zero collisions)."
        )
    new_sig = minhash_signatures(new_docs, id_col, text_col, num_hashes, shingle_k)
    new_banded = _banded(new_sig, num_hashes, bands)
    old_banded = _banded(existing_signatures, num_hashes, bands).select(
        "band", "band_hash"
    )
    dup_ids = new_banded.join(old_banded, ["band", "band_hash"], "left_semi").select(
        F.col("_id").alias("_dup_id")
    ).distinct()
    return new_docs.join(
        dup_ids, new_docs[id_col] == dup_ids["_dup_id"], "left_anti"
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    name_col: str = "text",
    max_dist: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """Entity-resolution candidate pairs: all (id_a < id_b) whose
    ``name_col`` values are within levenshtein distance ``max_dist``,
    found WITHOUT an all-pairs comparison.

    Blocking is the SymSpell deletion-neighborhood (Garbe's public
    algorithm): Δd(s) = all strings reachable from s by deleting up to d
    characters. Two strings at edit distance <= d ALWAYS share a Δd key
    (align the optimal edit script: each substitution deletes the
    differing position from both sides, each insertion/deletion deletes
    from the longer side — at most d deletes per side), so recall is
    exact — the shared-key buckets produce a candidate superset (shared
    keys imply distance <= 2d) and the final levenshtein filter keeps
    the true pairs.

    Scale shape: keys ship as xxhash64 LONGS, and pair generation is ONE
    shuffle — groupBy the key hash collecting each bucket's ids, pairs
    generated inside the bucket row (same shape as
    ``minhash_lsh_candidates_from_signatures``) — so the candidate path
    carries longs, never full strings; names re-attach to the
    ~|result|-sized distinct pair set afterwards (measured 3x: 8.7s ->
    2.9s on 15k adversarially-dense synthetic names). Hash collisions
    can only ADD candidates (removed by the final filter), never drop a
    true pair, so recall stays exact.

    ``max_bucket`` drops degenerate buckets before pair generation: a
    key shared by thousands of records (one name repeated across a
    customer file — routine in real entity resolution) is |bucket|^2
    candidates of near-zero information. None = exact recall; with a
    cap, pairs inside dropped hot buckets are lost unless they also
    share a cooler key — the same contract as the MinHash path's cap.

    Explode factor per row: len+1 keys at d=1, O(len^2/2) at d=2 — the
    documented quadratic cost of the 2-delete neighborhood. Distances
    above 2 explode combinatorially and are refused.
    """
    if max_dist not in (1, 2):
        raise NotImplementedError(
            "fuzzy_pairs supports max_dist in (1, 2); higher distances need "
            "C(len, d) delete-neighborhood keys per row, which explodes "
            "combinatorially — block on phonetic/qgram keys instead"
        )
    name = F.col(name_col)
    d1 = F.transform(
        F.sequence(F.lit(1), F.length(name)),
        lambda i: F.concat(
            name.substr(F.lit(1), i - 1), name.substr(i + 1, F.length(name))
        ),
    )
    keys = F.array_union(F.array(name), d1)
    if max_dist == 2:
        # Delete positions j < i in one pass over the ORIGINAL string:
        # concat(chars 1..j-1, chars j+1..i-1, chars i+1..end). Generating
        # from the original (not by re-deleting from d1 strings) keeps the
        # key set distinct-by-construction and the expression codegen-able.
        d2 = F.flatten(
            F.transform(
                F.sequence(F.lit(2), F.greatest(F.length(name), F.lit(2))),
                lambda i: F.transform(
                    F.sequence(F.lit(1), i - 1),
                    lambda j: F.concat(
                        name.substr(F.lit(1), j - 1),
                        name.substr(j + 1, i - j - 1),
                        name.substr(i + 1, F.length(name)),
                    ),
                ),
            )
        )
        keys = F.array_union(keys, d2)
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.transform(keys, lambda s: F.xxhash64(s))).alias("_kh"),
    )
    buckets = (
        keyed.groupBy("_kh")
        .agg(F.array_sort(F.collect_set("_id")).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("_ids") <= max_bucket)
    # Pair generation as a positional self-join on the bucket key, not
    # the in-row _bucket_pairs transform (optimization round, the q159
    # fix applied to the delete-neighborhood path): real name files
    # share short/dense neighborhood keys, so buckets here reach
    # hundreds of members (sf0.1 customer sample: 20 buckets of 323,
    # thousands of size 25-30) and the nested higher-order form pays
    # O(n^2) INTERPRETED slice copies per bucket. posexplode keeps the
    # sorted-id order (pos order == id order, ids unique), the equi
    # join runs in codegen, and the pair set — hence everything after
    # distinct() — is identical. The MinHash banding path deliberately
    # keeps _bucket_pairs: its buckets are near-singletons, where one
    # in-row explode beats re-shuffling 16M member rows for a join.
    mem = buckets.select("_kh", F.posexplode("_ids").alias("_i", "_mid"))
    pairs = (
        mem.alias("_fa")
        .join(
            mem.alias("_fb"),
            (F.col("_fa._kh") == F.col("_fb._kh"))
            & (F.col("_fa._i") < F.col("_fb._i")),
        )
        .select(
            F.col("_fa._mid").alias("id_a"), F.col("_fb._mid").alias("id_b")
        )
        .distinct()
    )
    na = df.select(F.col(id_col).alias("id_a"), name.alias("name_a"))
    nb = df.select(F.col(id_col).alias("id_b"), name.alias("name_b"))
    return (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "name_a",
            "name_b",
            F.levenshtein(F.col("name_a"), F.col("name_b")).cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


# ---------------------------------------------------------------------------
# Broadcast-bitset bloom prefilter (X17 at-scale variant)
# ---------------------------------------------------------------------------


def bitset_bloom_build(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    n_hashes: int = 2,
) -> DataFrame:
    """Build a bloom filter over ``keys[key_col]`` as a TABLE of set
    64-bit words: (word_idx bigint, word bigint), at most m_bits/64 rows.

    Distributed build: each key maps to ``n_hashes`` bit positions
    (pmod(xxhash64(key, seed), m_bits)); positions group by word index
    with a bit_or partial aggregate — map-side combined, one shuffle of
    at most m_bits/64 * shuffle_partitions rows. The result is kilobytes
    for m_bits = 2^20 and broadcastable at any corpus size because its
    size is bounded by m_bits, NOT by the key count (pick m_bits ~ 10x
    expected keys for a ~1% false-positive rate at n_hashes=2).
    """
    if m_bits % 64 != 0:
        raise ValueError(f"m_bits ({m_bits}) must be a multiple of 64")
    pos = [
        F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m_bits))
        for i in range(n_hashes)
    ]
    exploded = keys.select(
        F.explode(F.array(*pos)).alias("_pos")
    ).select(
        F.expr("_pos div 64").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))").alias("_bit"),
    )
    return exploded.groupBy("word_idx").agg(F.bit_or("_bit").alias("word"))


def bloom_prefilter_semi_join(
    probe: DataFrame,
    reference: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    n_hashes: int = 2,
    verify: bool = True,
) -> DataFrame:
    """Semi-join ``probe`` against ``reference`` on ``key_col`` with a
    broadcast bloom-bitset prefilter.

    Why not a plain semi-join: at 100 TB the shuffle moves EVERY probe
    row. The bloom table (bounded by m_bits/64 words, see
    bitset_bloom_build) broadcasts to every executor; rows whose k bits
    are not all set are dropped AT THE SCAN, so only candidate rows (true
    matches + ~1% false positives) reach the exact verify semi-join. Same
    physics as Spark's own runtime bloom pruning
    (spark.sql.optimizer.runtime.bloomFilter.enabled, pinned in
    test_plans), exposed as a composable operator for when the optimizer
    cannot see the relationship (pre-built reference sets, cross-job
    reuse of a persisted filter table).

    With ``verify=False`` returns the prefiltered candidates only
    (exact-verify skipped — acceptable when downstream tolerates the
    false-positive rate, e.g. routing to a verification queue).
    """
    bloom = bitset_bloom_build(reference.select(key_col), key_col, m_bits, n_hashes)
    out = probe
    for i in range(n_hashes):
        out = out.withColumn(
            f"_pos{i}", F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m_bits))
        )
        w = bloom.select(
            F.col("word_idx").alias(f"_wi{i}"), F.col("word").alias(f"_w{i}")
        )
        out = out.join(
            F.broadcast(w),
            F.expr(f"_pos{i} div 64") == F.col(f"_wi{i}"),
            "inner",
        ).filter(
            F.expr(f"shiftright(_w{i}, CAST(_pos{i} % 64 AS INT)) % 2 != 0")
        )
    out = out.drop(
        *[c for i in range(n_hashes) for c in (f"_wi{i}", f"_w{i}", f"_pos{i}")]
    )
    if not verify:
        return out
    return out.join(reference.select(key_col).distinct(), key_col, "left_semi")


# ---------------------------------------------------------------------------
# Contrastive pair mining (embedding/reranker training data)
# ---------------------------------------------------------------------------


def contrastive_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    neg_per_pos: int = 1,
    portable: bool = False,
    broadcast_distinct_shingles: bool = False,
) -> DataFrame:
    """Mine (anchor, other, label) training pairs for embedding /
    reranker models: positives are LSH near-dup candidates (label 1),
    negatives are deterministic pseudo-random pairings that do NOT
    collide in any LSH band (label 0), ``neg_per_pos`` per positive.

    Negative generation is scale-safe: ids hash into buckets, a window
    partitioned BY BUCKET pairs hash-adjacent ids (no global sort, no
    cross join), and a left-anti join against the positives removes
    accidental near-dups. The hash ordering makes every step
    deterministic — the same corpus always yields the same pairs.

    Label balance: one pairing pass can fall short of
    ``n_pos * neg_per_pos`` (odd-sized hash buckets strand one id each;
    the anti-join removes accidental near-dup pairings without
    replacement), so when it does, up to three more pairings with fresh
    hash seeds top up the deficit. A corpus can still come up short
    after the top-ups if it is tiny or so duplicated that most pairings
    collide with positives — callers needing strict 1:neg_per_pos
    should check the returned label counts.

    Returns (id_a, id_b, label) with id_a < id_b.

    ``portable=True`` swaps every hash in the construction — the LSH
    positives (via ``minhash_lsh_candidates_portable``), the pairing
    buckets/ranks, and the top-up selection order — from xxhash64 to
    the 60-bit md5 family, and adds (id_a, id_b) tie-breakers to the
    selection sort, so the ENTIRE mined set (including how each of the
    up-to-3 top-up passes fills its deficit) is reproducible
    digit-for-digit in any engine with md5: the iterative top-up loop
    value-oracles as unrolled SQL CTEs (q149). Same plan shapes; md5
    costs ~2x xxhash64 per call, which the fast path (default) avoids.

    ``broadcast_distinct_shingles`` passes through to the portable LSH
    stage (see ``minhash_lsh_candidates_portable``): hash the DISTINCT
    shingle table once and broadcast-join it back instead of md5-hashing
    every (doc, shingle) occurrence inline. Same hash values, same
    candidates — a caller assertion that distinct shingles fit in
    executor memory (bounded vocabulary or heavy duplication).
    """
    pos = (
        minhash_lsh_candidates_portable(
            docs, id_col, text_col, num_hashes, bands, shingle_k,
            broadcast_distinct_shingles=broadcast_distinct_shingles,
        )
        if portable
        else minhash_lsh_candidates(docs, id_col, text_col, num_hashes, bands, shingle_k)
    )
    # Materialize both reused inputs once: pos_pairs feeds the count,
    # every per-seed anti-join, and the final union; ids feeds one
    # pairing pass per seed. Without truncation each re-read re-runs the
    # whole LSH candidate derivation (the plan audit counted 12 static
    # shuffles). Eager is right here — .count() runs immediately anyway.
    pos_pairs = pos.select("id_a", "id_b", F.lit(1).alias("label")).localCheckpoint(
        eager=True
    )
    n_pos = pos_pairs.count()
    if n_pos == 0:
        return pos_pairs  # empty, schema-stable

    ids = docs.select(F.col(id_col).alias("_id")).distinct().localCheckpoint(eager=True)
    # Bucket count scales with the corpus: each pairing pass strands up
    # to one id per bucket, so a tiny corpus spread over 64 buckets would
    # pair almost nothing. ~16+ ids per bucket keeps stranding <6%.
    n_ids = ids.count()
    n_buckets = max(1, min(64, n_ids // 16))
    target = n_pos * neg_per_pos
    if portable:
        # Total selection order (hash, id_a, id_b): the tie-breakers cost
        # nothing (hash collisions are ~2^-60) but make the selected SET
        # provably identical across engines, which the oracle needs.
        sel_order = [
            _pmd5(
                F.concat(
                    F.col("id_a").cast("string"),
                    F.lit(":"),
                    F.col("id_b").cast("string"),
                ),
                9,
            ),
            F.col("id_a"),
            F.col("id_b"),
        ]
    else:
        sel_order = [
            F.xxhash64(F.col("id_a").cast("string"), F.col("id_b").cast("string"))
        ]
    neg = (
        _hash_paired(ids, seed=1, n_buckets=n_buckets, portable=portable)
        .join(pos_pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti")
        .orderBy(*sel_order)
        .limit(target)
        .localCheckpoint(eager=True)  # counted + anti-joined per top-up seed
    )
    for seed in (2, 3, 4):
        deficit = target - neg.count()
        if deficit <= 0:
            break
        topup = (
            _hash_paired(ids, seed=seed, n_buckets=n_buckets, portable=portable)
            .join(pos_pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti")
            .join(neg, ["id_a", "id_b"], "left_anti")
            .orderBy(*sel_order)
            .limit(deficit)
        )
        neg = neg.unionAll(topup).localCheckpoint(eager=True)
    return pos_pairs.unionAll(neg.select("id_a", "id_b", F.lit(0).alias("label")))


def _pmd5(col, seed: int):
    """Portable 60-bit hash: low 60 bits of md5(col || '#seed') read as
    hex — ``('0x' || substr(md5(x || '#s'), 2, 15))::BIGINT`` in DuckDB,
    digit-for-digit (the q162 family, with a '#' separator so id-hash
    inputs can never collide with shingle-hash inputs)."""
    return F.conv(
        F.substring(F.md5(F.concat(col, F.lit(f"#{seed}"))), 2, 15), 16, 10
    ).cast("bigint")


def _hash_paired(
    ids: DataFrame, seed: int, n_buckets: int = 64, portable: bool = False
) -> DataFrame:
    """Deterministic pseudo-random disjoint pairing of ``ids['_id']``:
    hash into buckets, rank by a seeded hash inside each bucket, pair
    rank 2k-1 with rank 2k. No global sort, no cross join; different
    seeds yield (near-)independent pairings for top-up passes.
    ``portable=True`` uses the md5 hash family (engine-reproducible)
    instead of xxhash64."""
    from pyspark.sql import Window

    # Seed participates in the BUCKET hash too — with only the ordering
    # seeded, a 2-id bucket would re-produce the identical pair on every
    # seed and the top-up pass could never find fresh candidates.
    if portable:
        bkt_hash = _pmd5(F.col("_id").cast("string"), seed * 1000)
        rank_hash = _pmd5(F.col("_id").cast("string"), seed)
    else:
        bkt_hash = F.xxhash64(F.col("_id").cast("string"), F.lit(seed * 1000))
        rank_hash = F.xxhash64(F.col("_id").cast("string"), F.lit(seed))
    bucketed = ids.select(
        "_id",
        F.pmod(bkt_hash, F.lit(n_buckets)).alias("_bkt"),
    )
    w = Window.partitionBy("_bkt").orderBy(rank_hash, F.col("_id"))
    ranked = bucketed.withColumn("_rn", F.row_number().over(w))
    left = ranked.filter(F.col("_rn") % 2 == 1).select(
        "_bkt", ((F.col("_rn") + 1) / 2).cast("long").alias("_pair"), F.col("_id").alias("_l")
    )
    right = ranked.filter(F.col("_rn") % 2 == 0).select(
        "_bkt", (F.col("_rn") / 2).cast("long").alias("_pair"), F.col("_id").alias("_r")
    )
    return left.join(right, ["_bkt", "_pair"]).select(
        F.least("_l", "_r").alias("id_a"), F.greatest("_l", "_r").alias("id_b")
    )


def jaccard_join_prefix_filter(
    docs: DataFrame,
    threshold_num: int,
    threshold_den: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """EXACT-threshold jaccard similarity self-join via prefix filtering
    (Chaudhuri et al. ICDE'06 / Bayardo et al. WWW'07 'All Pairs'): every
    (id_a < id_b) pair whose distinct-token jaccard >= num/den — with
    guaranteed recall, unlike the MinHash-LSH path (which trades recall
    for speed and is verified probabilistically).

    Filter correctness: order all tokens by ascending global document
    frequency (rarest first; ties by token). A doc with L tokens keeps a
    PREFIX of its p = L - ceil(t*L) + 1 globally-smallest tokens. For any
    pair with jaccard >= t, the globally-smallest SHARED token w is in
    both prefixes: if w missed A's prefix, A would hold >= p tokens
    smaller than w, all outside the intersection I (w is I's smallest),
    but |A \\ I| = L - |I| <= L - ceil(t*L) < p. So bucketing on prefix
    tokens yields a candidate superset; the exact jaccard test (integer
    cross-multiplication — no float threshold) finishes the job.

    Scale shape: token-df is one map-combined aggregate; the prefix is
    carried per doc by a sort over its OWN tokens (scan-local); pair
    generation is the same single groupBy-bucket shuffle as the MinHash
    path, with the same ``max_bucket`` guard — a stopword that survives
    into prefixes (short docs make p ~ L) would otherwise pair a huge
    bucket quadratically. In-bucket pairs pass the PPJoin LENGTH filter
    (den*min(len) >= num*max(len)) and, in exact mode only, the
    POSITIONAL filter ((num+den)*(1+min(rest)) >= num*(len_a+len_b))
    before the verify shuffle — both provably recall-free-of-loss when
    ``max_bucket`` is None (see inline comments). With ``max_bucket``
    set the join is already best-effort; the positional filter is then
    skipped so the cap's recall loss is not compounded (a pair whose
    smallest-shared-token bucket was dropped can still be recovered at
    another shared prefix token, where the positional bound is invalid
    but the length bound still holds).
    Effectiveness note: pruning power comes from
    rare tokens; on a homogeneous-vocabulary corpus the candidate set
    degrades toward all-pairs and MinHash-LSH (with its recall trade) is
    the better tool — this operator is for when recall must be exact.
    """
    if not (0 < threshold_num <= threshold_den):
        raise ValueError("threshold must satisfy 0 < num/den <= 1")
    toks = docs.select(
        F.col(id_col).alias("_id"),
        # split-on-\s+ of the un-collapsed string == collapse-then-split
        # (see _fast_tokens): one regex pass instead of two per doc
        F.array_distinct(_fast_tokens(F.col(text_col))).alias("_toks"),
    ).filter(F.size("_toks") > 0)
    df_tok = (
        toks.select(F.explode("_toks").alias("_tok"))
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    ranked = (
        toks.select("_id", F.explode("_toks").alias("_tok"))
        .join(df_tok, "_tok")
        .groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("_tok")))
            ).alias("_ordered"),
        )
    )
    num, den = F.lit(threshold_num), F.lit(threshold_den)
    L = F.size("_ordered")
    p = L - ((num * L + den - F.lit(1)) / den).cast("long") + F.lit(1)
    # Carry each doc's distinct-token count alongside its id: the
    # PPJoin-family LENGTH FILTER prunes in-bucket pairs before they
    # ever reach the distinct/verify shuffle. Exactness: J(A,B) <=
    # min(|A|,|B|)/max(|A|,|B|), so J >= num/den forces den*min >=
    # num*max — a pair outside the length window can never pass the
    # final test, so dropping it here loses no recall. At t=0.9 the
    # window is |B| in [ceil(0.9|A|), floor(|A|/0.9)] — on corpora
    # where prefix pruning degrades (shared vocabulary, near-equal
    # prefixes) this is the filter that keeps pair generation from
    # going quadratic in the bucket size.
    # Carry each prefix token's POSITION too (as rest = len - 1-based
    # pos): the PPJoin POSITIONAL FILTER needs it. For a pair meeting
    # at its globally-smallest SHARED token w (position i in A, j in
    # B), no shared token precedes w in either list, so |I| <= 1 +
    # min(len_a - i, len_b - j) = 1 + min(rest_a, rest_b); J >= num/den
    # is equivalent to (num+den)*|I| >= num*(len_a+len_b), so a pair
    # whose upper bound fails that is unprunable-recall-safe to drop AT
    # THAT BUCKET. At a non-smallest shared token the bound doesn't
    # hold — but every qualifying pair is still generated at its
    # smallest shared token's bucket (the prefix property), and the
    # candidate union keeps it, so recall stays exact. That proof
    # REQUIRES the smallest-shared-token bucket to survive: under
    # max_bucket that bucket may be dropped, and while the
    # position-independent LENGTH filter still lets the pair be
    # recovered at any other shared prefix token's bucket, the
    # positional bound is invalid there and could prune it — so in
    # best-effort mode (max_bucket set) the positional filter is
    # SKIPPED below, keeping max_bucket's recall exactly what it was
    # pre-positional-filter instead of compounding the loss.
    prefixes = ranked.select(
        F.col("_id"),
        L.cast("long").alias("_len"),
        F.posexplode(F.slice(F.col("_ordered"), 1, p)).alias("_pos", "_pt"),
    ).select(
        F.struct(
            F.col("_id").alias("id"),
            F.col("_len").alias("len"),
            (F.col("_len") - F.col("_pos") - 1).cast("long").alias("rest"),
        ).alias("_m"),
        F.col("_pt._tok").alias("_tok"),
    )
    buckets = (
        prefixes.groupBy("_tok")
        .agg(F.array_sort(F.collect_set("_m")).alias("_ms"))
        .filter(F.size("_ms") >= 2)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("_ms") <= max_bucket)

    # Length filter always; positional filter ONLY in exact mode
    # (max_bucket is None) — see the prefixes comment: its recall
    # proof needs the smallest-shared-token bucket to survive.
    # In-bucket pair generation as a positional SELF-JOIN, not a nested
    # higher-order transform (optimization round, guide §1.2/§4.1): the
    # previous form — transform(sequence(1, n-1), i ->
    # transform(filter(slice(ms, 1, i), ...), ...)) — evaluates
    # INTERPRETED per element and copies an O(i) slice per position, so
    # a degenerate corpus whose buckets grow large (exactly the case
    # this operator's docstring warns about) paid O(n^2) interpreted
    # slice copies per bucket: measured 12 s of the 17.8 s sf0.1 total.
    # posexplode the sorted bucket to (pos, member) rows and equi-join
    # on the bucket key with pos_a < pos_b: the same ordered pair set
    # (ms is sorted by member struct, ids unique, so pos order == id
    # order) with the same length/positional predicates, but generated
    # inside whole-stage codegen. The join key ships as xxhash64 of the
    # token, not the token string (guide §2.3 narrower keys); a 64-bit
    # collision can only ADD candidate pairs, which the exact jaccard
    # verify below removes — the returned pair set is provably
    # unchanged either way.
    # Parallelize the probe side of the pair join (r15, guide §2.5
    # compute skew / §2.6 idle capacity): `buckets` is a handful of
    # GROUPS (15 at sf0.1), so AQE coalesces its exchange to ~1
    # partition and the entire C(n,2) in-bucket pair explosion — 22.4M
    # joined rows at sf0.1, 7.3M from the largest bucket alone — probed
    # the broadcast build in a SINGLE task (byte-based AQE skew
    # handling cannot see compute skew on a 400 KB partition). Spreading
    # the exploded MEMBER rows round-robin over the cluster's cores
    # balances the probe work regardless of bucket skew: each member
    # row's probe cost is one bucket scan, and round-robin distributes
    # the big bucket's members evenly. 14k tiny rows shuffled; the
    # pair set is identical (pos_a < pos_b pairs, any row placement).
    par = docs.sparkSession.sparkContext.defaultParallelism
    mem = buckets.select(
        F.xxhash64("_tok").alias("_kh"), F.posexplode("_ms").alias("_i", "_m")
    ).repartition(par)
    am, bm = F.col("_jx._m"), F.col("_jy._m")
    pair_ok = F.least(am["len"], bm["len"]) * den >= num * F.greatest(
        am["len"], bm["len"]
    )
    if max_bucket is None:
        pair_ok = pair_ok & (
            (num + den) * (F.lit(1) + F.least(am["rest"], bm["rest"]))
            >= num * (am["len"] + bm["len"])
        )
    cand = (
        mem.alias("_jx")
        .join(
            mem.alias("_jy"),
            (F.col("_jx._kh") == F.col("_jy._kh"))
            & (F.col("_jx._i") < F.col("_jy._i")),
        )
        .filter(pair_ok)
        .select(am["id"].alias("id_a"), bm["id"].alias("id_b"))
        # distinct via an explicit hash repartition on the pair key: the
        # plain .distinct()'s post-shuffle side gets AQE-coalesced by
        # BYTES (3.3M 16-byte pairs ≈ 2 partitions at the 64 MB
        # advisory), which serialized the downstream verify's 3.3M
        # array_intersect calls onto 2 tasks. Hash placement by
        # (id_a, id_b) keeps the dedup exact; the verify then runs at
        # cluster parallelism (r15, guide §2.2 partition sizing is about
        # bytes, but this stage is CPU-bound per row).
        .repartition(par, "id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Verify on DICTIONARY-ENCODED token ids, not strings (r15, VERDICT
    # r14 Next #3; guide §2.3 narrow types / §4 per-row CPU): the
    # ~10^6-pair verify hashes every array element, and long hashing +
    # equality beats UTF8String by ~1.4x end-to-end (measured 3.04 ->
    # 2.14 s same-window at sf0.1). Ids come from a CHECKPOINTED vocab
    # (monotonically_increasing_id over the distinct-token table):
    # checkpointing pins one id assignment, so the a-side and b-side
    # recodes — two evaluations of the same subtree — read identical
    # ids. The map is injective (collision-FREE, unlike a 64-bit hash,
    # which could merge two tokens inside one pair and change a jaccard
    # VALUE), so |A∩B| and |A|+|B| are exactly the integers the string
    # arrays gave: the jaccard double is bit-identical. The vocab table
    # is bounded by the corpus vocabulary, never the corpus (31 tokens
    # at sf0.1); a driver round-trip is never involved.
    vocab = (
        df_tok.select("_tok")
        .withColumn("_tid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    toks_int = (
        toks.select("_id", F.explode("_toks").alias("_tok"))
        .join(vocab, "_tok")
        .groupBy("_id")
        .agg(F.collect_list("_tid").alias("_ti"))
    )
    a = toks_int.select(F.col("_id").alias("id_a"), F.col("_ti").alias("_ta"))
    b = toks_int.select(F.col("_id").alias("id_b"), F.col("_ti").alias("_tb"))
    # |A ∪ B| = |A| + |B| - |A ∩ B| exactly (the token arrays are
    # array_distinct by construction, and the id map injective), so the
    # verify pass computes ONE array_intersect per pair instead of
    # intersect + union — the union hash-build was half the per-pair CPU
    # on the ~10^6-pair sf0.1 candidate set (guide §2.3: don't compute
    # what arithmetic gives you). Same integers, bit-identical double.
    inter = F.size(F.array_intersect(F.col("_ta"), F.col("_tb")))
    union = F.size("_ta") + F.size("_tb") - inter
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .filter(inter * den >= num * union)
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
    )


def minhash_lsh_candidates_portable(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int | None = None,
    broadcast_distinct_shingles: bool = False,
) -> DataFrame:
    """MinHash-LSH candidates with a PORTABLE hash family — every stage
    reproducible bit-for-bit in any engine with md5 (the property the
    xxhash64 fast path in ``minhash_lsh_candidates`` trades away for
    speed: xxhash64 is Spark-specific, so that path can only be
    rows-only/recall-tested; this one is value-oracle-able end to end).

    Each md5 digest yields TWO independent 60-bit hashes (hex digits
    2..16 and 18..32 of md5(s || ':' || i//2)), so an n-hash family
    costs n/2 digests (measured ~10% end-to-end at sf0.1 — whole-stage
    codegen's subexpression elimination already de-duplicated repeated
    digests, and the shingle explode + n-column min aggregate dominate;
    the halving still matters on engines without CSE). Read as decimal
    via ``conv(substr(md5(x), off, 15), 16, 10)`` here, ``('0x' ||
    substr(md5(x), off, 15))::BIGINT`` in DuckDB/Trino. 60 bits keeps
    the value inside a signed int64 in every engine (no unsigned-
    overflow divergence) while leaving min-hash collision probability
    negligible. ``num_hashes`` must be even (pairs share a digest).

    Plan shape is identical to the fast path: explode per-doc shingles,
    compute the n-hash family as n codegen'd columns, per-position mins
    in ONE map-side-combined hash aggregate, band keys as concat_ws
    strings, then the single groupBy-(band, key) bucket shuffle with
    in-bucket pair generation (shared tail ``_pairs_from_banded``;
    ``max_bucket`` caps degenerate buckets exactly like the fast path).
    Docs shorter than ``shingle_k`` tokens
    are dropped (documented contract — mirrors the oracle's empty
    range). Returns (id_a, id_b, n_shared_bands), id_a < id_b.

    ``broadcast_distinct_shingles=True`` hashes the DISTINCT shingle
    table once and broadcast-joins it back instead of hashing every
    (doc, shingle) row inline — measured 1.8x end-to-end at sf0.1,
    where the corpus vocabulary bounds distinct 3-shingles far below
    the shingle stream. It is an explicit caller assertion that the
    distinct table fits in executor memory (bounded vocabulary or
    heavy duplication); the default False keeps inline hashing, which
    adds ZERO shuffles (the min aggregate's map-side combine absorbs
    the explode), the right default when distinct shingles are
    corpus-sized — a web-scale crawl's 3-shingle table is billions of
    rows, and AQE alone cannot rescue the distinct+join plan there
    (measured: the no-hint variant loses most of the win even at
    sf0.1 because the distinct shuffle still pays).

    Reference parity: same near-dup semantics as the corpus-dedup stage
    the survey mandates; md5 portability is what lets the driver value-
    hash it against DuckDB rather than trusting recall tests alone.
    """
    banded = minhash_banded_portable(
        docs, id_col, text_col, num_hashes, bands, shingle_k,
        broadcast_distinct_shingles,
    )
    return _pairs_from_banded(banded, ["band", "bkey"], max_bucket)


def minhash_banded_portable(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    broadcast_distinct_shingles: bool = False,
) -> DataFrame:
    """The (_id, band, bkey) banded-signature table of the portable md5
    MinHash family — the shared intermediate behind
    ``minhash_lsh_candidates_portable`` (in-corpus pair generation) and
    the portable incremental ingest probe (q209: new-shard bands
    left-anti existing bands). Same stage-by-stage construction as the
    docstring above; extracted so both consumers band identically."""
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes})"
        )
    if num_hashes % 2 != 0:
        raise ValueError(f"num_hashes must be even (got {num_hashes})")
    rpb = num_hashes // bands
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.split(F.lower(F.col(text_col)), r"\s+").alias("_l"),
    ).filter(F.size("_l") >= shingle_k)
    # size >= shingle_k guarantees sequence() ascends (the sequence(1, 0)
    # -> [1, 0] descending trap is documented at q136).
    shingles = toks.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_l") - (shingle_k - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(F.col("_l"), i + j) for j in range(shingle_k)]
                ),
            )
        ).alias("_s"),
    )
    # One digest per PAIR of hash slots: _d{k} = md5(s:k); slot 2k reads
    # hex digits 2..16, slot 2k+1 reads 18..32 (both 60-bit halves).
    def _hash_cols(src: DataFrame, keep: str) -> DataFrame:
        digests = src.select(
            keep,
            *[
                F.md5(F.concat(F.col("_s"), F.lit(f":{k}"))).alias(f"_d{k}")
                for k in range(num_hashes // 2)
            ],
        )
        return digests.select(
            keep,
            *[
                F.conv(
                    F.substring(
                        F.col(f"_d{i // 2}"), 2 if i % 2 == 0 else 18, 15
                    ),
                    16,
                    10,
                )
                .cast("bigint")
                .alias(f"_x{i}")
                for i in range(num_hashes)
            ],
        )

    if broadcast_distinct_shingles:
        hash_tbl = _hash_cols(shingles.select("_s").distinct(), "_s")
        hashed = shingles.join(F.broadcast(hash_tbl), "_s").drop("_s")
    else:
        hashed = _hash_cols(shingles, "_id")
    mins = hashed.groupBy("_id").agg(
        *[F.min(f"_x{i}").alias(f"_m{i}") for i in range(num_hashes)]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",", *[F.col(f"_m{b * rpb + j}") for j in range(rpb)]
                ).alias("bkey"),
            )
            for b in range(bands)
        ]
    )
    return mins.select("_id", F.explode(band_structs).alias("bb")).select(
        "_id", "bb.band", "bb.bkey"
    )


def simhash_portable(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 60,
) -> DataFrame:
    """Per-document SimHash fingerprint with the PORTABLE md5 hash family
    (companion to ``minhash_lsh_candidates_portable`` — the xxhash64
    SimHash in ``simhash_fingerprints``/q34 is Spark-specific and can
    only be recall-tested; this one value-oracles the full fingerprint:
    every bit of every doc hash-compares against an engine that has md5
    and integer bit ops).

    Token hash = low 60 bits of md5(token) (signed-int64-safe in every
    engine). Bit j of the fingerprint is set when the +1/-1 majority
    vote of that bit across the doc's token MULTISET is positive (ties
    -> 0, the conventional choice).

    Plan shape: explode tokens once, then ONE map-side-combined hash
    aggregate computing all ``n_bits`` conditional sums as codegen'd
    columns (no bit-dimension row explosion — the oracle's readable
    cross-join-with-range form would shuffle n_bits rows per doc), and
    the fingerprint assembles from the sums scan-locally. Returns
    (id, simhash, n_tokens)."""
    if not 1 <= n_bits <= 60:
        raise ValueError(f"n_bits must be in [1, 60], got {n_bits}")
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("_w"),
    )
    hashed = toks.select(
        "_id",
        F.conv(F.substring(F.md5(F.col("_w")), 18, 15), 16, 10)
        .cast("bigint")
        .alias("_h"),
    )
    sums = hashed.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        *[
            F.sum(
                F.when(F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"_s{j}")
            for j in range(n_bits)
        ],
    )
    fingerprint = None
    for j in range(n_bits):
        term = F.when(
            F.col(f"_s{j}") > 0, F.lit(1).cast("bigint") * (1 << j)
        ).otherwise(F.lit(0).cast("bigint"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return sums.select(
        F.col("_id").alias(id_col),
        fingerprint.alias("simhash"),
        "n_tokens",
    )


def dedup_chunks_keep_first(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 10,
) -> DataFrame:
    """Cross-document chunk-level EXACT dedup with first-occurrence
    keeper and document reassembly — the paragraph-granularity
    exact-substring dedup of RefinedWeb/"Deduplicating Training Data"
    pipelines, adapted to whitespace corpora: split each document into
    fixed ``chunk_tokens``-token chunks, keep only the GLOBALLY FIRST
    occurrence of each chunk text (lowest (doc_id, chunk_pos) — exactly one
    copy of every duplicated span survives corpus-wide, unlike
    text.remove_repeated_lines which drops boilerplate from EVERY doc),
    and rebuild each document from its surviving chunks in order.

    Returns (id, n_chunks, n_kept, text_clean) for every input doc
    (docs whose every chunk lost the race reassemble to '').

    Scale shape: one explode (factor len/chunk_tokens), ONE shuffle on
    chunk text for the min-(doc,pos) keeper (map-side combined), one
    broadcast-eligible join back, one shuffle on id for reassembly. The
    keeper aggregate is a MIN — no collect_list of doc ids, so a chunk
    duplicated a million times still carries one struct through the
    combiner. No driver collect, no all-pairs stage.
    """
    t = F.split(F.trim(F.col(text_col)), r"\s+")
    n_chunks = F.ceil(F.size(t) / F.lit(chunk_tokens)).cast("bigint")
    chunks = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda g: F.array_join(
                    F.slice(t, g * chunk_tokens + 1, chunk_tokens), " "
                ),
            )
        ).alias("_pos", "_chunk"),
    )
    keeper = chunks.groupBy("_chunk").agg(
        F.min(F.struct("_id", "_pos")).alias("_first")
    )
    kept_flag = chunks.join(keeper, "_chunk").select(
        "_id",
        "_pos",
        "_chunk",
        (
            (F.col("_first._id") == F.col("_id"))
            & (F.col("_first._pos") == F.col("_pos"))
        ).alias("_keep"),
    )
    return kept_flag.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("_pos", "_chunk"))
                    )
                ),
                lambda s: s["_chunk"],
            ),
            " ",
        ).alias("text_clean"),
    ).select(
        F.col("_id").alias(id_col), "n_chunks", "n_kept", "text_clean"
    )
