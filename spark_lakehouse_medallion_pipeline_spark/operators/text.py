"""Text-analysis operators for LLM-data pipelines (SURVEY.md §2b X20).

All pure Column expressions (JVM-side, codegen-friendly) — no Python UDFs
anywhere in this module, so these run at full scan throughput on 100 TB of
documents. Each function returns columns; the query layer assembles them.

Design note: every operator here is deliberately ANSI-SQL-expressible so the
DuckDB oracle can verify it value-for-value (SURVEY.md §5.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A small, language-agnostic stopword set used for quality scoring.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

# BPE-ish token pattern: runs of letters, runs of digits, or single
# non-space symbols — the shape subword tokenizers split on first.
TOKEN_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def normalized_text(text: Column) -> Column:
    """Canonical form used for dedup/fingerprinting: lower, trim,
    collapse internal whitespace."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def whitespace_tokens(text: Column) -> Column:
    """Whitespace tokenization (array<string>)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(whitespace_tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Regex token count approximating subword tokenizer granularity.
    Group index 0 = whole match (PySpark defaults to group 1)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0))


def avg_token_length(text: Column) -> Column:
    """Mean characters per whitespace token."""
    toks = whitespace_tokens(text)
    return F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    ).cast("double") / F.size(toks)


def stopword_ratio(text: Column) -> Column:
    """Fraction of tokens that are common stopwords — a crude fluency
    signal (high ratio ≈ natural prose, near-zero ≈ tables/code/noise)."""
    toks = whitespace_tokens(F.lower(text))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return n_stop.cast("double") / F.size(toks)


def punct_ratio(text: Column) -> Column:
    """Punctuation characters / total characters."""
    n_punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return n_punct.cast("double") / F.length(text)


def quality_score_raw(text: Column) -> Column:
    """Composite document-quality heuristic in [0,1], UN-rounded — the
    single definition the oracled queries (q29, q51) share; per-document
    values come from the exact set {k/30} so aggregates can ride the
    exact-integer idiom.
    Rewards prose-like token length (3-12 chars), some stopwords, low
    punctuation noise — the standard cheap pre-filter before expensive
    dedup/embedding stages."""
    atl = avg_token_length(text)
    length_ok = F.when((atl >= 3) & (atl <= 12), 1.0).otherwise(0.5)
    stop_ok = F.when(stopword_ratio(text) > 0.05, 1.0).otherwise(0.6)
    punct_ok = F.when(punct_ratio(text) < 0.1, 1.0).otherwise(0.7)
    return (length_ok + stop_ok + punct_ok) / F.lit(3.0)


def fingerprint_md5(text: Column) -> Column:
    """Exact-content fingerprint over normalized text (md5 hex)."""
    return F.md5(normalized_text(text))


def fingerprint_rolling(text: Column) -> Column:
    """Deterministic rolling-hash-style fingerprint: min xxhash64 over
    8-character shingles (a 1-hash MinHash — the winnowing primitive).
    Pure expressions: substring via transform over an index sequence."""
    norm = normalized_text(text)
    idx = F.sequence(F.lit(1), F.greatest(F.length(norm) - 8 + 1, F.lit(1)))
    shingles = F.transform(idx, lambda i: F.substr(norm, i, F.lit(8)))
    hashes = F.transform(shingles, lambda s: F.xxhash64(s))
    return F.array_min(hashes)


def lang_id(text: Column) -> Column:
    """Heuristic language ID via marker-token hits (n-gram heuristic,
    SQL-expressible so the oracle can check it). On synthetic corpora it
    demonstrates the operator shape; swap marker lists for real use."""
    t = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return (
        F.when(t.like("% the %") | t.like("% and %") | t.like("% is %"), "en")
        .when(t.like("% le %") | t.like("% et %") | t.like("% est %"), "fr")
        .when(t.like("% el %") | t.like("% y %") | t.like("% es %"), "es")
        .when(t.like("% der %") | t.like("% und %") | t.like("% ist %"), "de")
        .otherwise("unknown")
    )


def pack_sequences(
    docs: DataFrame,
    ctx_len: int = 512,
    part_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-then-chunk sequence packing (the standard LLM-pretraining
    layout): within each ``part_col`` stream, documents are concatenated
    in ``id_col`` order and chopped into fixed ``ctx_len``-token training
    sequences; each document is assigned its starting (pack_id,
    pack_offset) plus how many packs it spans.

    Scale shape: ONE shuffle — a running token-count window partitioned
    by the stream key (never a global ordering: a single total-order
    window would funnel 100 TB through one task; per-source streams keep
    the cumsum parallel and match how packing shards are built anyway).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(part_col).orderBy(id_col)
    n = token_count(F.col(text_col))
    base = docs.select(F.col(id_col), F.col(part_col), n.alias("n_tokens"))
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).cast("long")
    end_incl = (cum - 1).cast("long")
    pack_id = F.floor(start / ctx_len)
    return base.select(
        id_col,
        part_col,
        "n_tokens",
        pack_id.alias("pack_id"),
        (start % ctx_len).alias("pack_offset"),
        (F.floor(end_incl / ctx_len) - pack_id + 1).alias("n_packs_spanned"),
    )


def strip_html(col: Column) -> Column:
    """Crawl-cleaning kernel: drop tags, then decode the five core
    entities. Pure regexp/replace chain — scan-speed, no UDF. (Full
    entity tables belong in a Pandas UDF; crawls are dominated by these
    five.)"""
    no_tags = F.regexp_replace(col, r"<[^>]*>", " ")
    c = F.regexp_replace(no_tags, r"&amp;", "&")
    c = F.regexp_replace(c, r"&lt;", "<")
    c = F.regexp_replace(c, r"&gt;", ">")
    c = F.regexp_replace(c, r"&quot;", "\"")
    c = F.regexp_replace(c, r"&#39;", "'")
    # collapse the whitespace the tag removal left behind
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def adaptive_length_filter(
    docs: DataFrame,
    group_col: str = "lang",
    len_col: str = "n_chars",
) -> DataFrame:
    """Per-group adaptive quality gate: keep documents at least half
    their GROUP's median length — an absolute
    length cutoff over-prunes terse languages and under-prunes verbose
    ones. One shuffle to compute per-group medians (tiny: one row per
    group), broadcast back onto the scan."""
    med = docs.groupBy(group_col).agg(
        F.expr(f"percentile({len_col}, 0.5)").alias("_median_len")
    )
    return (
        docs.join(F.broadcast(med), group_col)
        .filter(F.col(len_col) >= F.lit(0.5) * F.col("_median_len"))
        .drop("_median_len")
    )


def gopher_quality_flags(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, "Scaling
    Language Models", §A1.1 repetition/quality filters — public paper):
    word-count bounds, mean-word-length bounds, fraction of words with an
    alphabetic character, and minimum stopword presence. Emits one row
    per doc with each rule's value + flag and the conjunctive keep flag,
    so curation can audit WHICH rule dropped a document.

    All pure Column expressions — scan-speed at 100 TB, no shuffle at
    all. Thresholds are the paper's — 100 000 words at most, mean word
    length in [3, 10], >= 80% of words alphabetic, >= 2 stopwords —
    except the 5-word minimum (the paper's is 50; the test corpus is
    short-form)."""
    toks = whitespace_tokens(F.col(text_col))
    n_words = F.size(toks)
    # identical op chain to the oracle: strip ALL whitespace, divide
    n_chars_nospace = F.length(F.regexp_replace(F.col(text_col), r"\s", ""))
    mean_wl = n_chars_nospace.cast("double") / n_words
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    alpha_ratio = n_alpha.cast("double") / n_words
    n_stop = F.size(F.filter(F.transform(toks, F.lower), lambda t: t.isin(*STOPWORDS)))
    words_ok = (n_words >= 5) & (n_words <= 100_000)
    wl_ok = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    alpha_ok = alpha_ratio >= 0.8
    stop_ok = n_stop >= 2
    return docs.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        alpha_ratio.alias("alpha_word_ratio"),
        n_stop.cast("long").alias("stopword_hits"),
        words_ok.alias("words_ok"),
        wl_ok.alias("word_len_ok"),
        alpha_ok.alias("alpha_ok"),
        stop_ok.alias("stopwords_ok"),
        (words_ok & wl_ok & alpha_ok & stop_ok).alias("gopher_keep"),
    )


# Knuth multiplicative-hash constants for the deterministic per-doc
# uniform used by mixture_sample: u = ((id % P) * K) % M / M. The id is
# bounded by P first so the product stays far inside int64 on every
# engine (no wrap/raise divergence at 100 TB id ranges).
_MIX_P = 1_000_003  # prime
_MIX_K = 2_654_435_761  # Knuth's 2^32 / phi
_MIX_M = 4_294_967_296  # 2^32


def mixture_uniform(id_col: Column) -> Column:
    """Deterministic, engine-portable uniform in [0, 1) derived from an
    integer id — reproducible across engines/runs/partitionings, unlike
    rand(). Collision structure is irrelevant here: we only need a fixed
    pseudo-random threshold per row."""
    return (
        ((id_col % _MIX_P) * _MIX_K % _MIX_M).cast("double") / F.lit(float(_MIX_M))
    )


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain/language mixture sampling: keep each document with its
    group's target probability (the data-mixing step of every large
    pretraining corpus — e.g. downsample boilerplate-heavy domains,
    upsample by keeping 1.0 of rare ones). Deterministic: the keep
    decision is a pure function of (id, group), so reruns and
    repartitions produce the identical corpus — a property rand()-based
    sampling cannot give. Groups missing from ``weights`` are kept whole.
    Pure scan-side predicate: no shuffle, pushes down past column
    pruning."""
    w = F.lit(1.0)
    for key, frac in sorted(weights.items()):
        w = F.when(F.col(group_col) == key, F.lit(float(frac))).otherwise(w)
    return docs.filter(mixture_uniform(F.col(id_col)) < w)


def remove_repeated_lines(
    docs: DataFrame,
    line_tokens: int = 10,
    min_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4/RefinedWeb-style repeated-line removal: chop each document into
    fixed ``line_tokens``-token lines, find lines that occur in at least
    ``min_docs`` DISTINCT documents (navbars, cookie banners, license
    footers — the classic crawl boilerplate), drop those lines from every
    document, and reassemble the survivors in original order. Documents
    whose every line is boilerplate are dropped entirely (the curation
    semantics: nothing left to train on).

    Output: (id_col, n_lines_kept, text_clean).

    Scale shape: three shuffles, each on well-spread keys — (1) the
    line-frequency aggregate (map-side combined, distinct-doc count);
    (2) the anti-join of lines against the hot set (the hot set is small
    by construction — freq >= min_docs — and AQE decides broadcast vs
    shuffle; deliberately NO unconditional broadcast hint, the
    strip_common_prefixes lesson); (3) the per-document reassembly
    aggregate. No step is ever all-pairs and no line list ever collects
    to the driver.

    Line construction is two codegen'd regexp passes (normalize
    whitespace, then mark every ``line_tokens``-th token boundary) plus
    one split — measured 6.4x faster than the transform/slice/array_join
    HOF form (0.27s vs 1.73s for the sf0.1 explode; nested HOF lambdas
    evaluate interpreted, the README's MinHash lesson) and byte-identical
    to it (pinned in pytest)."""
    sep = "\x01"
    norm = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    boundary = r"((?:\S+ ){%d}\S+) " % (line_tokens - 1)
    lines = F.split(F.regexp_replace(norm, boundary, "$1" + sep), sep)
    exploded = docs.select(
        F.col(id_col), F.posexplode(lines).alias("pos", "line")
    )
    hot = (
        exploded.groupBy("line")
        .agg(F.countDistinct(id_col).alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("line")
    )
    kept = exploded.join(hot, "line", "left_anti")
    ordered = F.array_sort(F.collect_list(F.struct("pos", "line")))
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines_kept"),
        F.array_join(
            F.transform(ordered, lambda s: s["line"]), " "
        ).alias("text_clean"),
    )


def token_budget_curation(
    docs: DataFrame,
    budget_tokens: int,
    part_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality-ranked token-budget selection: within each ``part_col``
    stream, rank documents by quality (best first, id tie-break) and keep
    them until the stream's cumulative token count reaches
    ``budget_tokens`` — the "spend my token budget on the best data"
    step of corpus curation (budgets are per-source because mixture
    weights are set per-source; a single global budget would also funnel
    the cumsum through one task at 100 TB, per the pack_sequences note).

    A document is kept iff its INCLUSIVE running total fits the budget.
    Output: (id_col, part_col, n_tokens, cum_tokens, quality).

    Scale shape: one shuffle — the per-source ranked cumsum window; the
    quality score itself is scan-side Column math."""
    from pyspark.sql import Window

    base = docs.select(
        F.col(id_col),
        F.col(part_col),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
        quality_score_raw(F.col(text_col)).alias("quality"),
    )
    w = Window.partitionBy(part_col).orderBy(F.desc("quality"), id_col)
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
    )


def chunk_documents(
    docs: DataFrame,
    chunk_chars: int = 200,
    overlap: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    len_col: str | None = "n_chars",
) -> DataFrame:
    """Context-window chunking: split each document into ``chunk_chars``
    character chunks whose starts step by ``chunk_chars - overlap``, with
    1-based char offsets kept so chunks can be traced back to their
    source span. The explode is scan-local (no shuffle); at 100 TB the
    output is written partitioned by whatever the corpus was partitioned
    by, so chunking never concentrates data.

    Uses ``len_col`` when the corpus already stores document length
    (skips re-measuring the string); pass None to compute it."""
    if chunk_chars <= overlap:
        raise ValueError(f"chunk_chars ({chunk_chars}) must exceed overlap ({overlap})")
    step = chunk_chars - overlap
    n = F.col(len_col) if len_col else F.length(F.col(text_col))
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(step))
    return (
        docs.select(
            F.col(id_col),
            F.col(text_col),
            F.explode(starts).alias("chunk_start"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_start"),
            F.col(text_col).substr(F.col("chunk_start"), F.lit(chunk_chars)).alias("chunk"),
        )
        .withColumn("chunk_len", F.length(F.col("chunk")))
    )


# classifier_score constants. The token hash is a portable character
# mix (both Spark and ANSI-ish SQL can compute it), standing in for
# fastText's FNV hash; weights derive deterministically from the bucket
# id, standing in for learned weights (which ship as a broadcast
# array/map literal at deploy time). Weights are INTEGER millis in
# [-1000, 1000] so the token sum is exact int64 on every engine.
_CLF_BUCKETS = 4096
_CLF_MIX = 2_654_435_761  # Knuth multiplicative constant
_CLF_WMIX = 1_103_515_245  # glibc LCG multiplier
_CLF_SEED = 7  # offset of the synthetic weight table


def classifier_score(text: Column) -> Column:
    """fastText-style linear quality-classifier INFERENCE as pure Column
    math (the model-based filtering step of DCLM / FineWeb-Edu style
    curation): hash each token into ``_CLF_BUCKETS``, look up the bucket's
    weight, average over tokens, squash with a logistic. The dataflow
    (hash -> weight lookup -> mean -> sigmoid) is the production one and
    runs at scan speed — no shuffle, no UDF, no model server. The
    token-weight sum stays exact int64 (millis); only the final
    mean/sigmoid is float, so results are engine-reproducible up to one
    libm exp() ulp (round before comparing).

    Returns a double in (0, 1)."""
    toks = whitespace_tokens(F.lower(text))

    def weight_millis(t: Column) -> Column:
        # portable char mix: pad so 1-2 char tokens still index safely
        p = F.concat(t, F.lit("__"))
        m = (
            F.ascii(p.substr(F.lit(1), F.lit(1))) * 131
            + F.ascii(p.substr(F.lit(2), F.lit(1))) * 31
            + F.ascii(p.substr(F.lit(3), F.lit(1))) * 17
            + F.length(t)
        ).cast("long")
        b = F.pmod(m * F.lit(_CLF_MIX), F.lit(_CLF_BUCKETS))
        return F.pmod(b * F.lit(_CLF_WMIX) + F.lit(_CLF_SEED), F.lit(2001)) - 1000

    sum_millis = F.aggregate(
        F.transform(toks, weight_millis),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    mean_w = sum_millis.cast("double") / (F.size(toks) * F.lit(1000.0))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-mean_w))


def nfc_normalized(df: DataFrame, text_col: str = "text", out_col: str = "text_nfc") -> DataFrame:
    """Unicode NFC canonicalization (Arrow pandas UDF — Spark has no
    normalization builtin): composed vs decomposed codepoint sequences
    ('é' as U+00E9 vs 'e'+U+0301) are byte-different but canonically
    equal, so web-scraped corpora defeat exact dedup without this pass.
    Python only at the edge (batch-vectorized unicodedata.normalize);
    the downstream groupBy stays a JVM hash aggregate on the
    canonical bytes."""
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def norm(s):
        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    norm.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return df.withColumn(out_col, pandas_udf(norm, "string")(F.col(text_col)))


def bpe_word_symbols(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq, pos, sym): corpus word TYPES with frequency, each
    split to per-position single-character symbols (pos 1-based dense)
    — the working table of BPE tokenizer training (Sennrich 2016),
    which operates on the word-frequency dict, never the raw token
    stream: a 100 TB corpus collapses to its vocabulary here, so every
    downstream merge iteration is vocabulary-sized.

    Zero-length words (split of an empty/whitespace-only document
    yields ['']) are filtered out BEFORE the per-character explode:
    Spark's sequence(1, 0) is DESCENDING [1, 0] and would emit two
    phantom ''-symbol rows per empty word, while SQL engines' range(1,
    1) is empty — the contract is "empty words contribute no symbols",
    enforced here and mirrored in the oracle CTEs."""
    words = (
        docs.select(
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word")
        )
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return words.selectExpr(
        "word",
        "freq",
        "posexplode(transform(sequence(1, length(word)), i -> substring(word, i, 1)))"
        " AS (pos0, sym)",
    ).select("word", "freq", (F.col("pos0") + 1).alias("pos"), "sym")


def bpe_pair_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adjacent-symbol pair frequencies over the word-frequency dict —
    the argmax statistic of one BPE training step. Returns (left_sym,
    right_sym, pair_count), pair_count weighted by word frequency."""
    from pyspark.sql import Window

    sym = bpe_word_symbols(docs, text_col)
    w = Window.partitionBy("word").orderBy("pos")
    return (
        sym.withColumn("nxt", F.lead("sym").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("left_sym"), F.col("nxt").alias("right_sym"))
        .agg(F.sum("freq").alias("pair_count"))
    )


def bpe_train(
    docs: DataFrame, n_merges: int = 2, text_col: str = "text"
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """BPE tokenizer training, first ``n_merges`` merges (Sennrich
    2016): iteratively (1) count adjacent-symbol pair frequencies over
    the word-frequency dict, (2) pick the most frequent pair (ties:
    lexicographically smallest — deterministic across engines), (3)
    merge its occurrences in every word GREEDILY LEFT-TO-RIGHT. Greedy
    non-overlap is the subtle part: in a run of CONSECUTIVE match
    positions (only possible when left==right, e.g. merging ('a','a')
    inside 'aaaa'), the standard tokenizer takes the 1st, 3rd, 5th...
    match — implemented engine-side as run-grouping (pos - row_number)
    + odd-rank filter, the same formula the SQL oracle unrolls.

    Returns (merges, segmented): merges is a driver-side list of
    (rank, left_sym, right_sym, pair_count) — ONE bounded 1-row collect
    per iteration, the argmax, never the vocabulary — and segmented is
    (word, freq, segmentation) with symbols space-joined in order.

    Scale shape: everything after the first groupBy is
    VOCABULARY-sized (a 100 TB corpus has a few million word types);
    per iteration: one window pass for pairs, one map-side-combined
    count, two vocabulary-keyed joins to apply the merge, and a
    localCheckpoint to stop the iterative lineage from compounding
    (the PageRank lesson, operators/dedup.py connected components)."""
    from pyspark.sql import Window

    sym = bpe_word_symbols(docs, text_col)
    w_word = Window.partitionBy("word").orderBy("pos")
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        paired = sym.withColumn("nxt", F.lead("sym").over(w_word))
        top = (
            paired.filter(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("sym"), F.asc("nxt"))
            .head(1)
        )
        if not top:
            break
        x, y, cnt = top[0]["sym"], top[0]["nxt"], int(top[0]["cnt"])
        merges.append((step, x, y, cnt))
        cand = paired.filter(
            (F.col("sym") == F.lit(x)) & (F.col("nxt") == F.lit(y))
        ).select("word", "pos")
        runs = cand.withColumn(
            "run",
            F.col("pos")
            - F.row_number().over(Window.partitionBy("word").orderBy("pos")),
        )
        keep = (
            runs.withColumn(
                "r",
                F.row_number().over(
                    Window.partitionBy("word", "run").orderBy("pos")
                ),
            )
            .filter(F.col("r") % 2 == 1)
            .select("word", "pos")
        )
        merged = (
            paired.join(
                keep.withColumn("_m", F.lit(True)), ["word", "pos"], "left"
            )
            .join(
                keep.select(
                    "word", (F.col("pos") + 1).alias("pos")
                ).withColumn("_c", F.lit(True)),
                ["word", "pos"],
                "left",
            )
            .filter(F.col("_c").isNull())
            .select(
                "word",
                "freq",
                "pos",
                F.when(F.col("_m"), F.concat("sym", "nxt"))
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
        )
        sym = merged.select(
            "word", "freq", F.row_number().over(w_word).alias("pos"), "sym"
        ).localCheckpoint(eager=True)
    segmented = sym.groupBy("word", "freq").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "sym"))),
                lambda s: s["sym"],
            ),
            " ",
        ).alias("segmentation")
    )
    return merges, segmented
