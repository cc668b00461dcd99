"""Training-data curation: quality filters, contamination, packing, sampling
and mixtures, splits and the composite curation verdicts."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators import dedup, relational, text
from spark_lakehouse_medallion_pipeline_spark.operators.dedup import normalized_text
from spark_lakehouse_medallion_pipeline_spark.operators.relational import (
    distributed_rank,
)
from spark_lakehouse_medallion_pipeline_spark.operators.text import (
    adaptive_length_filter,
)
from spark_lakehouse_medallion_pipeline_spark.queries._common import (
    S_FLOOR,
    S_MONEY,
    _q,
    _t,
    floor_round,
    money,
    sum_cents,
)
from spark_lakehouse_medallion_pipeline_spark.queries.dedup import _NORM_SQL


@_q(
    "q51_corpus_curation",
    r"""
    WITH t AS (
      SELECT doc_id, source, text,
             string_split_regex(trim(text), '\s+') AS toks,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm,
             ' ' || lower(text) || ' ' AS lt
      FROM documents
    ), m AS (
      SELECT doc_id, source, norm, lt,
             len(toks) AS n_tokens,
             CAST(list_sum(list_transform(toks, t2 -> length(t2))) AS DOUBLE) / len(toks) AS atl,
             CAST(len(list_filter(list_transform(toks, t2 -> lower(t2)),
                 t2 -> list_contains(['the','a','of','and','to','in','is','it','for','on'], t2))) AS DOUBLE)
               / len(toks) AS swr,
             CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE)
               / length(text) AS pr
      FROM t
    ), q AS (
      SELECT doc_id, source, norm, n_tokens,
             ((CASE WHEN atl >= 3 AND atl <= 12 THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN swr > 0.05 THEN 1.0 ELSE 0.6 END)
              + (CASE WHEN pr < 0.1 THEN 1.0 ELSE 0.7 END)) / 3.0 AS quality,
             CASE WHEN lt LIKE '% the %' OR lt LIKE '% and %' OR lt LIKE '% is %' THEN 'en'
                  WHEN lt LIKE '% le %' OR lt LIKE '% et %' OR lt LIKE '% est %' THEN 'fr'
                  WHEN lt LIKE '% el %' OR lt LIKE '% y %' OR lt LIKE '% es %' THEN 'es'
                  WHEN lt LIKE '% der %' OR lt LIKE '% und %' OR lt LIKE '% ist %' THEN 'de'
                  ELSE 'unknown' END AS plang
      FROM m
    ), keep AS (
      SELECT min(doc_id) AS doc_id FROM t GROUP BY norm
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(ROUND(quality*30) AS BIGINT)) AS DOUBLE) / COUNT(*) / 30.0
             AS avg_quality
    FROM q JOIN keep USING (doc_id)
    WHERE quality >= 0.8 AND plang <> 'unknown'
    GROUP BY source
    """,
)
def q51_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM training-data curation pipeline as ONE declarative plan:
    exact dedup (keep min-id per normalized content) -> quality filter ->
    language filter -> per-source corpus stats. Composes X17 + X20
    operators end-to-end; the near-dup (LSH) stage is the same shape via
    dedup.minhash_near_dup_pairs but is verified separately (q33) to
    keep this query fully oracle-checkable.

    avg_quality rides the exact-integer idiom: per-doc quality*30 is an
    exact small integer (components are {0.5,0.6,0.7,1.0}), so the
    aggregate is order-independent."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        "source",
        text.quality_score_raw(t).alias("quality"),
        text.lang_id(t).alias("plang"),
        text.token_count(t).alias("n_tokens"),
        text.normalized_text(t).alias("norm"),
    )
    keepers = scored.groupBy("norm").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    curated = (
        scored.join(keepers, "doc_id", "left_semi")
        .filter((F.col("quality") >= 0.8) & (F.col("plang") != "unknown"))
    )
    return curated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (
            F.sum(F.round(F.col("quality") * 30).cast("long")).cast("double")
            / F.count(F.lit(1))
            / F.lit(30.0)
        ).alias("avg_quality"),
    )


@_q(
    "q61_systematic_sample",
    f"""
    SELECT l_returnflag, COUNT(*) AS n, {S_MONEY("l_extendedprice")} AS sample_revenue
    FROM lineitem WHERE l_orderkey % 10 = 0
    GROUP BY l_returnflag
    """,
)
def q61_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic sample (key mod N) — unlike df.sample()
    it is reproducible across engines/runs, survives re-partitioning,
    and pushes down to the scan as a plain predicate. The stochastic
    alternative (df.sample, TABLESAMPLE) exists but is engine-seeded and
    therefore un-oracle-able."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        money(sum_cents(F.col("l_extendedprice"))).alias("sample_revenue"),
    )


_STRATA_BP = {"purchase": 10000, "click": 2000, "view": 500, "signup": 2000, "error": 10000}


@_q(
    "q76_stratified_sample",
    f"""
    SELECT event_type, COUNT(*) AS n_sampled, {S_MONEY("value")} AS sampled_value
    FROM (
      SELECT event_type, value,
             CAST(('0x' || substr(md5('strat' || event_id), 1, 8)) AS BIGINT) % 10000 AS u
      FROM events
    )
    WHERE u < (CASE event_type
                 WHEN 'purchase' THEN 10000 WHEN 'click' THEN 2000
                 WHEN 'view' THEN 500 WHEN 'signup' THEN 2000
                 WHEN 'error' THEN 10000 ELSE 0 END)
    GROUP BY event_type
    """,
)
def q76_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (the scalable stand-in for
    df.sampleBy): keep-fraction per stratum decided by an md5-derived
    uniform in basis points, so the sample is reproducible across
    engines, runs, AND repartitioning — df.sampleBy(seed) is none of
    those. Pure narrow map + filter: no shuffle until the audit
    aggregate; at 100 TB the filter pipelines inside the scan stage."""
    ev = _t(spark, sf_dir, "events")
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("strat"), F.col("event_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 10000
    )
    thresh = F.lit(0)
    for k, bp in _STRATA_BP.items():
        thresh = F.when(F.col("event_type") == k, F.lit(bp)).otherwise(thresh)
    return (
        ev.withColumn("u", u)
        .filter(F.col("u") < thresh)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            money(sum_cents(F.col("value"))).alias("sampled_value"),
        )
    )


@_q(
    "q80_benchmark_contamination",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS l FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(l) - 2),
                    i -> array_to_string(l[i:i+3], ' ')))) AS gram
      FROM toks WHERE len(l) >= 4
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 100 = 0),
    train AS (SELECT doc_id, gram FROM grams WHERE doc_id % 100 <> 0)
    SELECT train.doc_id, COUNT(*) AS n_contaminated_grams
    FROM train JOIN bench ON train.gram = bench.gram
    GROUP BY train.doc_id
    """,
)
def q80_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: training docs sharing any
    k-gram with a held-out benchmark slice (doc_id%100=0 here; a real run
    broadcasts the benchmark suite). k=4 against this synthetic vocab so
    the check provably fires (11 hits at sf0.01); production uses k=8+. Distinct 8-grams per doc are built
    with one array lambda (no Python); the benchmark side deduplicates to
    |bench grams| and broadcasts, so the check is a map-side hash probe
    over the training corpus — no big shuffle. At 100 TB the grams hash
    to int64 before the join (xxhash64) to cut probe-side width; kept as
    raw strings here so DuckDB can verify end-to-end."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    grams8 = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("l")) - 3),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("l"), i + j) for j in range(4)]
            ),
        )
    )
    grams = (
        docs.select("doc_id", toks.alias("l"))
        .filter(F.size("l") >= 4)
        .select("doc_id", F.explode(grams8).alias("gram"))
    )
    bench = grams.filter(F.col("doc_id") % 100 == 0).select("gram").distinct()
    train = grams.filter(F.col("doc_id") % 100 != 0)
    return (
        train.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )


@_q(
    "q93_common_prefix_strip",
    """
    WITH p AS (
      SELECT doc_id, text,
             array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ') AS pref
      FROM documents
    ),
    hot AS (
      SELECT pref FROM p GROUP BY pref HAVING COUNT(*) >= 2
    )
    SELECT p.doc_id,
           CASE WHEN hot.pref IS NOT NULL
                THEN substr(p.text, length(p.pref) + 2) ELSE p.text END AS text,
           hot.pref IS NOT NULL AS prefix_stripped
    FROM p LEFT JOIN hot ON p.pref = hot.pref
    """,
)
def q93_common_prefix_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate removal (CCNet-style header strip,
    X20/X17 family): documents whose 2-word opener is shared by >= 2 docs
    get it stripped. One map-combined shuffle to count prefixes; the hot
    set broadcasts back — the corpus scan never reshuffles."""
    return dedup.strip_common_prefixes(
        _t(spark, sf_dir, "documents"), n_words=2, min_docs=2
    )


@_q(
    "q95_sequence_packing",
    r"""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT doc_id, source, n_tokens,
           CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id,
           CAST((cum - n_tokens) % 512 AS BIGINT) AS pack_offset,
           CAST((cum - 1) // 512 - (cum - n_tokens) // 512 + 1 AS BIGINT)
             AS n_packs_spanned
    FROM c
    """,
)
def q95_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing (LLM pretraining layout): each
    doc's starting (pack, offset) in its source's 512-token stream, plus
    span count. One per-source cumsum window — never a global ordering."""
    return text.pack_sequences(_t(spark, sf_dir, "documents"), ctx_len=512)


@_q(
    "q102_adaptive_length_filter",
    """
    WITH med AS (
      SELECT lang, quantile_cont(n_chars, 0.5) AS m
      FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d JOIN med ON d.lang = med.lang
    WHERE d.n_chars >= 0.5 * med.m
    """,
)
def q102_adaptive_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language adaptive length gate (X20): keep docs >= half their
    language's median length. Group medians are one tiny aggregate
    broadcast back; interpolated medians of integer lengths are exactly
    representable (x.0/x.5) so the boundary compare is bit-stable."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return adaptive_length_filter(docs)


_STOP_SQL = "('the','a','of','and','to','in','is','it','for','on')"

# Gopher metric CTEs + keep predicate, shared by q105 and q228's
# composite verdict so the two oracles can never drift apart.
_GOPHER_TM_CTE = f"""t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS toks,
             length(regexp_replace(text, '\\s', '', 'g')) AS n_nospace
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(n_nospace AS DOUBLE) / len(toks) AS mean_word_len,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
                  AS DOUBLE) / len(toks) AS alpha_word_ratio,
             CAST(len(list_filter(list_transform(toks, x -> lower(x)),
                                  x -> x IN {_STOP_SQL})) AS BIGINT) AS stopword_hits
      FROM t
    )"""

_GOPHER_KEEP_SQL = (
    "(n_words >= 5 AND n_words <= 100000 AND mean_word_len >= 3.0"
    " AND mean_word_len <= 10.0 AND alpha_word_ratio >= 0.8"
    " AND stopword_hits >= 2)"
)


@_q(
    "q105_gopher_quality",
    f"""
    WITH {_GOPHER_TM_CTE}
    SELECT doc_id, n_words, mean_word_len, alpha_word_ratio, stopword_hits,
           CAST(n_words >= 5 AND n_words <= 100000 AS INT) AS words_ok,
           CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS INT) AS word_len_ok,
           CAST(alpha_word_ratio >= 0.8 AS INT) AS alpha_ok,
           CAST(stopword_hits >= 2 AS INT) AS stopwords_ok,
           CAST(n_words >= 5 AND n_words <= 100000
                AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                AND alpha_word_ratio >= 0.8
                AND stopword_hits >= 2 AS INT) AS gopher_keep
    FROM m
    """,
)
def q105_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rules (X20) over the document corpus — each
    rule's value AND flag so curation is auditable. Flags cast to INT
    for hash stability across engines."""
    docs = _t(spark, sf_dir, "documents")
    out = text.gopher_quality_flags(docs)
    flag_cols = ["words_ok", "word_len_ok", "alpha_ok", "stopwords_ok", "gopher_keep"]
    return out.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_word_ratio",
        "stopword_hits",
        *[F.col(c).cast("int").alias(c) for c in flag_cols],
    )


@_q(
    "q106_mixture_sample",
    """
    SELECT doc_id, lang, source
    FROM documents
    WHERE CAST((doc_id % 1000003) * 2654435761 % 4294967296 AS DOUBLE)
            / 4294967296.0
          < CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.75 ELSE 1.0 END
    """,
)
def q106_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic language-mixture sampling (X20/curation): keep 50%
    of English, 75% of Chinese, all of everything else — the data-mixing
    step of a pretraining corpus, as a pure scan-side predicate (no
    shuffle; same corpus on every rerun/repartition, unlike rand())."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return text.mixture_sample(docs, {"en": 0.5, "zh": 0.75})


@_q(
    "q114_repeated_line_removal",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ), lines AS (
      SELECT doc_id, CAST(g AS BIGINT) AS pos,
             array_to_string(t[g*3+1 : g*3+3], ' ') AS line
      FROM toks, LATERAL UNNEST(range(CAST(ceil(len(t)/3.0) AS BIGINT))) AS u(g)
    ), hot AS (
      SELECT line FROM lines GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3
    ), kept AS (
      SELECT l.doc_id, l.pos, l.line FROM lines l ANTI JOIN hot h USING (line)
    )
    SELECT doc_id, COUNT(*) AS n_lines_kept,
           string_agg(line, ' ' ORDER BY pos) AS text_clean
    FROM kept GROUP BY doc_id
    """,
)
def q114_repeated_line_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style repeated-line removal with document
    reassembly (X20/X17 extension): 3-token lines occurring in >= 3
    distinct documents are corpus boilerplate; drop them everywhere and
    rebuild each document's surviving text in order. The oracle is the
    identical dataflow in SQL — every reassembled string must match
    byte-for-byte. See operators.text.remove_repeated_lines for the
    three-shuffle scale story (no unconditional broadcast, no driver
    collect, no all-pairs step)."""
    docs = _t(spark, sf_dir, "documents")
    return text.remove_repeated_lines(docs, line_tokens=3, min_docs=3)


@_q(
    "q116_token_budget",
    r"""
    WITH t AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks, text
      FROM documents
    ), m AS (
      SELECT doc_id, source, len(toks) AS n_tokens,
             CAST(list_sum(list_transform(toks, t2 -> length(t2))) AS DOUBLE)
               / len(toks) AS atl,
             CAST(len(list_filter(list_transform(toks, t2 -> lower(t2)),
                 t2 -> list_contains(['the','a','of','and','to','in','is','it','for','on'], t2))) AS DOUBLE)
               / len(toks) AS swr,
             CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE)
               / length(text) AS pr
      FROM t
    ), q AS (
      SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
             ((CASE WHEN atl >= 3 AND atl <= 12 THEN 1.0 ELSE 0.5 END)
              + (CASE WHEN swr > 0.05 THEN 1.0 ELSE 0.6 END)
              + (CASE WHEN pr < 0.1 THEN 1.0 ELSE 0.7 END)) / 3.0 AS quality
      FROM m
    ), c AS (
      SELECT doc_id, source, n_tokens, quality,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY quality DESC, doc_id
             ) AS BIGINT) AS cum_tokens
      FROM q
    )
    SELECT doc_id, source, n_tokens, quality, cum_tokens
    FROM c WHERE cum_tokens <= 2000
    """,
)
def q116_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked token-budget curation (X20 extension): spend a
    fixed per-source token budget on the best-scoring documents — the
    selection step between quality scoring and sequence packing in a
    pretraining pipeline. One per-source ranked-cumsum window (never a
    global ordering); quality is the shared quality_score_raw chain,
    whose doubles are bit-identical cross-engine (q51 precedent), so
    the rank order and the kept set match exactly."""
    docs = _t(spark, sf_dir, "documents")
    return text.token_budget_curation(docs, budget_tokens=2000).select(
        "doc_id", "source", "n_tokens", "quality", "cum_tokens"
    )


@_q(
    "q119_classifier_filter",
    rf"""
    WITH t AS (
      SELECT doc_id, source,
             string_split_regex(trim(lower(text)), '\s+') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, source, len(toks) AS n_tokens,
             CAST(list_sum(list_transform(toks, tk ->
               ((((ascii(substr(tk || '__', 1, 1))*131
                  + ascii(substr(tk || '__', 2, 1))*31
                  + ascii(substr(tk || '__', 3, 1))*17
                  + length(tk)) * 2654435761) % 4096) * 1103515245 + 7) % 2001
               - 1000)) AS BIGINT) AS sum_millis
      FROM t
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           {S_FLOOR("1.0 / (1.0 + exp(-(CAST(sum_millis AS DOUBLE) / (n_tokens * 1000.0))))", 6)}
             AS clf_score
    FROM s
    WHERE 1.0 / (1.0 + exp(-(CAST(sum_millis AS DOUBLE) / (n_tokens * 1000.0)))) > 0.5
    """,
)
def q119_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (X20 extension; the DCLM /
    FineWeb-Edu curation step): score every document with a
    fastText-style hashed linear classifier computed entirely in Column
    math, keep docs scoring > 0.5. The weight sum is exact int64 so
    both engines sigmoid the identical double; output rounds at 1e-6 to
    absorb the one-ulp libm exp() difference. The >0.5 threshold
    compares sigmoid(x) > 0.5 <=> x > 0, which is exact-integer, so the
    kept SET cannot differ across engines. See
    operators.text.classifier_score."""
    docs = _t(spark, sf_dir, "documents")
    score = text.classifier_score(F.col("text"))
    return (
        docs.select(
            "doc_id",
            "source",
            text.token_count(F.col("text")).cast("long").alias("n_tokens"),
            floor_round(score, 6).alias("clf_score"),
            score.alias("_raw"),
        )
        .filter(F.col("_raw") > 0.5)
        .drop("_raw")
    )


@_q(
    "q121_split_leakage",
    r"""
    WITH s AS (
      SELECT doc_id,
             md5(array_to_string(
               (string_split_regex(trim(lower(text)), '\s+'))[1:8], ' ')) AS fp,
             CASE WHEN ((doc_id % 1000003) * 2654435761 % 4294967296)
                       / 4294967296.0 < 0.8
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    )
    SELECT a.doc_id AS train_doc_id, b.doc_id AS test_doc_id, a.fp AS fingerprint
    FROM s a JOIN s b ON a.fp = b.fp
    WHERE a.split = 'train' AND b.split = 'test'
    """,
)
def q121_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split assignment + leakage audit (X17/X20 extension):
    deterministically assign every document to train (80%) or test via
    the engine-portable Knuth-hash uniform (the q106 machinery — a
    rerun-stable split rand() cannot give), then report every pair whose
    8-token opening PREFIX matches across the split — held-out
    contamination (a test prompt copied into a training doc), the error
    every eval pipeline must check before trusting numbers. Prefix
    fingerprints (not whole-text) are the production form: contaminated
    copies rarely match byte-for-byte past the opening span. The pair
    join is on the md5 fingerprint (well-spread key, never all-pairs);
    at 100 TB the same join runs fingerprint-bucketed exactly as
    written."""
    docs = _t(spark, sf_dir, "documents")
    prefix8 = F.array_join(
        F.slice(text.whitespace_tokens(F.lower(F.col("text"))), 1, 8), " "
    )
    s = docs.select(
        "doc_id",
        F.md5(prefix8).alias("fp"),
        F.when(
            text.mixture_uniform(F.col("doc_id")) < 0.8, "train"
        ).otherwise("test").alias("split"),
    )
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(b, F.col("a.fp") == F.col("b.fp"))
        .filter((F.col("a.split") == "train") & (F.col("b.split") == "test"))
        .select(
            F.col("a.doc_id").alias("train_doc_id"),
            F.col("b.doc_id").alias("test_doc_id"),
            F.col("a.fp").alias("fingerprint"),
        )
    )


@_q(
    "q154_stratified_sample",
    """
    WITH r AS (
      SELECT doc_id, source, lang, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 18, 15))::BIGINT,
                        doc_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT doc_id, source, lang, n_chars
    FROM r WHERE rn * 5 <= n * 1
    """,
)
def q154_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified corpus sampling (training-mixture quota): keep
    exactly floor(n/5) documents of EVERY source, chosen by a
    deterministic portable-md5 hash rank (int64-safe for 63-bit ids,
    unlike a raw Knuth multiply) — the contractual-mixture
    counterpart of q88's probabilistic mixture_sample, whose per-stratum
    share drifts binomially. Quota test is integer arithmetic (rn*5 <=
    n*1): float fractions flip floor/ceil at exact multiples across
    engines. One shuffle on the stratum serves count + rank
    (operators.relational.stratified_exact_sample)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    return relational.stratified_exact_sample(
        docs, ["source"], frac_num=1, frac_den=5, order_col="doc_id"
    )


@_q(
    "q185_domain_affinity",
    r"""
    WITH tok AS (
      SELECT doc_id, source,
             UNNEST(string_split_regex(trim(text), '\s+')) AS w
      FROM documents
    ), stats AS (
      SELECT w,
             CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_target,
             CAST(COUNT(*) AS BIGINT) AS c_all
      FROM tok GROUP BY w
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(s.c_target) AS BIGINT) AS sum_target,
           CAST(SUM(s.c_target * 1000000 // s.c_all) // COUNT(*)
                AS BIGINT) AS affinity_e6
    FROM tok t JOIN stats s ON s.w = t.w
    WHERE t.source <> 'src0'
    GROUP BY t.doc_id
    """,
)
def q185_domain_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted domain-affinity scoring (the integer-exact
    cousin of DSIR data selection): score every NON-target document by
    the mean target-domain share of its tokens — per token w, the e6
    fraction count(w in src0)/count(w anywhere), averaged over the doc
    (floor division at each step so both engines truncate identically;
    a true log-likelihood ratio would ulp-drift between JVM ln and
    libm). High scorers read like the target domain and get upsampled
    when curating a mixture toward it. One token explode, one
    vocabulary aggregate, one broadcast-sized join back — the same
    collapse-to-vocab scale shape as BPE training."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
    )
    stats = tok.groupBy("w").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias(
            "c_target"
        ),
        F.count(F.lit(1)).alias("c_all"),
    )
    return (
        tok.filter(F.col("source") != "src0")
        .join(F.broadcast(stats), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("c_target").alias("sum_target"),
            F.expr(
                "CAST(SUM(c_target * 1000000 div c_all) div COUNT(*) AS BIGINT)"
            ).alias("affinity_e6"),
        )
    )


@_q(
    "q187_mixture_apportionment",
    r"""
    WITH w AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS weight
      FROM documents GROUP BY source
    ), tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw FROM w),
    base AS (
      SELECT source, weight,
             CAST(1000000 * weight // tw AS BIGINT) AS floor_quota,
             CAST(1000000 * weight % tw AS BIGINT) AS remainder
      FROM w, tot
    ), leftover AS (
      SELECT CAST(1000000 - SUM(floor_quota) AS BIGINT) AS k FROM base
    ), ranked AS (
      SELECT source, weight, floor_quota,
             row_number() OVER (ORDER BY remainder DESC, source) AS rk
      FROM base
    )
    SELECT source, weight, floor_quota,
           CAST(floor_quota + CASE WHEN rk <= (SELECT k FROM leftover)
                                   THEN 1 ELSE 0 END AS BIGINT) AS token_quota
    FROM ranked
    """,
)
def q187_mixture_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture quota planning by LARGEST-REMAINDER (Hamilton)
    apportionment: split a 1M-token budget across sources proportionally
    to their character mass so the quotas are integers that sum EXACTLY
    to the budget — floor quotas + one extra token to the largest
    remainders (source-name tiebreak). Pure integer arithmetic end to
    end (the float-share approach mis-sums the budget whenever shares
    round the same way), the same contractual-mixture discipline as
    q154's exact sampler, which consumes exactly these quotas. Plan: a
    source-keyed aggregate, a 1-row total cross-joined back (broadcast),
    one model-scale window."""
    docs = _t(spark, sf_dir, "documents")
    w = docs.groupBy("source").agg(F.sum("n_chars").alias("weight"))
    tot = w.agg(F.sum("weight").alias("tw"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "weight",
        F.expr("CAST(1000000 * weight div tw AS BIGINT)").alias("floor_quota"),
        F.expr("CAST(1000000 * weight % tw AS BIGINT)").alias("remainder"),
    )
    leftover = base.agg(
        (F.lit(1000000) - F.sum("floor_quota")).alias("k")
    )
    ranked = base.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.desc("remainder"), F.asc("source"))
        ),
    )
    return ranked.crossJoin(F.broadcast(leftover)).select(
        "source",
        "weight",
        "floor_quota",
        (
            F.col("floor_quota")
            + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("token_quota"),
    )


@_q(
    "q195_weighted_sample",
    """
    WITH k AS (
      SELECT source, doc_id, n_chars,
             ln((('0x' || substr(md5(doc_id::VARCHAR), 2, 15))::BIGINT + 1)
                / 1152921504606846976.0) / n_chars AS skey
      FROM documents WHERE n_chars >= 1
    )
    SELECT source, doc_id, n_chars, rk FROM (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY skey DESC, doc_id) AS rk
      FROM k) z
    WHERE rk <= 5
    """,
)
def q195_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ITEM weighted sampling without replacement (Efraimidis-
    Spirakis A-Res): 5 documents per source with inclusion probability
    proportional to n_chars — the quality/length-weighted sampler an
    LLM mixture uses when weights vary per document (q154/q76 cover
    per-STRATUM rates; this is the per-item primitive). Rank key is
    ln(u)/w with u a portable-md5 uniform in (0, 1] — deterministic, no
    RNG, and both engines compute the identical formula (ln may differ
    in the last ulp; adjacent keys of random 60-bit hashes are ~1e-3
    apart, so a rank flip is measure-zero — the q45 argmax risk class).
    Zero-weight docs are excluded by contract (ln(u)/0 is undefined).
    Plan: one scan, one per-source window — the distributed one-pass
    weighted reservoir; at 100 TB the window is per-source and the
    sample size is a constant, so TakeOrderedAndProject-style partial
    top-k applies within every partition."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 1)
    u = (
        F.expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 2, 15), 16, 10)"
            " AS BIGINT)"
        )
        + F.lit(1)
    ) / F.lit(float(2**60))
    k = docs.select(
        "source",
        "doc_id",
        "n_chars",
        (F.log(u) / F.col("n_chars")).alias("skey"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("skey"), F.asc("doc_id"))
    return (
        k.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("source", "doc_id", "n_chars", "rk")
    )


@_q(
    "q208_mixture_temperature",
    r"""
    WITH w0 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
                FROM documents GROUP BY source),
    w AS (SELECT source, n,
                 CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1000000.0 + 0.5)
                      AS BIGINT) AS weight
          FROM w0),
    tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw FROM w),
    base AS (
      SELECT source, n, weight,
             CAST(1000000 * weight // tw AS BIGINT) AS floor_quota,
             CAST(1000000 * weight % tw AS BIGINT) AS remainder
      FROM w, tot
    ),
    leftover AS (SELECT CAST(1000000 - SUM(floor_quota) AS BIGINT) AS k FROM base),
    ranked AS (
      SELECT source, n, weight, floor_quota,
             row_number() OVER (ORDER BY remainder DESC, source) AS rk
      FROM base
    )
    SELECT source, n AS n_docs, weight AS w_sqrt_e6,
           CAST(floor_quota + CASE WHEN rk <= (SELECT k FROM leftover)
                                   THEN 1 ELSE 0 END AS BIGINT) AS sample_quota
    FROM ranked
    """,
)
def q208_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-scaled mixture resampling quotas (alpha = 0.5) — the
    data-mixing step that UPSAMPLES rare domains before training (the
    published practice behind multi-source corpus weighting: raw
    proportional sampling drowns small high-quality sources, so
    weights are flattened as n^alpha before apportionment). Per
    source: weight = sqrt(doc count), e6-QUANTIZED so everything
    downstream is q187's EXACT integer largest-remainder machinery
    (sqrt is IEEE-correctly-rounded — bit-identical in every engine,
    unlike ln — and FLOOR(x*1e6+0.5) pins the one inexact value; from
    there floor-quota + remainder ranks are pure integer arithmetic
    and the 1M-sample budget sums exactly). Scale shape: one
    source-count aggregate (domain-sized), a 1-row total broadcast,
    and a domain-sized window — the plan is model-sized after the
    first groupBy regardless of corpus size."""
    docs = _t(spark, sf_dir, "documents")
    w = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "source",
            "n",
            F.floor(F.sqrt(F.col("n").cast("double")) * F.lit(1e6) + F.lit(0.5))
            .cast("bigint")
            .alias("weight"),
        )
    )
    tot = w.agg(F.sum("weight").alias("tw"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n",
        "weight",
        F.expr("CAST(1000000L * weight div tw AS BIGINT)").alias("floor_quota"),
        F.expr("CAST(1000000L * weight % tw AS BIGINT)").alias("remainder"),
    )
    k = base.agg((F.lit(1000000) - F.sum("floor_quota")).alias("k"))
    ranked = base.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("remainder").desc(), F.col("source"))
        ),
    )
    return ranked.crossJoin(F.broadcast(k)).select(
        "source",
        F.col("n").alias("n_docs"),
        F.col("weight").alias("w_sqrt_e6"),
        (
            F.col("floor_quota")
            + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("sample_quota"),
    )


@_q(
    "q228_curation_verdict",
    f"""
    WITH {_GOPHER_TM_CTE},
    gf AS (SELECT doc_id, CAST({_GOPHER_KEEP_SQL} AS INT) AS gopher_ok
           FROM m),
    kp AS (SELECT doc_id, lang, n_chars,
                  CAST(doc_id = MIN(doc_id)
                       OVER (PARTITION BY {_NORM_SQL}) AS INT) AS keeper_ok
           FROM documents)
    SELECT kp.doc_id, gopher_ok, keeper_ok,
           CAST(lang IN ('en','fr','es','de') AS INT) AS lang_ok,
           CAST(n_chars BETWEEN 100 AND 2000 AS INT) AS len_ok,
           CAST(gopher_ok + 2*keeper_ok
                + 4*CAST(lang IN ('en','fr','es','de') AS INT)
                + 8*CAST(n_chars BETWEEN 100 AND 2000 AS INT)
                AS BIGINT) AS pass_mask,
           CAST(gopher_ok = 1 AND keeper_ok = 1
                AND lang IN ('en','fr','es','de')
                AND n_chars BETWEEN 100 AND 2000 AS INT) AS keep
    FROM kp JOIN gf ON gf.doc_id = kp.doc_id
    """,
)
def q228_curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone curation decision: one auditable verdict per
    document composing four families this engine already value-oracles
    — Gopher quality rules (q105, via the SAME shared SQL CTE so the
    two oracles cannot drift), exact-dedup keeper status (q28's
    normalization; only a content cluster's smallest doc_id survives),
    a target-language gate, and a length gate — packed into a
    pass_mask bitmap (bit0 gopher, bit1 keeper, bit2 lang, bit3
    length) plus the conjunctive keep flag, the reject-reason report a
    production pipeline logs for every dropped document. All flags are
    exact INTs. Plan: the gopher metrics are shuffle-free scan columns;
    the only data-sized shuffle is the content-key window (same as
    q28's groupBy); the flag join is doc-keyed. At 100 TB this is one
    dedup-shaped shuffle plus scan work — the cheapest possible
    full-corpus verdict pass."""
    docs = _t(spark, sf_dir, "documents")
    gf = text.gopher_quality_flags(docs).select(
        "doc_id", F.col("gopher_keep").cast("int").alias("gopher_ok")
    )
    w = Window.partitionBy("ck")
    kp = docs.select(
        "doc_id", "lang", "n_chars", normalized_text(F.col("text")).alias("ck")
    ).select(
        "doc_id",
        "lang",
        "n_chars",
        (F.col("doc_id") == F.min("doc_id").over(w)).cast("int")
        .alias("keeper_ok"),
    )
    lang_ok = F.col("lang").isin("en", "fr", "es", "de").cast("int")
    len_ok = F.col("n_chars").between(100, 2000).cast("int")
    j = kp.join(gf, "doc_id")
    return j.select(
        "doc_id",
        "gopher_ok",
        "keeper_ok",
        lang_ok.alias("lang_ok"),
        len_ok.alias("len_ok"),
        (
            F.col("gopher_ok")
            + 2 * F.col("keeper_ok")
            + 4 * lang_ok
            + 8 * len_ok
        ).cast("bigint").alias("pass_mask"),
        (
            (F.col("gopher_ok") == 1)
            & (F.col("keeper_ok") == 1)
            & F.col("lang").isin("en", "fr", "es", "de")
            & F.col("n_chars").between(100, 2000)
        ).cast("int").alias("keep"),
    )


@_q(
    "q239_leakage_safe_split",
    r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000, text || ' zzdup zzdup' FROM documents
    ),
    c AS (SELECT doc_id, text,
                 regexp_replace(text, ' zzdup zzdup$', '') AS ckey
          FROM corpus),
    cl AS (SELECT ckey, MIN(doc_id) AS rep, COUNT(*) AS n
           FROM c GROUP BY ckey),
    named AS (
      SELECT c.doc_id, c.ckey, length(c.text) AS tl,
             CASE WHEN b.cb <= 7 THEN 'train' WHEN b.cb = 8 THEN 'val'
                  ELSE 'test' END AS split,
             CASE WHEN b.nb <= 7 THEN 'train' WHEN b.nb = 8 THEN 'val'
                  ELSE 'test' END AS naive
      FROM c JOIN cl ON cl.ckey = c.ckey
      CROSS JOIN LATERAL (SELECT
        ('0x' || substr(md5(CAST(cl.rep AS VARCHAR) || '#split'), 2, 15))
          ::BIGINT % 10 AS cb,
        ('0x' || substr(md5(CAST(c.doc_id AS VARCHAR) || '#split'), 2, 15))
          ::BIGINT % 10 AS nb) b
    ),
    lk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS leaks_prevented FROM (
        SELECT ckey FROM named
        GROUP BY ckey HAVING COUNT(*) > 1 AND COUNT(DISTINCT naive) > 1)
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT ckey) AS BIGINT) AS n_clusters,
           CAST(SUM(tl) AS BIGINT) AS sum_chars,
           CAST(SUM(CASE WHEN split <> naive THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_moved,
           lk.leaks_prevented
    FROM named CROSS JOIN lk
    GROUP BY split, lk.leaks_prevented
    """,
)
def q239_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split — the assignment rule every
    LLM corpus needs: hash the DEDUP-CLUSTER representative, not the
    document, so near-duplicates can never straddle train and test
    (the contamination channel a naive per-doc hash split leaves wide
    open). Split = 60-bit md5 of the cluster rep mod 10 (0-7 train,
    8 val, 9 test — seeded, reproducible, shard-order-independent; the
    repo's portable hash family, so DuckDB replays it digit for
    digit). The corpus has no natural duplicate clusters, so each doc
    gets the planted near-dup twin from q238's protocol, with the
    cluster key derived by canonicalizing the twin marker away —
    production derives it from q67's connected components / q162's LSH
    instead, same contract. Reported per split: docs, clusters, chars,
    docs MOVED relative to the naive per-doc split, and the global
    count of clusters the naive split would have torn across splits
    (leaks_prevented — the whole point of the operator). Plan: one
    groupBy for clusters, a cluster-keyed join back (broadcast-able:
    cluster table is rep+key only), map-side hash arithmetic, one
    final split-keyed aggregate; no window, no collect."""
    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = base.unionAll(
        base.select(
            (F.col("doc_id") + 10000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzdup zzdup")).alias("text"),
        )
    )
    c = corpus.withColumn(
        "ckey", F.regexp_replace("text", " zzdup zzdup$", "")
    )
    cl = c.groupBy("ckey").agg(F.min("doc_id").alias("rep"))

    def _bucket(col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(col.cast("string"), F.lit("#split"))), 2, 15
                ),
                16,
                10,
            ).cast("bigint")
            % 10
        )

    def _name(b):
        return (
            F.when(b <= 7, "train").when(b == 8, "val").otherwise("test")
        )

    named = (
        c.join(cl, "ckey")
        .select(
            "ckey",
            F.length("text").alias("tl"),
            _name(_bucket(F.col("rep"))).alias("split"),
            _name(_bucket(F.col("doc_id"))).alias("naive"),
        )
    )
    lk = (
        named.groupBy("ckey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("naive").alias("nn"),
        )
        .filter((F.col("n") > 1) & (F.col("nn") > 1))
        .agg(F.count(F.lit(1)).cast("bigint").alias("leaks_prevented"))
    )
    return (
        named.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("ckey").cast("bigint").alias("n_clusters"),
            F.sum("tl").cast("bigint").alias("sum_chars"),
            F.sum((F.col("split") != F.col("naive")).cast("int"))
            .cast("bigint")
            .alias("n_docs_moved"),
        )
        .crossJoin(F.broadcast(lk))
        .select(
            "split", "n_docs", "n_clusters", "sum_chars",
            "n_docs_moved", "leaks_prevented",
        )
    )


@_q(
    "q241_filter_agreement_kappa",
    f"""
    WITH {_GOPHER_TM_CTE},
    lab AS (
      SELECT m.doc_id,
             CAST({_GOPHER_KEEP_SQL} AS INT) AS la,
             CAST(d.n_chars >= 300 AS INT) AS lb
      FROM m JOIN documents d ON d.doc_id = m.doc_id
    ),
    cm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN la = 1 AND lb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN la = 1 AND lb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN la = 0 AND lb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN la = 0 AND lb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM lab
    )
    SELECT n, a AS both_keep, b AS only_gopher, c AS only_length,
           d AS both_drop,
           CAST((1000000 * (a + d)) // n AS BIGINT) AS agree_e6,
           CAST((1000000 * (n * (a + d) - ((a+b)*(a+c) + (c+d)*(b+d))))
                // (CASE WHEN n*n = (a+b)*(a+c) + (c+d)*(b+d) THEN 1
                         ELSE n*n - ((a+b)*(a+c) + (c+d)*(b+d)) END)
             AS BIGINT) AS kappa_e6
    FROM cm
    """,
)
def q241_filter_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two quality filters — the
    inter-annotator-agreement statistic a curation stack uses to decide
    whether a CHEAP filter (here: n_chars >= 300) can stand in for an
    EXPENSIVE one (the Gopher rule battery, CTE shared verbatim with
    q105/q228's oracles): raw agreement overstates concordance when
    both labelers mostly keep, kappa subtracts the chance-agreement
    floor. Exact integer rationals end to end: the 2x2 confusion
    matrix in one aggregate, kappa = (n*(a+d) - E) / (n^2 - E) with
    E = (a+b)(a+c)+(c+d)(b+d), delivered as a single e6 trunc-div
    (numerator may be negative: Spark div == DuckDB // trunc toward
    zero, the q226 rule; magnitudes stay under 2^45 at sf0.1). Plan:
    one scan, map-side flag computation, a 1-row aggregate — no join,
    no shuffle beyond the final combine."""
    docs = _t(spark, sf_dir, "documents")
    flags = text.gopher_quality_flags(docs).select(
        "doc_id", F.col("gopher_keep").cast("int").alias("la")
    )
    lab = flags.join(
        docs.select("doc_id", (F.col("n_chars") >= 300).cast("int").alias("lb")),
        "doc_id",
    )
    cm = lab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(((F.col("la") == 1) & (F.col("lb") == 1)).cast("int"))
        .cast("bigint").alias("a"),
        F.sum(((F.col("la") == 1) & (F.col("lb") == 0)).cast("int"))
        .cast("bigint").alias("b"),
        F.sum(((F.col("la") == 0) & (F.col("lb") == 1)).cast("int"))
        .cast("bigint").alias("c"),
        F.sum(((F.col("la") == 0) & (F.col("lb") == 0)).cast("int"))
        .cast("bigint").alias("d"),
    )
    e = "((a+b)*(a+c) + (c+d)*(b+d))"
    return cm.select(
        "n",
        F.col("a").alias("both_keep"),
        F.col("b").alias("only_gopher"),
        F.col("c").alias("only_length"),
        F.col("d").alias("both_drop"),
        F.expr("CAST((1000000 * (a + d)) div n AS BIGINT)").alias("agree_e6"),
        F.expr(
            f"CAST((1000000 * (n * (a + d) - {e}))"
            f" div (CASE WHEN n*n = {e} THEN CAST(1 AS BIGINT)"
            f"      ELSE n*n - {e} END) AS BIGINT)"
        ).alias("kappa_e6"),
    )


@_q(
    "q265_weighted_systematic_sample",
    """
    WITH d AS (
      SELECT doc_id, n_chars AS w,
             CAST(('0x' || substr(md5('wss:' || CAST(doc_id AS VARCHAR)),
                                  18, 15)) AS BIGINT) AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, w,
             CAST(SUM(w) OVER (ORDER BY h, doc_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM d
    ),
    g AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM d)
    SELECT doc_id, w AS weight, mult FROM (
      SELECT doc_id, w,
             CAST((200 * cum + tw - 1) // (2 * tw)
                  - (200 * (cum - w) + tw - 1) // (2 * tw) AS BIGINT)
               AS mult
      FROM c CROSS JOIN g
    ) WHERE mult >= 1
    """,
)
def q265_weighted_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling via SYSTEMATIC (midpoint) selection — the
    exact-integer counterpart of A-ES/A-Res weighted reservoirs (the
    exp-jitter priority is replaced by a rank-of-hash order, the
    curation-mixture sampler's distributed form; q195 covers the
    uniform A-Res case, q208 the stratum-quota case): documents are
    laid on a weight line in portable-hash order (md5-60bit, the q239
    idiom — a deterministic shuffle both engines replay), k=100
    midpoint selection points p_j = (2j+1)*W/(2k) pick the item whose
    exact prefix-weight interval [cum-w, cum) contains p_j, giving
    inclusion probability proportional to weight (n_chars), zero
    variance in the total (sum(mult) == k ALWAYS — the systematic
    guarantee, pinned in pytest), and multiplicity >1 only for items
    heavier than the W/k stride. The per-item point count is CLOSED
    FORM (two ceil-divisions on int64 cross-products — no join against
    a points table, no per-row loop), the prefix weights ride ONE
    distributed_rank cumsum pass (two balanced exchanges, no
    single-partition window), and everything is integer (envelope:
    2k*W must fit int64, so W <= 4.6e16 at k=100 — ~46 petabytes of
    weight at 1 char = 1 unit). The oracle replays the hash order and
    the same divisions verbatim."""
    k = 100
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("w"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("wss:"), F.col("doc_id").cast("string"))),
                18,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    c = distributed_rank(
        d,
        [F.col("h").asc(), F.col("doc_id").asc()],
        rank_col="_r",
        cumsum_cols={"w": "cum"},
    )
    g = d.agg(F.sum("w").cast("bigint").alias("tw"))
    return (
        c.crossJoin(F.broadcast(g))
        .select(
            "doc_id",
            F.col("w").alias("weight"),
            F.expr(
                f"CAST(({2 * k} * cum + tw - 1) div (2 * tw)"
                f" - ({2 * k} * (cum - w) + tw - 1) div (2 * tw) AS BIGINT)"
            ).alias("mult"),
        )
        .filter(F.col("mult") >= 1)
    )
