"""Text analysis: token statistics, language ID, TF-IDF, n-grams, PII
redaction, BPE tokenization, language-model scoring and retrieval scoring."""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators import text
from spark_lakehouse_medallion_pipeline_spark.operators.relational import (
    distributed_rank,
    top_k_ranked,
)
from spark_lakehouse_medallion_pipeline_spark.operators.text import strip_html
from spark_lakehouse_medallion_pipeline_spark.queries._common import (
    QUERIES,
    S_FLOOR,
    _q,
    _t,
    floor_round,
)
from spark_lakehouse_medallion_pipeline_spark.queries.dedup import _NORM_SQL


@_q(
    "q29_text_stats",
    r"""
    WITH t AS (
      SELECT doc_id, text,
             string_split_regex(trim(text), '\s+') AS toks,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      FROM documents
    ), m AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(toks) AS n_tokens,
             len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_subword_tokens,
             CAST(list_sum(list_transform(toks, t2 -> length(t2))) AS DOUBLE) / len(toks) AS atl,
             CAST(len(list_filter(list_transform(toks, t2 -> lower(t2)),
                 t2 -> list_contains(['the','a','of','and','to','in','is','it','for','on'], t2))) AS DOUBLE)
               / len(toks) AS swr,
             CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE)
               / length(text) AS pr,
             md5(norm) AS fingerprint
      FROM t
    )
    SELECT doc_id, n_chars, n_tokens, n_subword_tokens,
           atl AS avg_token_len,
           swr AS stopword_ratio,
           ((CASE WHEN atl >= 3 AND atl <= 12 THEN 1.0 ELSE 0.5 END)
            + (CASE WHEN swr > 0.05 THEN 1.0 ELSE 0.6 END)
            + (CASE WHEN pr < 0.1 THEN 1.0 ELSE 0.7 END)) / 3.0 AS quality_score,
           fingerprint
    FROM m
    """,
)
def q29_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text-analysis block (X20): token counts (whitespace +
    BPE-ish regex), quality scoring, md5 fingerprint. All JVM expressions;
    every ratio is a single int/int division (bit-stable)."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        text.token_count(t).alias("n_tokens"),
        text.bpe_ish_token_count(t).alias("n_subword_tokens"),
        text.avg_token_length(t).alias("avg_token_len"),
        text.stopword_ratio(t).alias("stopword_ratio"),
        text.quality_score_raw(t).alias("quality_score"),
        text.fingerprint_md5(t).alias("fingerprint"),
    )


@_q(
    "q31_lang_id",
    """
    SELECT doc_id, lang,
           CASE WHEN t LIKE '% the %' OR t LIKE '% and %' OR t LIKE '% is %' THEN 'en'
                WHEN t LIKE '% le %' OR t LIKE '% et %' OR t LIKE '% est %' THEN 'fr'
                WHEN t LIKE '% el %' OR t LIKE '% y %' OR t LIKE '% es %' THEN 'es'
                WHEN t LIKE '% der %' OR t LIKE '% und %' OR t LIKE '% ist %' THEN 'de'
                ELSE 'unknown' END AS predicted_lang
    FROM (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS t FROM documents)
    """,
)
def q31_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (X20) — marker-token n-gram heuristic."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", text.lang_id(F.col("text")).alias("predicted_lang"))


@_q(
    "q32_lang_distribution",
    """
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang, source
    """,
)
def q32_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup; BIGINT cast — DuckDB SUM(int) is HUGEINT."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@_q(
    "q59_word_frequency",
    r"""
    SELECT word, COUNT(*) AS n FROM (
      SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS word
      FROM documents
    ) WHERE word <> '' GROUP BY word
    ORDER BY n DESC, word LIMIT 20
    """,
)
def q59_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode(split()) word frequency over documents (X20): the classic
    map-side-combine aggregate; top-20 with a total order tie-break."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.col("word"))
        .limit(20)
    )


_TOK_SQL = "string_split_regex(lower(text), '[^a-z0-9]+')"


@_q(
    "q75_tfidf_top_terms",
    f"""
    WITH tok AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id, unnest({_TOK_SQL}) AS tok FROM documents)
      WHERE len(tok) >= 3
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, df.df,
             CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS lin_rank
      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    )
    SELECT doc_id, tok, tf, df,
           FLOOR(lin_rank * 10000.0 + 0.5) / 10000.0 AS tfidf_lin
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY lin_rank DESC, tok) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def q75_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document. idf here is the LINEAR variant
    (N/df): tf*N/df is a single double division of exact integers, so the
    ranking comparator is bit-identical across engines (a log-idf ranking
    would hinge on libm ulp differences). Scale plan: tokenize via
    explode (no Python), tf and df are partial-aggregable groupBys; the
    tf⋈df join keys on token (df side is |vocab|, re-usable broadcast at
    moderate vocab); top-3 is a bounded per-doc window."""
    docs = _t(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("tok"),
        )
        .filter(F.length("tok") >= 3)
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # df falls out of tf for free: tf already holds one row per distinct
    # (doc, token), so df = COUNT(*) per token over tf — this avoids a
    # second tokenize pass + expensive countDistinct over raw tokens.
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "tok")
        .join(F.broadcast(n_docs))
        .withColumn("lin_rank", (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("lin_rank"), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", "tf", "df", floor_round(F.col("lin_rank"), 4).alias("tfidf_lin"))
    )


@_q(
    "q79_bigram_counts",
    """
    SELECT bigram, COUNT(*) AS n
    FROM (
      SELECT unnest(list_transform(range(1, len(l)),
                    i -> array_to_string(l[i:i+1], ' '))) AS bigram
      FROM (SELECT string_split_regex(lower(text), '\\s+') AS l FROM documents)
    )
    GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
    """,
)
def q79_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency (n-gram LM statistics): tokens -> adjacent
    pairs via a JVM array lambda over an index sequence (no posexplode
    self-join, no Python), explode, count, bounded top-20. The count is
    partial-aggregable; top-20 is a TakeOrdered heap, not a full sort."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    # Guarded: a 1-token doc would make sequence(1, 0) DESCENDING [1, 0]
    # and element_at(l, 0) is an unconditional error — when() yields NULL
    # for such docs and explode() drops the row (matches the oracle's
    # range(1, len), which is empty at len=1).
    bigrams = F.when(
        F.size(F.col("l")) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("l")) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("l"), i), F.element_at(F.col("l"), i + 1)
            ),
        ),
    )
    return (
        docs.select(toks.alias("l"))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


@_q(
    "q89_repetition_signals",
    f"""
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY doc_id, tok),
    ts AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             COUNT(*) AS n_distinct_tokens, CAST(MAX(c) AS BIGINT) AS top_token_n
      FROM tc GROUP BY doc_id
    ),
    b AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(string_split(text, ' '))),
                    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
               AS bg
      FROM documents WHERE len(string_split(text, ' ')) >= 2
    ),
    bs AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
             COUNT(DISTINCT bg) AS n_distinct_bigrams
      FROM b GROUP BY doc_id
    )
    SELECT ts.doc_id, n_tokens, n_distinct_tokens, top_token_n,
           {S_FLOOR('CAST(n_distinct_tokens AS DOUBLE) / n_tokens', 6)} AS ttr,
           {S_FLOOR('CAST(top_token_n AS DOUBLE) / n_tokens', 6)} AS top_token_frac,
           {S_FLOOR('CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / n_bigrams', 6)}
             AS dup_bigram_frac
    FROM ts JOIN bs ON ts.doc_id = bs.doc_id
    """,
)
def q89_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: type-token
    ratio, top-token mass, duplicate-bigram fraction — the filters that
    kill boilerplate/low-entropy docs in a pretraining corpus. Tokens
    and bigrams each take one explode -> hash-aggregate pass keyed on
    (doc_id, gram): map-side partial counts absorb the duplication, the
    doc_id re-aggregate is tiny, and the two stat tables join on doc_id.
    All ratios are exact-integer divisions floor-rounded at 6dp, so the
    DuckDB oracle is bit-identical. At 100 TB this is the same plan with
    well-spread shuffle keys (doc_id, token) — no driver involvement."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    tok = docs.select("doc_id", F.explode("toks").alias("tok"))
    tstats = (
        tok.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.max("c").alias("top_token_n"),
        )
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
        ),
    )
    bstats = (
        docs.filter(F.size("toks") >= 2)
        .select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.countDistinct("bg").alias("n_distinct_bigrams"),
        )
    )
    return tstats.join(bstats, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        "top_token_n",
        floor_round(
            F.col("n_distinct_tokens").cast("double") / F.col("n_tokens"), 6
        ).alias("ttr"),
        floor_round(F.col("top_token_n").cast("double") / F.col("n_tokens"), 6).alias(
            "top_token_frac"
        ),
        floor_round(
            (F.col("n_bigrams") - F.col("n_distinct_bigrams")).cast("double")
            / F.col("n_bigrams"),
            6,
        ).alias("dup_bigram_frac"),
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"555-[0-9]{4}"


@_q(
    "q90_pii_redaction",
    f"""
    WITH planted AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@corp.io' ELSE '' END
               AS body
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(body, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(body, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(body, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                              '{_PHONE_RE}', '[PHONE]', 'g')) AS redacted_fp
    FROM planted
    """,
)
def q90_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub battery: detect and redact email/phone patterns, emit
    per-doc match counts plus an md5 fingerprint of the redacted text
    (the corpus rows ship PII-free downstream; the fingerprint lets the
    oracle verify the rewrite byte-for-byte). PII is planted
    deterministically from doc_id so the detector provably fires on
    every row. Pure per-row map — no shuffle at any scale; the regexes
    are RE2-safe (no backtracking blowup on adversarial documents)."""
    docs = _t(spark, sf_dir, "documents")
    body = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" cc admin@corp.io")).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("body"), F.lit(_EMAIL_RE), F.lit("[EMAIL]")),
        F.lit(_PHONE_RE),
        F.lit("[PHONE]"),
    )
    return docs.select("doc_id", body.alias("body")).select(
        "doc_id",
        F.size(F.regexp_extract_all("body", F.lit(_EMAIL_RE), F.lit(0))).cast("long").alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("body", F.lit(_PHONE_RE), F.lit(0))).cast("long").alias(
            "n_phones"
        ),
        F.md5(redacted).alias("redacted_fp"),
    )


@_q(
    "q101_html_clean",
    r"""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace('<p class="x">' || text || '</p> &amp; <br/>',
                                    '<[^>]*>', ' ', 'g'),
                     '&amp;', '&', 'g'),
                   '&lt;', '<', 'g'),
                 '&gt;', '>', 'g'),
               '&quot;', '"', 'g'),
             '\s+', ' ', 'g')) AS text
    FROM documents
    """,
)
def q101_html_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-cleaning kernel (X20): wrap each document in deterministic
    HTML markup, then strip tags + decode core entities — verifying the
    kernel end-to-end on real corpus text (the corpus itself is
    tag-free). Pure regexp chain, scan-speed."""
    docs = _t(spark, sf_dir, "documents")
    wrapped = F.concat(
        F.lit('<p class="x">'), F.col("text"), F.lit("</p> &amp; <br/>")
    )
    return docs.select("doc_id", strip_html(wrapped).alias("text"))


@_q(
    "q107_doc_chunks",
    """
    SELECT doc_id,
           CAST(t.start AS BIGINT) AS chunk_start,
           substring(text, CAST(t.start AS INT), 200) AS chunk,
           length(substring(text, CAST(t.start AS INT), 200)) AS chunk_len
    FROM documents, UNNEST(range(1, greatest(n_chars, 1) + 1, 150)) AS t(start)
    """,
)
def q107_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (X20): 200-char chunks, 50-char overlap,
    1-based offsets preserved. Scan-local explode — at 100 TB this runs
    at read speed and the row-count multiplier is bounded by
    len/(chunk-overlap)."""
    docs = _t(spark, sf_dir, "documents")
    return text.chunk_documents(
        docs, chunk_chars=200, overlap=50, len_col="n_chars"
    ).withColumn("chunk_start", F.col("chunk_start").cast("long"))


@_q(
    "q120_vocab_encode",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ), tok AS (
      SELECT doc_id, CAST(g AS BIGINT) AS pos, t[g+1] AS w
      FROM toks, LATERAL UNNEST(range(len(t))) AS u(g)
    ), wc AS (
      SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w
    ), vocab AS (
      SELECT w, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS BIGINT) AS tid
      FROM wc QUALIFY tid <= 25
    ), enc AS (
      SELECT tok.doc_id, tok.pos, COALESCE(vocab.tid, 0) AS tid
      FROM tok LEFT JOIN vocab USING (w)
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS ids
    FROM enc GROUP BY doc_id
    """,
)
def q120_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer encode (X20 extension): build a frequency-ranked
    vocabulary from the corpus itself (id 1 = most frequent word, ties
    word-ascending, top 25 kept), then encode every document as its
    ordered token-id sequence with 0 = UNK — the id-ization step between
    text curation and training-shard writes. Scale shape: wordcount is
    one map-combined shuffle; the rank window runs over the VOCAB (fixed
    small K, the one acceptable single-partition window); the encode
    join broadcasts the vocab; reassembly is one per-doc aggregate. In
    production the vocab is a fixed artifact — the encode+reassemble
    stages are unchanged."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(text.whitespace_tokens(F.col("text"))).alias("pos", "w"),
    )
    wc = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = (
        wc.withColumn(
            "tid",
            F.row_number().over(Window.orderBy(F.desc("cnt"), "w")).cast("long"),
        )
        .filter(F.col("tid") <= 25)
        .select("w", "tid")
    )
    enc = tok.join(F.broadcast(vocab), "w", "left").select(
        "doc_id", "pos", F.coalesce(F.col("tid"), F.lit(0)).alias("tid")
    )
    ordered = F.array_sort(F.collect_list(F.struct("pos", "tid")))
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.array_join(
            F.transform(ordered, lambda s: s["tid"].cast("string")), ","
        ).alias("ids"),
    )


@_q(
    "q136_bigram_lm_score",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS l FROM documents
    ),
    grams AS (
      SELECT doc_id, l[i] AS w1, array_to_string(l[i:i+1], ' ') AS bigram
      FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM toks)
    ),
    c2 AS (SELECT bigram, COUNT(*) AS n2 FROM grams GROUP BY bigram),
    c1 AS (SELECT word, COUNT(*) AS n1 FROM (
             SELECT unnest(l) AS word FROM toks) GROUP BY word),
    v AS (SELECT COUNT(DISTINCT word) AS vsize FROM (
             SELECT unnest(l) AS word FROM toks)),
    scored AS (
      SELECT g.doc_id,
             (c2.n2 * CAST(1000000000 AS BIGINT)) // (c1.n1 + v.vsize)
               AS prob_e9
      FROM grams g
      JOIN c2 ON c2.bigram = g.bigram
      JOIN c1 ON c1.word = g.w1
      CROSS JOIN v
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(prob_e9) AS BIGINT) AS sum_prob_e9,
           CAST(SUM(prob_e9) AS DOUBLE) / COUNT(*) / 1000000000.0
             AS avg_prob
    FROM scored GROUP BY doc_id
    ORDER BY avg_prob DESC, doc_id LIMIT 20
    """,
)
def q136_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring of every document against a model
    trained on the same corpus — the CCNet/Gopher perplexity-filter
    shape (keep docs the LM finds most in-distribution). Probability of
    each bigram is add-V smoothed n2/(n1+V); the per-bigram value is
    held as the INTEGER floor((n2*1e9)/(n1+V)) so per-doc sums are
    engine-exact (a float ln() would differ in the last ulp between JVM
    and libm and break the value hash — documented trade: arithmetic
    rather than geometric mean of probabilities, same ranking intent).

    Plan shape: one tokenize pass feeds bigram counts, unigram counts,
    and V; doc-bigrams join the two count tables on well-spread token
    keys (map-side-combined aggregates, AQE broadcasts the tail), and V
    rides a broadcast 1-row cross join. No Python, no collect."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("l"))
    # Guarded like q79: a 1-token doc would make sequence(1, 0) the
    # DESCENDING [1, 0] and element_at(l, 0) errors — when() yields NULL,
    # explode drops the doc, matching the oracle's empty range(1, 1).
    grams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(F.col("l")) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(F.col("l")) - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("l"), i).alias("w1"),
                        F.concat_ws(
                            " ",
                            F.element_at(F.col("l"), i),
                            F.element_at(F.col("l"), i + 1),
                        ).alias("bigram"),
                    ),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.bigram")
    words = toks.select(F.explode("l").alias("word"))
    c2 = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("n2"))
    c1 = words.groupBy("word").agg(F.count(F.lit(1)).alias("n1"))
    v = words.agg(F.countDistinct("word").alias("vsize"))
    scored = (
        grams.join(c2, "bigram")
        .join(c1, grams["w1"] == c1["word"])
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.expr("(n2 * CAST(1000000000 AS BIGINT)) div (n1 + vsize)").alias(
                "prob_e9"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("prob_e9").alias("sum_prob_e9"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_prob_e9",
            (
                F.col("sum_prob_e9").cast("double")
                / F.col("n_bigrams")
                / F.lit(1000000000.0)
            ).alias("avg_prob"),
        )
        .orderBy(F.desc("avg_prob"), "doc_id")
        .limit(20)
    )


@_q(
    "q163_pmi_collocations",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS l FROM documents
    ),
    grams AS (
      SELECT l[i] AS w1, l[i+1] AS w2,
             array_to_string(l[i:i+1], ' ') AS bigram
      FROM (SELECT l, unnest(range(1, len(l))) AS i FROM toks)
    ),
    c2 AS (SELECT w1, w2, bigram, COUNT(*) AS n_ab FROM grams
           GROUP BY w1, w2, bigram),
    c1 AS (SELECT word, COUNT(*) AS n FROM (
             SELECT unnest(l) AS word FROM toks) GROUP BY word),
    tot AS (SELECT (SELECT COUNT(*) FROM grams) AS n_bg,
                   (SELECT SUM(n) FROM c1) AS n_w),
    scored AS (
      SELECT c2.bigram, c2.n_ab, a.n AS n_a, b.n AS n_b,
             CAST(
               ((c2.n_ab * CAST(1000000000 AS BIGINT)) // tot.n_bg)
                 * CAST(1000000000 AS BIGINT)
               // greatest(
                    (((a.n * CAST(1000000000 AS BIGINT)) // CAST(tot.n_w AS BIGINT))
                     * ((b.n * CAST(1000000000 AS BIGINT)) // CAST(tot.n_w AS BIGINT)))
                    // 1000,
                    1)
               AS BIGINT) AS pmi_ratio_e3
      FROM c2 JOIN c1 a ON a.word = c2.w1
              JOIN c1 b ON b.word = c2.w2
      CROSS JOIN tot
      WHERE c2.n_ab >= 5
    )
    SELECT bigram, n_ab, n_a, n_b, pmi_ratio_e3
    FROM scored ORDER BY pmi_ratio_e3 DESC, bigram LIMIT 50
    """,
)
def q163_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 bigrams by pointwise mutual information
    with min-support 5 — the classic phrase-detection pass a corpus
    pipeline runs before tokenizer training (word2vec's phrase step).

    PMI's log is monotone, so ranking uses the raw probability ratio
    p(ab)/(p(a)p(b)) held as INTEGERS: each probability is e9-scaled by
    integer division, the ratio is one further exact division, and
    Spark `div` == DuckDB `//` truncation makes it engine-exact.
    greatest(..., 1) guards the divisor for vanishingly rare unigram
    pairs. Overflow envelope: after the first division every factor is
    a bounded e9 probability (products <= 1e18), but the count*1e9
    numerators bound the single-term frequency at ~9.2e9 occurrences —
    petabyte-class text; beyond that, drop the probability scale to e6
    (trading three digits of rank resolution) before re-running.

    Plan shape: one tokenize pass feeds bigram counts, unigram counts,
    and the two corpus totals (broadcast 1-row cross join); the scored
    join keys are well-spread token strings; TakeOrderedAndProject for
    the top-50."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("l"))
    grams = toks.select(
        F.explode(
            F.when(
                F.size("l") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("l") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("l"), i).alias("w1"),
                        F.element_at(F.col("l"), i + 1).alias("w2"),
                        F.concat_ws(
                            " ",
                            F.element_at(F.col("l"), i),
                            F.element_at(F.col("l"), i + 1),
                        ).alias("bigram"),
                    ),
                ),
            )
        ).alias("g")
    ).select("g.w1", "g.w2", "g.bigram")
    c2 = grams.groupBy("w1", "w2", "bigram").agg(F.count(F.lit(1)).alias("n_ab"))
    c1 = toks.select(F.explode("l").alias("word")).groupBy("word").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = grams.agg(F.count(F.lit(1)).alias("n_bg")).crossJoin(
        c1.agg(F.sum("n").alias("n_w"))
    )
    a = c1.select(F.col("word").alias("w1"), F.col("n").alias("n_a"))
    b = c1.select(F.col("word").alias("w2"), F.col("n").alias("n_b"))
    scored = (
        c2.filter(F.col("n_ab") >= 5)
        .join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "bigram",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(
                "CAST(((n_ab * CAST(1000000000 AS BIGINT)) div n_bg)"
                " * CAST(1000000000 AS BIGINT)"
                " div greatest((((n_a * CAST(1000000000 AS BIGINT)) div CAST(n_w AS BIGINT))"
                " * ((n_b * CAST(1000000000 AS BIGINT)) div CAST(n_w AS BIGINT)))"
                " div 1000, 1) AS BIGINT)"
            ).alias("pmi_ratio_e3"),
        )
    )
    return scored.orderBy(F.desc("pmi_ratio_e3"), "bigram").limit(50)


@_q(
    "q180_bpe_pair_stats",
    r"""
    WITH words AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT UNNEST(string_split_regex(trim(text), '\s+')) AS w
            FROM documents) t
      WHERE len(w) >= 1
      GROUP BY w
    ), s0 AS (
      SELECT word, freq, CAST(i AS BIGINT) AS pos,
             substr(word, CAST(i AS INT), 1) AS sym
      FROM words, LATERAL UNNEST(range(1, len(word)+1)) AS u(i)
    ), p AS (
      SELECT freq, sym,
             lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
      FROM s0
    )
    SELECT sym AS left_sym, nxt AS right_sym,
           CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM p WHERE nxt IS NOT NULL
    GROUP BY sym, nxt
    ORDER BY pair_count DESC, left_sym, right_sym
    LIMIT 20
    """,
)
def q180_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training statistics: top-20 adjacent-character pair
    frequencies over the corpus WORD-FREQUENCY dict — the argmax
    statistic of a byte-pair-encoding tokenizer's first merge step
    (Sennrich 2016). The word-dict collapse is the scale move: a 100 TB
    corpus reduces to its vocabulary before any per-character work
    happens (operators.text.bpe_pair_counts)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        text.bpe_pair_counts(docs)
        .orderBy(F.desc("pair_count"), F.asc("left_sym"), F.asc("right_sym"))
        .limit(20)
    )


# Shared two-merge BPE pipeline CTEs (words -> s0 chars -> merge 1 -> s1
# -> merge 2 -> s2 symbols), used by q181 (segmentations) and q184
# (corpus-wide encode): each merge stage recomputes the argmax pair as a
# scalar subquery and replays the greedy run-parity merge.
_BPE2_CTES = r"""
    WITH words AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT UNNEST(string_split_regex(trim(text), '\s+')) AS w
            FROM documents) t
      WHERE len(w) >= 1
      GROUP BY w
    ), s0 AS (
      SELECT word, freq, CAST(i AS BIGINT) AS pos,
             substr(word, CAST(i AS INT), 1) AS sym
      FROM words, LATERAL UNNEST(range(1, len(word)+1)) AS u(i)
    ), p1 AS (
      SELECT word, freq, pos, sym,
             lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
      FROM s0
    ), m1 AS (
      SELECT sym AS x, nxt AS y
      FROM p1 WHERE nxt IS NOT NULL
      GROUP BY sym, nxt
      ORDER BY CAST(SUM(freq) AS BIGINT) DESC, x, y LIMIT 1
    ), r1 AS (
      SELECT word, pos,
             pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS run
      FROM p1 WHERE sym = (SELECT x FROM m1) AND nxt = (SELECT y FROM m1)
    ), k1 AS (
      SELECT word, pos FROM (
        SELECT word, pos,
               row_number() OVER (PARTITION BY word, run ORDER BY pos) AS r
        FROM r1) z
      WHERE r % 2 = 1
    ), s1 AS (
      SELECT p1.word, p1.freq,
             CAST(row_number() OVER (PARTITION BY p1.word ORDER BY p1.pos)
                  AS BIGINT) AS pos,
             CASE WHEN ks.pos IS NOT NULL THEN p1.sym || p1.nxt
                  ELSE p1.sym END AS sym
      FROM p1
      LEFT JOIN k1 ks ON ks.word = p1.word AND ks.pos = p1.pos
      LEFT JOIN k1 kc ON kc.word = p1.word AND kc.pos = p1.pos - 1
      WHERE kc.pos IS NULL
    ), p2 AS (
      SELECT word, freq, pos, sym,
             lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
      FROM s1
    ), m2 AS (
      SELECT sym AS x, nxt AS y
      FROM p2 WHERE nxt IS NOT NULL
      GROUP BY sym, nxt
      ORDER BY CAST(SUM(freq) AS BIGINT) DESC, x, y LIMIT 1
    ), r2 AS (
      SELECT word, pos,
             pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS run
      FROM p2 WHERE sym = (SELECT x FROM m2) AND nxt = (SELECT y FROM m2)
    ), k2 AS (
      SELECT word, pos FROM (
        SELECT word, pos,
               row_number() OVER (PARTITION BY word, run ORDER BY pos) AS r
        FROM r2) z
      WHERE r % 2 = 1
    ), s2 AS (
      SELECT p2.word, p2.freq,
             CAST(row_number() OVER (PARTITION BY p2.word ORDER BY p2.pos)
                  AS BIGINT) AS pos,
             CASE WHEN ks.pos IS NOT NULL THEN p2.sym || p2.nxt
                  ELSE p2.sym END AS sym
      FROM p2
      LEFT JOIN k2 ks ON ks.word = p2.word AND ks.pos = p2.pos
      LEFT JOIN k2 kc ON kc.word = p2.word AND kc.pos = p2.pos - 1
      WHERE kc.pos IS NULL
    )
"""


@_q(
    "q181_bpe_train_2merges",
    _BPE2_CTES
    + """
    SELECT word, freq, string_agg(sym, ' ' ORDER BY pos) AS segmentation
    FROM s2 GROUP BY word, freq
    """,
)
def q181_bpe_train_2merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, first TWO merges, over the corpus
    word-frequency dict — every word type's segmentation after applying
    both learned merges greedily left-to-right (Sennrich 2016; the
    tokenizer-training stage of an LLM data pipeline). The oracle
    unrolls both iterations as CTE stages, recomputing each argmax as a
    scalar subquery and replaying the identical run-parity greedy-merge
    formula (only left==right merges can overlap; the run-grouped
    odd-rank filter resolves them exactly like the engine —
    operators.text.bpe_train, pytest-pinned on a hand-computed
    overlap/tie-break corpus)."""
    docs = _t(spark, sf_dir, "documents")
    _merges, segmented = text.bpe_train(docs, n_merges=2)
    return segmented


@_q(
    "q182_dup_ngram_fraction",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ), ng AS (
      SELECT doc_id, array_to_string(t[g+1 : g+8], ' ') AS ngram
      FROM toks, LATERAL UNNEST(range(len(t) - 7)) AS u(g)
      WHERE len(t) >= 8
    ), hot AS (
      SELECT ngram FROM ng GROUP BY ngram HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT ng.doc_id, COUNT(*) AS n_ngrams,
           CAST(SUM(CASE WHEN h.ngram IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup,
           CAST(SUM(CASE WHEN h.ngram IS NOT NULL THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS dup_pct_e4
    FROM ng LEFT JOIN hot h ON h.ngram = ng.ngram
    GROUP BY ng.doc_id
    """,
)
def q182_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-8-gram fraction — the corpus-level
    memorization-risk signal of "Deduplicating Training Data" (Lee
    2022): the share of a doc's sliding 8-grams that also occur in at
    least one OTHER document. Distinct from q114 (which removes
    boilerplate) and q80 (contamination vs a fixed benchmark set):
    this SCORES every doc against the whole corpus so curation can
    threshold. Single-scan plan: ONE explode, then three narrow
    post-aggregate exchanges — (ngram, doc_id) aggregate, ngram-keyed
    window for the cross-doc count, doc_id-keyed final aggregate. The
    n-gram stream is scanned once and no string join-back exists (the
    naive hot-set formulation scans the 100 TB explode twice and
    shuffles full n-gram strings a second time for the join).
    Tradeoff: aggregating on (ngram, doc_id) FIRST keeps map-side
    combine on hot n-grams (the skew killer at corpus scale) at the
    cost of a third exchange; a repartition("ngram")-first plan would
    merge the first two exchanges but ship every raw n-gram occurrence
    of a hot n-gram to one partition uncombined. The fraction is
    integer-exact (e4 fixed point). Docs under 8 tokens have no
    8-grams and are excluded (documented contract, mirrored by the
    oracle's range)."""
    docs = _t(spark, sf_dir, "documents")
    t = F.split(F.trim(F.col("text")), r"\s+")
    ng = docs.filter(F.size(t) >= 8).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(t) - 8),
                lambda g: F.array_join(F.slice(t, g + 1, 8), " "),
            )
        ).alias("ngram"),
    )
    per_doc = ng.groupBy("ngram", "doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    flagged = per_doc.withColumn(
        "nd", F.count(F.lit(1)).over(Window.partitionBy("ngram"))
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_ngrams"),
            F.sum(F.when(F.col("nd") >= 2, F.col("cnt")).otherwise(0)).alias(
                "n_dup"
            ),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_dup",
            F.expr("CAST(n_dup * 10000 div n_ngrams AS BIGINT)").alias(
                "dup_pct_e4"
            ),
        )
    )


@_q(
    "q184_bpe_encode_tokens",
    _BPE2_CTES
    + r"""
    , nsub AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sub FROM s2 GROUP BY word
    ), dw AS (
      SELECT doc_id, UNNEST(string_split_regex(trim(text), '\s+')) AS word
      FROM documents
    )
    SELECT doc_id, COUNT(*) AS n_words,
           CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens
    FROM dw JOIN nsub USING (word)
    GROUP BY doc_id
    """,
)
def q184_bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide BPE ENCODE with the merges q181 just learned — the
    apply side of tokenizer training: per-document token counts under
    the 2-merge vocabulary (the budget input to sequence packing /
    per-source token accounting, q95/q116). The doc-side work is one
    word explode + a BROADCAST join against the vocabulary-sized
    segmentation table — the 100 TB-corpus shape: training collapses
    to the word dict, encoding re-expands by lookup, never by
    re-running the merge logic per token."""
    docs = _t(spark, sf_dir, "documents")
    _merges, segmented = text.bpe_train(docs, n_merges=2)
    seg_counts = segmented.select(
        "word", F.size(F.split("segmentation", " ")).alias("n_sub")
    )
    doc_words = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
    )
    return (
        doc_words.join(F.broadcast(seg_counts), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_bpe_tokens"),
        )
    )


@_q(
    "q186_tokenizer_fertility",
    _BPE2_CTES
    + r"""
    , nsub AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sub FROM s2 GROUP BY word
    ), dw AS (
      SELECT doc_id, source, n_chars,
             UNNEST(string_split_regex(trim(text), '\s+')) AS word
      FROM documents
    ), per_doc AS (
      SELECT doc_id, source, n_chars,
             CAST(SUM(n_sub) AS BIGINT) AS n_bpe
      FROM dw JOIN nsub USING (word)
      GROUP BY doc_id, source, n_chars
    )
    SELECT source,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(n_chars) * 1000 // SUM(n_bpe) AS BIGINT)
             AS fertility_chars_per_token_e3
    FROM per_doc GROUP BY source
    """,
)
def q186_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by source — characters per BPE token under
    the q181-learned merges, the standard metric for how well a
    tokenizer compresses each domain/language (low fertility = domain
    poorly served; drives vocab-size and mixture decisions). e3 fixed
    point with a single floor division so both engines truncate
    identically; reuses the q184 encode path then one source-keyed
    aggregate."""
    docs = _t(spark, sf_dir, "documents")
    _merges, segmented = text.bpe_train(docs, n_merges=2)
    seg_counts = segmented.select(
        "word", F.size(F.split("segmentation", " ")).alias("n_sub")
    )
    per_doc = (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
        )
        .join(F.broadcast(seg_counts), "word")
        .groupBy("doc_id", "source", "n_chars")
        .agg(F.sum("n_sub").alias("n_bpe"))
    )
    return per_doc.groupBy("source").agg(
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_bpe").alias("total_bpe_tokens"),
        F.expr(
            "CAST(SUM(n_chars) * 1000 div SUM(n_bpe) AS BIGINT)"
        ).alias("fertility_chars_per_token_e3"),
    )


def _bm25_contrib_sql(r: int) -> str:
    """One term's BM25 contribution (k1=1.2, b=0.75), parenthesized
    exactly like the engine's Column chain: e9-quantized idf * ((tf *
    (k1+1)) / (tf + k1*(1 - b + b*dl*N/SUMDL)))."""
    return (
        f"(FLOOR(LN(((nn.n - t3.df{r}) + 0.5) / (t3.df{r} + 0.5) + 1.0) * 1000000000.0"
        f" + 0.5) / 1000000000.0)"
        f" * ((CAST(tf{r} AS DOUBLE) * 2.2)"
        f" / (CAST(tf{r} AS DOUBLE)"
        f" + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) * nn.n / nn.sumdl))))"
    )


_BM25_SQL = (
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
      FROM documents
    ),
    st AS (SELECT t, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS df
           FROM tok GROUP BY t),
    top3 AS (
      SELECT t, df, r FROM (
        SELECT t, df, row_number() OVER (ORDER BY cnt DESC, t ASC) AS r
        FROM st
      ) WHERE r <= 3
    ),
    t3 AS (
      SELECT MAX(CASE WHEN r = 1 THEN t END) AS t1,
             CAST(MAX(CASE WHEN r = 1 THEN df END) AS DOUBLE) AS df1,
             MAX(CASE WHEN r = 2 THEN t END) AS t2,
             CAST(MAX(CASE WHEN r = 2 THEN df END) AS DOUBLE) AS df2,
             MAX(CASE WHEN r = 3 THEN t END) AS t3,
             CAST(MAX(CASE WHEN r = 3 THEN df END) AS DOUBLE) AS df3
      FROM top3
    ),
    dld AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS l,
             len(string_split_regex(lower(text), '\s+')) AS dl
      FROM documents
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                  CAST(SUM(dl) AS DOUBLE) AS sumdl FROM dld),
    tf AS (
      SELECT doc_id, dl,
             len(list_filter(l, x -> x = t3.t1)) AS tf1,
             len(list_filter(l, x -> x = t3.t2)) AS tf2,
             len(list_filter(l, x -> x = t3.t3)) AS tf3
      FROM dld CROSS JOIN t3
    )
    SELECT doc_id,
           CAST(tf1 AS BIGINT) AS tf1, CAST(tf2 AS BIGINT) AS tf2,
           CAST(tf3 AS BIGINT) AS tf3,
           CAST(FLOOR(("""
    + " + ".join(_bm25_contrib_sql(r) for r in (1, 2, 3))
    + """
           ) * 1000000.0 + 0.5) AS BIGINT) AS score_e6
    FROM tf CROSS JOIN t3 CROSS JOIN nn
    """
)


@_q("q202_bm25_ranking", _BM25_SQL)
def q202_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring (Robertson/Sparck Jones; the Lucene
    idf variant ln((N-df+0.5)/(df+0.5)+1), k1=1.2, b=0.75) of every
    document against the corpus's own top-3 tokens (by count DESC,
    token ASC — a deterministic, data-derived 'query') — the lexical
    retrieval primitive that complements dense kNN (q36/q183) and RRF
    fusion (q189). Cross-engine exactness discipline: term stats and
    idf are a bounded driver-side model (3 terms); idf is e9-QUANTIZED
    on both sides to absorb any libm ln ulp, the per-term contribution
    chain is parenthesized IDENTICALLY in Column and SQL form, the
    3 contributions add in FIXED order (no aggregation
    order-dependence), and the final score is floor6-quantized — the
    q37/q44 absorber pattern. Scale shape: one explode+groupBy for
    term stats (vocabulary-sized output), a 1-row (N, sum dl)
    aggregate, then scoring is a SHUFFLE-FREE scan with literal-folded
    tf counts (size(filter(...)) inside codegen) — at 100 TB the only
    distributed cost is the vocabulary groupBy any TF-IDF/BM25 index
    build already pays (q75's shape)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("_t")
    )
    stats = (
        docs.select("doc_id", F.explode("_t").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"), F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("cnt").desc(), F.col("t").asc())
        .limit(3)
        .collect()
    )
    if len(stats) < 3:
        # The oracle's schema is a fixed 3-term query; scoring with
        # fewer would both IndexError below and shape-mismatch it.
        raise ValueError(
            f"q202 needs a corpus with >= 3 distinct tokens (got {len(stats)})"
        )
    tot = docs.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.size("_t")).alias("sumdl")
    ).collect()[0]
    n, sumdl = float(tot["n"]), float(tot["sumdl"])

    out_cols = [F.col("doc_id")]
    contribs = []
    dl = F.size("_t").cast("double")
    for r, row in enumerate(stats, start=1):
        term, df = row["t"], float(row["df"])
        idf = _math.floor(_math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1e9 + 0.5) / 1e9
        tf = F.size(F.filter("_t", lambda x: x == F.lit(term)))
        out_cols.append(tf.cast("bigint").alias(f"tf{r}"))
        tfd = tf.cast("double")
        contribs.append(
            F.lit(idf)
            * (
                (tfd * F.lit(2.2))
                / (
                    tfd
                    + F.lit(1.2)
                    * (
                        F.lit(1.0)
                        - F.lit(0.75)
                        + F.lit(0.75) * (dl * F.lit(n) / F.lit(sumdl))
                    )
                )
            )
        )
    score = contribs[0] + contribs[1] + contribs[2]
    out_cols.append(
        F.floor(score * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("score_e6")
    )
    return docs.select(*out_cols)


# NDCG@10 log2 discounts, e9-quantized: D[r-1] = FLOOR(1e9*ln(2)/ln(r+1)+0.5)
# and prefix sums (ideal DCG for h hits). Data-INDEPENDENT constants, so they
# are inlined as identical integer literals on BOTH engines — no libm in the
# plan at all (stronger than q202's quantize-both-sides, which had to trust
# ln on data-dependent df).
_NDCG_DISC = (
    1000000000, 630929754, 500000000, 430676558, 386852807,
    356207187, 333333333, 315464877, 301029996, 289064826,
)
_NDCG_IDEAL = (
    1000000000, 1630929754, 2130929754, 2561606312, 2948459119,
    3304666306, 3637999639, 3953464516, 4254494512, 4543559338,
)

_IR_EVAL_SQL = (
    f"""
    WITH bm AS ({_BM25_SQL}),
    tr AS (SELECT doc_id, tr FROM (
             SELECT doc_id,
                    row_number() OVER (ORDER BY score_e6 DESC, doc_id ASC)
                      AS tr
             FROM bm) WHERE tr <= 10),
    rn AS (SELECT doc_id, rr FROM (
             SELECT doc_id,
                    row_number() OVER (ORDER BY tf1 DESC, doc_id ASC) AS rr
             FROM bm) WHERE rr <= 10),
    j AS (SELECT rn.rr,
                 CASE WHEN tr.doc_id IS NULL THEN 0 ELSE 1 END AS rel,
                 CASE rn.rr """
    + " ".join(f"WHEN {r} THEN {d}" for r, d in enumerate(_NDCG_DISC, start=1))
    + """ END AS disc
          FROM rn LEFT JOIN tr ON tr.doc_id = rn.doc_id),
    m AS (SELECT CAST(SUM(rel) AS BIGINT) AS hits,
                 CAST(COALESCE(MIN(CASE WHEN rel = 1 THEN rr END), 0)
                      AS BIGINT) AS first_rel,
                 CAST(SUM(rel * disc) AS BIGINT) AS dcg_e9
          FROM j)
    SELECT CAST(10 AS BIGINT) AS k,
           hits AS n_hits,
           CAST(hits * 100000 AS BIGINT) AS p_at_10_e6,
           CAST(CASE WHEN first_rel = 0 THEN 0
                     ELSE 1000000 // first_rel END AS BIGINT) AS mrr_e6,
           dcg_e9,
           CAST(CASE WHEN hits = 0 THEN 0
                ELSE FLOOR(CAST(dcg_e9 AS DOUBLE)
                           / CAST(CASE hits """
    + " ".join(f"WHEN {h} THEN {p}" for h, p in enumerate(_NDCG_IDEAL, start=1))
    + """ END AS DOUBLE)
                           * 1000000.0 + 0.5)
                END AS BIGINT) AS ndcg_e6
    FROM m
    """
)


@_q("q212_ir_eval_metrics", _IR_EVAL_SQL)
def q212_ir_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline retrieval-eval metrics — Precision@10, MRR, DCG@10 and
    NDCG@10 — scoring a CHEAP ranker (raw tf of the corpus's top token,
    doc_id ASC ties) against the full BM25 ranking's top-10 (q202) as
    graded-binary ground truth. This is the eval half every retrieval
    stack needs next to its index builds (q75 TF-IDF, q202 BM25) and
    recall evals (q183): "how much ranking quality does the cheap
    first-stage ranker give up?". Exactness: the log2 rank discounts
    are data-INDEPENDENT, so they are inlined as the same e9 integer
    literals on both engines (no libm anywhere); P@10 and MRR are
    exact rationals (hits*1e5, 1000000 div first_rel); NDCG's one
    double division gets the floor6 absorber. Both top-10 selections
    run as relational.top_k_ranked — TakeOrderedAndProject (per-
    partition heap, no global sort) + a broadcast 10x10 self-join for
    the exact ranks — so no corpus-global window survives at ANY
    scale; test_plans pins the absence of a global WindowExec."""
    # One materialization of the BM25 scores feeds BOTH top-10 probes
    # (each top_k_ranked is its own Spark job).
    bm = QUERIES["q202_bm25_ranking"](spark, sf_dir).localCheckpoint(eager=True)
    truth = top_k_ranked(
        bm.select("doc_id", "score_e6"),
        [("score_e6", True), ("doc_id", False)],
        10,
        rank_col="tr",
    ).select("doc_id", "tr")
    run = top_k_ranked(
        bm.select("doc_id", "tf1"),
        [("tf1", True), ("doc_id", False)],
        10,
        rank_col="rr",
    ).select("doc_id", "tf1", "rr")
    disc = F.lit(None)
    for r, d in enumerate(_NDCG_DISC, start=1):
        disc = F.when(F.col("rr") == r, F.lit(d)) if r == 1 else disc.when(
            F.col("rr") == r, F.lit(d)
        )
    j = run.join(truth, "doc_id", "left").select(
        "rr",
        F.when(F.col("tr").isNotNull(), 1).otherwise(0).alias("rel"),
        disc.alias("disc"),
    )
    m = j.agg(
        F.sum("rel").cast("bigint").alias("hits"),
        F.coalesce(
            F.min(F.when(F.col("rel") == 1, F.col("rr"))), F.lit(0)
        ).cast("bigint").alias("first_rel"),
        F.sum(F.col("rel") * F.col("disc")).cast("bigint").alias("dcg_e9"),
    )
    idcg = F.when(F.col("hits") == 1, F.lit(_NDCG_IDEAL[0]))
    for h in range(2, 11):
        idcg = idcg.when(F.col("hits") == h, F.lit(_NDCG_IDEAL[h - 1]))
    return m.select(
        F.lit(10).cast("bigint").alias("k"),
        F.col("hits").alias("n_hits"),
        (F.col("hits") * 100000).cast("bigint").alias("p_at_10_e6"),
        F.when(F.col("first_rel") == 0, F.lit(0))
        .otherwise(F.expr("1000000 div first_rel"))
        .cast("bigint")
        .alias("mrr_e6"),
        "dcg_e9",
        F.when(F.col("hits") == 0, F.lit(0))
        .otherwise(
            F.floor(
                F.col("dcg_e9").cast("double")
                / idcg.cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
        )
        .cast("bigint")
        .alias("ndcg_e6"),
    )


@_q(
    "q253_zipf_rank_frequency",
    f"""
    WITH toks AS (
      SELECT unnest(string_split_regex({_NORM_SQL}, '\\s+')) AS token
      FROM documents
    ),
    f AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
          FROM toks GROUP BY token),
    r AS (SELECT token, freq,
                 CAST(row_number() OVER (ORDER BY freq DESC, token ASC)
                      AS BIGINT) AS rank
          FROM f),
    m AS (SELECT CAST(quantile_cont(2 * rank * freq, 0.5) AS BIGINT)
                 AS med_x2 FROM r)
    SELECT token, rank, freq,
           CAST(rank * freq AS BIGINT) AS rank_freq,
           CAST((1000000 * abs(2 * rank * freq - med_x2)) // med_x2
                AS BIGINT) AS zipf_dev_e6
    FROM r CROSS JOIN m
    """,
)
def q253_zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law conformity audit of the corpus vocabulary — the
    rank-frequency diagnostic LLM-corpus curation runs to spot
    template spam and boilerplate (a natural corpus has rank*freq
    roughly constant; a synthetic or templated one doesn't, and THIS
    corpus's 31-token shared vocabulary is exactly such a flat-ish
    distribution — the audit's numbers say so): per token its global
    frequency, its frequency rank (relational.distributed_rank over
    the vocabulary — the corpus collapses to vocabulary size at the
    first groupBy, the BPE-family scale shape), the exact rank*freq
    product, and its deviation from the corpus's MEDIAN rank*freq as
    an exact e6 integer. The median is dyadic-exact (doubled products
    keep the even-n midpoint an integer — the q240 discipline) from a
    1-row percentile broadcast. Everything integer; no floats, no ln
    (a log-log slope would drag libm in — the product-deviation form
    is the exact-arithmetic equivalent test). Plan: token groupBy,
    two balanced rank exchanges over 31 rows, 1-row median broadcast."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.split(
                F.regexp_replace(
                    F.lower(F.trim(F.col("text"))), r"\s+", " "
                ),
                " ",
            )
        ).alias("token")
    )
    f = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    r = distributed_rank(
        f, [F.col("freq").desc(), F.col("token").asc()], rank_col="rank"
    )
    m = r.agg(
        F.expr("CAST(percentile(2 * rank * freq, 0.5) AS BIGINT)").alias(
            "med_x2"
        )
    )
    return r.crossJoin(F.broadcast(m)).select(
        "token",
        F.col("rank").cast("bigint").alias("rank"),
        "freq",
        (F.col("rank") * F.col("freq")).cast("bigint").alias("rank_freq"),
        F.expr(
            "CAST((1000000 * abs(2 * rank * freq - med_x2)) div med_x2"
            " AS BIGINT)"
        ).alias("zipf_dev_e6"),
    )


@_q(
    "q263_inverted_index",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex({_NORM_SQL}, '\\s+')) AS token
      FROM documents
    ),
    tf AS (SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY token, doc_id),
    st AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
                  CAST(SUM(tf) AS BIGINT) AS cf
           FROM tf GROUP BY token),
    top AS (
      SELECT token, doc_id, tf,
             CAST(row_number() OVER (PARTITION BY token
                                     ORDER BY tf DESC, doc_id ASC)
                  AS BIGINT) AS post_rank
      FROM tf
    )
    SELECT t.token, s.df, s.cf, t.post_rank, t.doc_id, t.tf
    FROM top t JOIN st s ON t.token = s.token
    WHERE t.post_rank <= 3
    """,
)
def q263_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build with champion postings — the IR structure
    underneath q202's BM25, materialized: per token its document
    frequency, collection frequency, and the top-3 posting entries by
    (tf DESC, doc_id ASC) (the 'champion list' / impact-ordered prefix
    a WAND-style scorer keeps hot). All counts exact; the posting
    ranking is a PER-TOKEN partitioned window (posting lists are
    per-key frames — the partitioned form scales to any corpus, unlike
    a global ordered window), and the corpus collapses to (token, doc)
    pairs at the first groupBy. Tokenization is the battery-standard
    lower/trim/whitespace-collapse normalization, spelled identically
    on both engines (the q67/q253 idiom)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "),
                " ",
            )
        ).alias("token"),
    )
    tf = toks.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    st = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
    )
    w = Window.partitionBy("token").orderBy(F.desc("tf"), F.asc("doc_id"))
    top = tf.withColumn("post_rank", F.row_number().over(w).cast("bigint"))
    return (
        top.filter(F.col("post_rank") <= 3)
        .join(st, "token")
        .select("token", "df", "cf", "post_rank", "doc_id", "tf")
    )
