"""Text-analysis operators (X20) on literal strings."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators import text
from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES


def _one(spark, s: str, col):
    return spark.createDataFrame([(s,)], "t string").select(col(F.col("t")).alias("o")).head()["o"]


def test_normalized_text(spark):
    assert _one(spark, "  Hello   WORLD  ", text.normalized_text) == "hello world"


def test_token_counts(spark):
    assert _one(spark, "one two  three", text.token_count) == 3
    # BPE-ish: "don't" -> don + ' + t ; "abc123" -> abc + 123
    assert _one(spark, "don't abc123", text.bpe_ish_token_count) == 5


def test_avg_token_length(spark):
    assert _one(spark, "ab abcd", text.avg_token_length) == 3.0


def test_stopword_and_punct_ratio(spark):
    assert _one(spark, "the cat and the dog", text.stopword_ratio) == 0.6
    assert _one(spark, "ab!!", text.punct_ratio) == 0.5


def test_quality_score_prose_beats_noise(spark):
    prose = _one(spark, "the quick brown fox jumps over the lazy dog and runs", text.quality_score_raw)
    noise = _one(spark, "!!! ### $$$ %%% ^^^ &&&", text.quality_score_raw)
    assert prose == 1.0
    assert noise < prose


def test_fingerprints_match_on_normalized_dups(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("  hello world ",), ("other",)], "t string"
    )
    fps = [
        r["f"]
        for r in df.select(text.fingerprint_md5(F.col("t")).alias("f")).collect()
    ]
    assert fps[0] == fps[1] != fps[2]
    rolling = [
        r["f"]
        for r in df.select(text.fingerprint_rolling(F.col("t")).alias("f")).collect()
    ]
    assert rolling[0] == rolling[1]


def test_lang_id(spark):
    cases = {
        "this is the house and the garden": "en",
        "le chat est sur la table et il dort": "fr",
        "el perro y el gato es bonito": "es",
        "der hund und die katze ist hier": "de",
        "xyzzy plugh": "unknown",
    }
    for s, want in cases.items():
        assert _one(spark, s, text.lang_id) == want, s


def test_text_stats_block(spark, sf_dir):
    out = QUERIES["q29_text_stats"](spark, sf_dir).limit(20)
    rows = out.collect()
    assert len(rows) == 20
    for r in rows:
        assert r["n_chars"] > 0 and r["n_tokens"] > 0
        assert r["n_subword_tokens"] >= r["n_tokens"] - 1
        assert 0.0 <= r["quality_score"] <= 1.0
        assert len(r["fingerprint"]) == 32


def test_pack_sequences_invariants(documents):
    """Packing invariants per source stream: offsets within [0, ctx),
    spans >= 1, and contiguity — each doc starts exactly where the
    previous one ended (concat-then-chunk leaves no gaps)."""
    from spark_lakehouse_medallion_pipeline_spark.operators.text import pack_sequences

    ctx = 128
    rows = pack_sequences(documents, ctx_len=ctx).collect()
    assert all(0 <= r["pack_offset"] < ctx for r in rows)
    assert all(r["n_packs_spanned"] >= 1 for r in rows)
    by_source: dict = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for docs_ in by_source.values():
        docs_.sort(key=lambda r: r["doc_id"])
        pos = 0
        for r in docs_:
            assert r["pack_id"] * ctx + r["pack_offset"] == pos
            pos += r["n_tokens"]


def test_strip_html_planted(spark):
    from spark_lakehouse_medallion_pipeline_spark.operators.text import strip_html

    df = spark.createDataFrame(
        [
            ('<div><a href="x">link</a> text &amp; more &lt;3 &quot;q&quot;</div>',),
            ("no markup here",),
        ],
        "raw string",
    )
    got = [r["c"] for r in df.select(strip_html(F.col("raw")).alias("c")).collect()]
    assert got[0] == 'link text & more <3 "q"'
    assert got[1] == "no markup here"


def test_adaptive_length_filter_per_group(spark):
    """The gate is per-group: a 40-char doc survives in a terse language
    (median 50) but the same length dies in a verbose one (median 400)."""
    from spark_lakehouse_medallion_pipeline_spark.operators.text import (
        adaptive_length_filter,
    )

    df = spark.createDataFrame(
        [(1, "terse", 50), (2, "terse", 40), (3, "terse", 60),
         (4, "verbose", 400), (5, "verbose", 40), (6, "verbose", 500)],
        "doc_id long, lang string, n_chars long",
    )
    kept = {r["doc_id"] for r in adaptive_length_filter(df).collect()}
    assert 2 in kept      # 40 >= 0.5*50
    assert 5 not in kept  # 40 <  0.5*400
    assert kept >= {1, 3, 4, 6}


def test_gopher_quality_flags_rules(spark):
    """Each rule trips on its designed offender and the keep flag is the
    conjunction."""
    from spark_lakehouse_medallion_pipeline_spark.operators.text import (
        gopher_quality_flags,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown foxes jumped over the fences and it"),  # healthy
            (2, "too short"),                              # < 5 words
            (3, "a b c d e f g h"),                        # mean word len < 3
            (4, "the 123 456 789 000 111 222 333 is of"),  # alpha ratio low
            (5, "zebra quartz xylophone jukebox wombat kumquat"),  # no stopwords
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_quality_flags(df).collect()}
    assert got[1]["gopher_keep"] is True
    assert got[2]["words_ok"] is False and got[2]["gopher_keep"] is False
    assert got[3]["word_len_ok"] is False
    assert got[4]["alpha_ok"] is False
    assert got[5]["stopwords_ok"] is False
    for d in got.values():
        assert d["gopher_keep"] == (
            d["words_ok"] and d["word_len_ok"] and d["alpha_ok"] and d["stopwords_ok"]
        )


def test_mixture_sample_deterministic_and_weighted(documents):
    """Reruns give the identical corpus; weights bound per-group keep
    fractions; weight 0/1 are exact."""
    from spark_lakehouse_medallion_pipeline_spark.operators.text import mixture_sample

    base = documents.select("doc_id", "lang")
    w = {"en": 0.5, "zh": 0.0}
    a = {r["doc_id"] for r in mixture_sample(base, w).collect()}
    b = {r["doc_id"] for r in mixture_sample(base, w).collect()}
    assert a == b
    by_lang = {
        r["lang"]: r["n"]
        for r in mixture_sample(base, w).groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    tot = {
        r["lang"]: r["n"]
        for r in base.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert "zh" not in by_lang                       # weight 0 drops all
    assert by_lang.get("de", 0) == tot["de"]         # default weight 1 keeps all
    frac_en = by_lang["en"] / tot["en"]
    assert 0.3 < frac_en < 0.7                       # ~0.5 on a 200+ doc corpus


def test_chunk_documents_spans(spark):
    """Chunks tile the document with the requested overlap and
    reassemble to the original text; short docs yield one chunk."""
    from spark_lakehouse_medallion_pipeline_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "abcdefghij" * 5), (2, "tiny")], "doc_id long, text string"
    )
    rows = chunk_documents(
        df, chunk_chars=20, overlap=5, len_col=None
    ).orderBy("doc_id", "chunk_start").collect()
    doc1 = [r for r in rows if r["doc_id"] == 1]
    assert [r["chunk_start"] for r in doc1] == [1, 16, 31, 46]
    text1 = "abcdefghij" * 5
    for r in doc1:
        s = r["chunk_start"] - 1
        assert r["chunk"] == text1[s : s + 20]
        assert r["chunk_len"] == len(r["chunk"])
    # consecutive chunks overlap by exactly 5 chars
    for prev, nxt in zip(doc1, doc1[1:]):
        assert prev["chunk"][-5:] == nxt["chunk"][: 5]
    doc2 = [r for r in rows if r["doc_id"] == 2]
    assert len(doc2) == 1 and doc2[0]["chunk"] == "tiny"

    import pytest as _pytest

    with _pytest.raises(ValueError, match="must exceed"):
        chunk_documents(df, chunk_chars=5, overlap=5)


def test_remove_repeated_lines_planted_boilerplate(spark):
    """Planted 3-token boilerplate shared by 3 docs is removed from all
    of them, unique lines survive in order, and a fully-boilerplate doc
    drops out of the output entirely."""
    from spark_lakehouse_medallion_pipeline_spark.operators.text import remove_repeated_lines

    boiler = "accept all cookies"
    df = spark.createDataFrame(
        [
            (1, f"{boiler} alpha beta gamma delta eps zeta"),
            (2, f"one two three {boiler} four five six"),
            (3, f"seven eight nine {boiler}"),
            (4, boiler),  # nothing but boilerplate
            (5, "lonely unique words only here today"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_repeated_lines(df, line_tokens=3, min_docs=3).collect()
    }
    assert out[1]["text_clean"] == "alpha beta gamma delta eps zeta"
    assert out[1]["n_lines_kept"] == 2
    assert out[2]["text_clean"] == "one two three four five six"
    assert out[3]["text_clean"] == "seven eight nine"
    assert 4 not in out  # fully-stripped doc is dropped
    # doc 5: lines are (lonely unique words)(only here today) — kept whole
    assert out[5]["text_clean"] == "lonely unique words only here today"


def test_token_budget_curation_orders_and_stops(spark):
    """Budget is spent best-quality-first per source; the first doc that
    would overflow the budget (and everything after) is dropped; other
    sources keep their own budget."""
    from spark_lakehouse_medallion_pipeline_spark.operators.text import token_budget_curation

    prose = "the quick brown fox jumps over the lazy dog again"  # quality 1.0, 10 tokens
    noise = "zz qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg"  # low quality, 16 tokens
    df = spark.createDataFrame(
        [
            (1, "a", prose),
            (2, "a", noise),
            (3, "a", prose),
            (4, "b", noise),
        ],
        "doc_id long, source string, text string",
    )
    out = token_budget_curation(df, budget_tokens=20)
    rows = {r["doc_id"]: r for r in out.collect()}
    # source a: two prose docs (10 tokens each) fill the 20-token budget;
    # the noise doc ranks last and would overflow -> dropped
    assert set(rows) == {1, 3, 4}
    assert rows[3]["cum_tokens"] == 20
    # source b has its own budget: its single 16-token doc fits
    assert rows[4]["cum_tokens"] == 16
    assert rows[1]["quality"] == 1.0


def test_classifier_score_bounds_and_determinism(spark):
    """Hashed-linear classifier: scores in (0,1), deterministic for
    identical text, safe on 1-char tokens (the padded mix)."""
    from spark_lakehouse_medallion_pipeline_spark.operators.text import classifier_score

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "the quick brown fox jumps high")],
        "id long, t string",
    )
    rows = {
        r["id"]: r["s"]
        for r in df.select("id", classifier_score(F.col("t")).alias("s")).collect()
    }
    assert all(0.0 < v < 1.0 for v in rows.values())
    assert rows[1] == rows[2]            # pure function of text
    assert rows[1] != rows[3]            # different text -> different score


def test_repeated_lines_regexp_equals_hof_construction(spark):
    """The regexp-marked line construction inside remove_repeated_lines
    must stay byte-identical to the reference transform/slice/array_join
    form it replaced for speed (6.4x on the sf0.1 explode)."""
    from spark_lakehouse_medallion_pipeline_spark.operators.text import whitespace_tokens

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g"),          # partial trailing line
            (2, "one  two   three four"),  # multi-space input
            (3, "solo"),
            (4, " padded   text  here "),
        ],
        "doc_id long, text string",
    )
    k = 3
    sep = "\x01"
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    boundary = r"((?:\S+ ){%d}\S+) " % (k - 1)
    regex_lines = df.select(
        "doc_id",
        F.posexplode(
            F.split(F.regexp_replace(norm, boundary, "$1" + sep), sep)
        ).alias("pos", "line"),
    )
    toks = whitespace_tokens(F.col("text"))
    n_lines = F.ceil(F.size(toks) / F.lit(float(k)))
    hof_lines = df.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (n_lines - 1).cast("int")),
                lambda i: F.array_join(F.slice(toks, i * k + 1, k), " "),
            )
        ).alias("pos", "line"),
    )
    assert regex_lines.exceptAll(hof_lines).count() == 0
    assert hof_lines.exceptAll(regex_lines).count() == 0


def test_bigram_queries_survive_one_token_docs(spark, tmp_path):
    """A 1-token (or empty) doc makes F.sequence(1, size-1) descend to
    [1, 0] and element_at(l, 0) raise — q79/q136 must instead emit no
    bigrams for such docs, matching the DuckDB oracle's empty range."""
    from spark_lakehouse_medallion_pipeline_spark.queries import text as q

    rows = [
        (1, "single", "en", "web", 6),
        (2, "", "en", "web", 0),
        (3, "two tokens here", "en", "web", 15),
        (4, "two tokens near", "en", "web", 15),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    bigrams = q.q79_bigram_counts(spark, sf_dir).collect()
    assert {r["bigram"] for r in bigrams} >= {"two tokens", "tokens here"}
    assert all(r["bigram"] for r in bigrams)  # no rows from docs 1/2

    scored = q.q136_bigram_lm_score(spark, sf_dir).collect()
    assert {r["doc_id"] for r in scored} == {3, 4}


def test_nfc_normalized_collapses_decomposed(spark):
    from spark_lakehouse_medallion_pipeline_spark.operators import text as t

    df = spark.createDataFrame(
        # doc 1 composed (U+00E9), doc 2 decomposed (e + U+0301) — 
        # byte-different, canonically equal
        [(1, "r\u00e9sum\u00e9"), (2, "re\u0301sume\u0301"), (3, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text_nfc"] for r in t.nfc_normalized(df).collect()}
    assert got[1] == got[2] == "r\u00e9sum\u00e9"
    assert got[3] is None


def test_bpe_train_greedy_overlap_and_tiebreak(spark):
    """Hand-computed 2-merge BPE: 'aaaa aaa abab' has pair counts
    (a,a)=5, (a,b)=2, (b,a)=1 -> merge 1 is ('a','a'); greedy
    left-to-right takes the 1st and 3rd match in 'aaaa' (-> 'aa aa')
    and only the 1st in 'aaa' (-> 'aa a') — the run-parity rule. After
    merge 1 the top pair is ('a','b') -> 'abab' becomes 'ab ab'."""
    from spark_lakehouse_medallion_pipeline_spark.operators import text as T

    docs = spark.createDataFrame([(1, "aaaa abab aaa")], "doc_id long, text string")
    merges, segmented = T.bpe_train(docs, n_merges=2)
    assert merges == [(1, "a", "a", 5), (2, "a", "b", 2)]
    got = {r["word"]: r["segmentation"] for r in segmented.collect()}
    assert got == {"aaaa": "aa aa", "aaa": "aa a", "abab": "ab ab"}


def test_bpe_pair_counts(spark):
    from spark_lakehouse_medallion_pipeline_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "ab ab"), (2, "abc")], "doc_id long, text string"
    )
    got = {
        (r["left_sym"], r["right_sym"]): r["pair_count"]
        for r in T.bpe_pair_counts(docs).collect()
    }
    assert got == {("a", "b"): 3, ("b", "c"): 1}


def test_bpe_empty_word_guard(spark):
    """Empty / whitespace-only documents must contribute NO symbol rows:
    split('') yields [''] and Spark's sequence(1, 0) is DESCENDING
    [1, 0], so without the length guard a zero-length word emits two
    phantom ''-symbols — while a SQL oracle's range(1, 1) is empty.
    Cross-checked against DuckDB on the same corpus (the q180/q181/
    q184/q186 latent divergence)."""
    import duckdb

    from spark_lakehouse_medallion_pipeline_spark.operators import text as T

    rows = [(1, ""), (2, "   "), (3, None), (4, "ab a")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["word"], r["freq"], r["pos"], r["sym"])
        for r in T.bpe_word_symbols(docs).collect()
    )
    assert got == [("a", 1, 1, "a"), ("ab", 1, 1, "a"), ("ab", 1, 2, "b")]

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    oracle = sorted(
        tuple(r)
        for r in con.execute(
            r"""
        WITH words AS (
          SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
          FROM (SELECT UNNEST(string_split_regex(trim(text), '\s+')) AS w
                FROM documents) t
          WHERE len(w) >= 1
          GROUP BY w
        )
        SELECT word, freq, CAST(i AS BIGINT) AS pos,
               substr(word, CAST(i AS INT), 1) AS sym
        FROM words, LATERAL UNNEST(range(1, len(word)+1)) AS u(i)
        """
        ).fetchall()
    )
    assert oracle == got

    # bpe_train end-to-end still converges on the same corpus.
    merges, segmented = T.bpe_train(docs, n_merges=1)
    assert merges == [(1, "a", "b", 1)]
    assert {r["word"]: r["segmentation"] for r in segmented.collect()} == {
        "ab": "ab",
        "a": "a",
    }


def test_weighted_sample_ares_properties(spark, sf_dir):
    """q195 A-Res weighted sampling: deterministic across runs, exactly
    5 per source, zero-weight docs excluded, and a document whose
    weight dwarfs the corpus is (near-)surely included — the
    inclusion-probability property that separates per-item A-Res from
    per-stratum rate sampling."""
    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES

    q = QUERIES["q195_weighted_sample"]
    a = sorted((r["source"], r["doc_id"]) for r in q(spark, sf_dir).collect())
    b = sorted((r["source"], r["doc_id"]) for r in q(spark, sf_dir).collect())
    assert a == b and len(a) > 0
    from collections import Counter

    per_source = Counter(s for s, _ in a)
    assert all(n == 5 for n in per_source.values())

    # Heavy-weight inclusion: ln(u)/w -> 0- as w -> inf, beating any
    # finite-weight competitor's key with overwhelming probability.
    rows = [(i, "s0", 1 if i else 10**9) for i in range(20)] + [(99, "s0", 0)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        got = {r["doc_id"] for r in q(spark, tmp).collect()}
    assert 0 in got  # the 10^9-weight doc
    assert 99 not in got  # zero-weight excluded by contract
    assert len(got) == 5
