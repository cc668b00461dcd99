"""Dedup operators (X17-X18): exact, MinHash-LSH, SimHash, jaccard verify."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.operators import dedup


@pytest.fixture(scope="module")
def toy_docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "the  quick Brown fox jumps over the lazy dog "),  # exact dup after norm
        (3, "The quick brown fox jumps over the lazy cat today"),  # near dup
        (4, "Completely different content about databases and query engines"),
        (5, "Completely different content about databases and query planners"),  # near dup of 4
        (6, "zzz qqq www eee rrr ttt yyy uuu iii ooo"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup_groups(toy_docs):
    groups = dedup.exact_dedup_groups(toy_docs).collect()
    assert len(groups) == 5  # 1&2 collapse
    dup = [g for g in groups if g["n_copies"] == 2]
    assert len(dup) == 1 and dup[0]["keeper_id"] == 1


def test_drop_exact_duplicates(toy_docs):
    kept = dedup.exact_dedup_groups(toy_docs)
    ids = sorted(r["keeper_id"] for r in kept.collect())
    assert ids == [1, 3, 4, 5, 6]


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    sh = df.select(dedup.word_shingles(F.col("t"), 2).alias("s")).head()["s"]
    assert sh == ["a b", "b c", "c d"]


def test_minhash_lsh_finds_near_dups(toy_docs):
    cands = dedup.minhash_lsh_candidates(toy_docs, num_hashes=64, bands=32, shingle_k=2)
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 2) in pairs
    assert (4, 5) in pairs
    # unrelated docs must not pair with doc 6
    assert not any(6 in p for p in pairs)


def test_minhash_jaccard_tracks_exact(toy_docs):
    """LSH jaccard estimate within 0.25 of exact token jaccard."""
    cands = dedup.minhash_lsh_candidates(toy_docs, num_hashes=128, bands=32, shingle_k=1)
    est = {
        (r["id_a"], r["id_b"]): r["jaccard_est"]
        for r in dedup.minhash_jaccard_estimate(
            toy_docs, cands, num_hashes=128, shingle_k=1
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(toy_docs, cands.select("id_a", "id_b")).collect()
    }
    for pair, e in est.items():
        assert abs(e - exact[pair]) < 0.25, (pair, e, exact[pair])


def test_simhash_identical_and_near(toy_docs):
    fp = dedup.with_simhash64(toy_docs, "text", "fp", shingle_k=2)
    vals = {r["doc_id"]: r["fp"] for r in fp.collect()}
    # exact dups (after normalization) share a fingerprint
    assert vals[1] == vals[2]
    # near-dups (one word changed) are much closer than unrelated docs
    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert ham(vals[4], vals[5]) < ham(vals[4], vals[6])
    # pigeonhole blocking guarantee: EVERY pair within max_hamming=3 is found
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_dup_pairs(toy_docs, max_hamming=3, shingle_k=2).collect()
    }
    expected = {
        (a, b): ham(vals[a], vals[b])
        for a in vals
        for b in vals
        if a < b and ham(vals[a], vals[b]) <= 3
    }
    assert pairs == expected
    assert pairs[(1, 2)] == 0


def test_lsh_scales_on_corpus(documents):
    """Runs on the real documents table without cross-joining: candidate
    count must be << n^2."""
    n = documents.count()
    cands = dedup.minhash_lsh_candidates(documents, num_hashes=32, bands=8)
    m = cands.count()
    assert m < n * 20


def test_pandas_minhash_tracks_jvm_family(documents):
    """splitmix64 family must estimate jaccard like the xxhash64 family:
    band-candidate pairs from one family score similarly in the other."""
    docs = documents.limit(200)
    jvm = dedup.minhash_signatures(docs)
    pnd = dedup.minhash_signatures_pandas(docs)
    cands_jvm = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates_from_signatures(jvm).collect()
    }
    cands_pnd = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates_from_signatures(pnd).collect()
    }
    # Same banding scheme over equally-uniform families: candidate sets
    # overlap heavily (identical docs collide in every family).
    if cands_jvm or cands_pnd:
        inter = len(cands_jvm & cands_pnd)
        union = len(cands_jvm | cands_pnd)
        assert inter / union >= 0.6, (inter, union)
    assert pnd.count() == docs.count()


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4-5, triangle 10-11-12 (+ redundant edge), isolate pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


@pytest.mark.slow
def test_connected_components_matches_union_find(spark):
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}
    got = {
        r["node"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == want


def test_strip_common_prefixes_planted(spark):
    """Docs sharing a 3-word header get it stripped; unique openers and
    header-only docs are handled (header-only -> empty string)."""
    docs = spark.createDataFrame(
        [
            (1, "COOKIE NOTICE ACCEPT real content one"),
            (2, "COOKIE NOTICE ACCEPT real content two"),
            (3, "unique opener words here"),
            (4, "COOKIE NOTICE ACCEPT"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["text"], r["prefix_stripped"])
        for r in dedup.strip_common_prefixes(docs, n_words=3, min_docs=2).collect()
    }
    assert got[1] == ("real content one", True)
    assert got[2] == ("real content two", True)
    assert got[3] == ("unique opener words here", False)
    assert got[4] == ("", True)


def test_incremental_near_dup_filter_planted(toy_docs):
    """A shard doc nearly identical to an ingested doc is dropped; a
    novel doc survives."""
    existing = toy_docs.filter(F.col("doc_id") <= 4)
    sigs = dedup.minhash_signatures(existing)
    shard = toy_docs.sparkSession.createDataFrame(
        [
            (100, "The quick brown fox jumps over the lazy dog"),  # dup of 1
            (101, "totally novel sentence with words never seen anywhere else"),
        ],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in dedup.incremental_near_dup_filter(shard, sigs).collect()}
    assert 100 not in kept
    assert 101 in kept


def test_strip_common_prefixes_awkward_column_names(spark):
    """Column names needing backticks (dots/spaces) must resolve via the
    Column API, not raw SQL interpolation."""
    docs = spark.createDataFrame(
        [(1, "HDR X body one"), (2, "HDR X body two")],
        ["the id", "doc.text"],
    )
    got = {
        r["the id"]: r["doc.text"]
        for r in dedup.strip_common_prefixes(
            docs, n_words=2, min_docs=2, id_col="the id", text_col="doc.text"
        ).collect()
    }
    assert got == {1: "body one", 2: "body two"}


def test_strip_common_prefixes_large_hot_set_shuffle_path(spark):
    """With NO broadcast hint, a hot set as large as the corpus itself
    (every prefix shared) still joins correctly — the shuffle fallback
    the 100 TB crawl case needs."""
    n = 5000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("hdr"),
            (F.col("id") % 2500).cast("string"),
            F.lit(" tok tail "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    out = dedup.strip_common_prefixes(docs, n_words=2, min_docs=2)
    assert out.filter(F.col("prefix_stripped")).count() == n
    sample = out.filter(F.col("doc_id") == 7).head()
    assert sample["text"] == "tail 7"


def test_incremental_near_dup_filter_rejects_width_mismatch(toy_docs):
    """Probing a 32-hash signature table with the 64-hash default must
    raise instead of silently passing every near-duplicate."""
    sigs32 = dedup.minhash_signatures(toy_docs, num_hashes=32)
    with pytest.raises(ValueError, match="32.*64|64.*32"):
        dedup.incremental_near_dup_filter(toy_docs, sigs32, num_hashes=64)


@pytest.mark.slow
def test_fuzzy_pairs_exact_recall_vs_naive(spark):
    """The deletion-neighborhood blocking must find EXACTLY the pairs the
    naive quadratic levenshtein predicate finds (equal, substitution,
    insert/delete — and nothing at distance 2+)."""
    df = spark.createDataFrame(
        [
            (1, "martha"),
            (2, "marhta"),   # dist 2 (transposition) -> excluded
            (3, "marta"),    # deletion of 'h' from martha -> dist 1
            (4, "martha"),   # equal -> dist 0
            (5, "mertha"),   # substitution -> dist 1
            (6, "zzzzzz"),   # unrelated
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in dedup.fuzzy_pairs(df).collect()
    }
    naive = df.alias("a").join(
        df.alias("b"), F.col("a.doc_id") < F.col("b.doc_id")
    ).filter(F.levenshtein("a.text", "b.text") <= 1)
    want = {
        (r[0], r[1], r[2])
        for r in naive.select(
            "a.doc_id", "b.doc_id", F.levenshtein("a.text", "b.text").cast("long")
        ).collect()
    }
    assert got == want
    assert (1, 4, 0) in got and (1, 3, 1) in got and (1, 5, 1) in got
    assert not any({a, b} == {1, 2} for a, b, _ in got)  # dist-2 excluded

    with pytest.raises(NotImplementedError, match="max_dist in"):
        dedup.fuzzy_pairs(df, max_dist=3)


@pytest.mark.slow
def test_fuzzy_pairs_d2_exact_recall_vs_naive(spark):
    """2-delete neighborhoods must reproduce the naive quadratic d<=2
    predicate exactly: transpositions (two substitutions under plain
    levenshtein), double deletes, delete+substitute — and nothing at 3+."""
    df = spark.createDataFrame(
        [
            (1, "martha"),
            (2, "marhta"),   # transposition -> dist 2, now included
            (3, "mart"),     # two deletions -> dist 2
            (4, "mertha"),   # substitution -> dist 1
            (5, "xerthq"),   # dist 3 from martha -> excluded
            (6, "ab"),       # short strings exercise the len<2 guard
            (7, "a"),
            (8, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in dedup.fuzzy_pairs(df, max_dist=2).collect()
    }
    naive = df.alias("a").join(
        df.alias("b"), F.col("a.doc_id") < F.col("b.doc_id")
    ).filter(F.levenshtein("a.text", "b.text") <= 2)
    want = {
        (r[0], r[1], r[2])
        for r in naive.select(
            "a.doc_id", "b.doc_id", F.levenshtein("a.text", "b.text").cast("long")
        ).collect()
    }
    assert got == want
    assert (1, 2, 2) in got and (1, 3, 2) in got and (6, 7, 1) in got


def test_fuzzy_pairs_hot_bucket_cap(spark):
    """An adversarial block of identical names is |bucket|^2 candidates;
    max_bucket must drop it BEFORE pair generation while cooler buckets
    still pair up."""
    rows = [(i, "acme corporation") for i in range(1, 101)]  # hot block
    rows += [(201, "zenith"), (202, "zenath")]               # cool dist-1 pair
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = dedup.fuzzy_pairs(df, max_bucket=50).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert got == {(201, 202)}  # hot bucket dropped, cool pair survives

    uncapped = dedup.fuzzy_pairs(df)
    assert uncapped.filter(
        (F.col("id_a") <= 100) & (F.col("id_b") <= 100)
    ).count() == 100 * 99 // 2  # default stays exact


# ---------------------------------------------------------------------------
# Broadcast-bitset bloom prefilter
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def bloom_tables(spark):
    ref = spark.range(0, 500).select(
        F.concat(F.lit("key-"), (F.col("id") * 3).cast("string")).alias("k")
    )
    probe = spark.range(0, 2000).select(
        F.col("id").alias("pid"),
        F.concat(F.lit("key-"), F.col("id").cast("string")).alias("k"),
    )
    return ref.cache(), probe.cache()


def test_bloom_semi_join_matches_plain_semi_join(bloom_tables):
    ref, probe = bloom_tables
    got = sorted(
        r["pid"]
        for r in dedup.bloom_prefilter_semi_join(probe, ref, "k").collect()
    )
    want = sorted(r["pid"] for r in probe.join(ref, "k", "left_semi").collect())
    assert got == want  # prefilter is invisible to results
    assert len(want) == 500  # non-vacuous: multiples of 3 under 1500


def test_bloom_prefilter_no_false_negatives_and_bounded_fp(bloom_tables):
    ref, probe = bloom_tables
    cand = dedup.bloom_prefilter_semi_join(
        probe, ref, "k", m_bits=1 << 16, verify=False
    )
    ids = {r["pid"] for r in cand.collect()}
    true_ids = {r["pid"] for r in probe.join(ref, "k", "left_semi").collect()}
    assert true_ids <= ids  # a bloom filter never drops a true match
    # 2000 probes against 2^16 bits / 2 hashes: fp rate well under 10%
    assert len(ids - true_ids) < 200


def test_bloom_build_rejects_unaligned_m_bits(bloom_tables):
    ref, _ = bloom_tables
    with pytest.raises(ValueError, match="multiple of 64"):
        dedup.bitset_bloom_build(ref, "k", m_bits=100)


def test_bloom_build_is_bounded_by_m_bits(bloom_tables):
    ref, _ = bloom_tables
    words = dedup.bitset_bloom_build(ref, "k", m_bits=1 << 12).collect()
    assert len(words) <= (1 << 12) // 64
    assert all(w["word"] != 0 for w in words)  # only set words materialize


# ---------------------------------------------------------------------------
# Contrastive pair mining
# ---------------------------------------------------------------------------


def test_contrastive_pairs_labels_separate_and_deterministic(documents):
    pairs = dedup.contrastive_pairs(documents, shingle_k=2)
    rows = pairs.collect()
    pos = [(r["id_a"], r["id_b"]) for r in rows if r["label"] == 1]
    neg = [(r["id_a"], r["id_b"]) for r in rows if r["label"] == 0]
    assert pos, "corpus must yield LSH positives"
    assert len(neg) == len(pos)  # 1:1 by construction
    assert not set(pos) & set(neg)
    assert all(a < b for a, b in pos + neg)
    # deterministic: a second mining run yields the identical pair set
    again = dedup.contrastive_pairs(documents, shingle_k=2).collect()
    assert {(r["id_a"], r["id_b"], r["label"]) for r in again} == {
        (r["id_a"], r["id_b"], r["label"]) for r in rows
    }


def test_contrastive_pairs_empty_when_no_positives(spark):
    df = spark.createDataFrame(
        [(1, "aa bb cc"), (2, "dd ee ff"), (3, "gg hh ii")],
        "doc_id long, text string",
    )
    out = dedup.contrastive_pairs(df, shingle_k=2)
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "label"]


def test_contrastive_pairs_topup_restores_balance(spark):
    """A small corpus whose ids scatter one-per-bucket strands most of
    them in the first pairing pass; the second-seed top-up must restore
    the neg_per_pos balance instead of silently under-delivering."""
    near = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma deltx")]
    fillers = [(i, f"w{i}a w{i}b w{i}c w{i}d") for i in range(10, 30)]
    df = spark.createDataFrame(near + fillers, "doc_id long, text string")
    pairs = dedup.contrastive_pairs(df, shingle_k=2, neg_per_pos=3).collect()
    n_pos = sum(1 for r in pairs if r["label"] == 1)
    n_neg = sum(1 for r in pairs if r["label"] == 0)
    assert n_pos >= 1
    assert n_neg == 3 * n_pos
    neg_set = {(r["id_a"], r["id_b"]) for r in pairs if r["label"] == 0}
    assert len(neg_set) == n_neg  # top-up never duplicates a pairing


def test_contrastive_pairs_portable_topup_balance(spark):
    """The md5 hash family (the q149 value-oracle path) must keep the top-up
    contract with the md5 hash family: exact neg_per_pos balance,
    disjoint label sets, determinism across runs. Docs 1/2 are exact
    duplicates so LSH positivity is certain (every band key equal),
    independent of which hash family is in play."""
    near = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")]
    fillers = [(i, f"w{i}a w{i}b w{i}c w{i}d") for i in range(10, 30)]
    df = spark.createDataFrame(near + fillers, "doc_id long, text string")
    mine = lambda: dedup.contrastive_pairs(  # noqa: E731
        df, num_hashes=16, bands=4, shingle_k=2, neg_per_pos=3
    ).collect()
    pairs = mine()
    pos_set = {(r["id_a"], r["id_b"]) for r in pairs if r["label"] == 1}
    neg_set = {(r["id_a"], r["id_b"]) for r in pairs if r["label"] == 0}
    assert pos_set == {(1, 2)}
    assert len(neg_set) == 3 and not pos_set & neg_set
    assert sum(1 for r in pairs if r["label"] == 0) == 3  # no dup rows
    assert {(r["id_a"], r["id_b"], r["label"]) for r in mine()} == {
        (r["id_a"], r["id_b"], r["label"]) for r in pairs
    }


def test_jaccard_prefix_join_exact_vs_naive(spark):
    """Prefix filtering must find EXACTLY the naive quadratic answer —
    recall is provable, so any miss is a bug, not a tuning issue."""
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),     # jacc 4/6 with 1
        (3, "alpha beta gamma delta epsilon"),  # jacc 1.0 with 1
        (4, "completely different words here"),
        (5, "unrelated content again entirely"),
        (6, "alpha solo"),                      # shares a stopword-ish token
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for num, den in ((1, 2), (9, 10), (1, 1)):
        got = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in dedup.jaccard_join_prefix_filter(df, num, den).collect()
        }
        toks = {
            r[0]: set(r[1].split())
            for r in rows
        }
        want = set()
        for a in toks:
            for b in toks:
                if a < b:
                    i = len(toks[a] & toks[b])
                    u = len(toks[a] | toks[b])
                    if i * den >= num * u:
                        want.add((a, b, round(i / u, 9)))
        assert got == want, (num, den)


def test_jaccard_prefix_join_prunes_on_diverse_vocab(spark):
    """With a diverse vocabulary (the intended regime), the candidate
    bucket stage must NOT degenerate to all-pairs: every bucket is tiny,
    so the hot-bucket cap never bites and results stay exact."""
    rows = [(i, f"u{i}a u{i}b u{i}c shared{i % 50}") for i in range(200)]
    rows += [(1000, "u5a u5b u5c shared5")]  # exact dup of doc 5's tokens
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.jaccard_join_prefix_filter(df, 9, 10, max_bucket=64).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(5, 1000)}
    assert out[0]["jaccard"] == 1.0


def test_jaccard_prefix_join_max_bucket_skips_positional(spark):
    """Best-effort mode (max_bucket set) must NOT apply the positional
    filter: its recall proof needs the smallest-shared-token bucket to
    survive. Adversarial corpus: pair (1,2) qualifies at t=4/5
    (J=11/13), its smallest shared prefix token w sits in a 32-doc
    bucket (dropped at max_bucket=16), and at the surviving fallback
    token x the positional bound (num+den)*(1+min(rest))=90 <
    num*(len_a+len_b)=96 would prune it — so with the positional
    filter active under max_bucket the pair is silently lost, and with
    the fix it is found via the (position-independent) length filter."""
    c = " ".join(f"c{i}" for i in range(1, 10))  # 9 common tokens
    rows = [(1, f"ua w x {c}"), (2, f"ub w x {c}")]
    # 30 floods: w lands in their prefix (w rarer than the commons),
    # inflating bucket(w) to 32 > max_bucket
    rows += [(100 + i, "w c1 c2 c3 c4") for i in range(30)]
    # 126 fillers push df(c*) above df(x); their own near-dup pairs
    # only share prefix tokens with fat (dropped) buckets
    rows += [(200 + i, f"d{i} {c}") for i in range(126)]
    # 40 paddings set df(x)=42 WITHOUT putting x in their prefix
    # (L=4 at t=4/5 gives p=1, exposing only the unique e-token)
    rows += [(400 + i, f"e{i} x c1 c2") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_join_prefix_filter(
            df, 4, 5, max_bucket=16
        ).collect()
    }
    assert (1, 2) in got
    # and nothing outside the planted qualifying families appears
    assert all(a in (1, 2) or a >= 100 for (a, b) in got)


def test_triangle_count_known_graphs(spark):
    from spark_lakehouse_medallion_pipeline_spark.operators.graph import triangle_count

    # K4 (4 triangles) + pendant edge + self-loop + duplicate/reversed edges
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (10, 11), (5, 5), (2, 1), (3, 1)],
        "src long, dst long",
    )
    assert triangle_count(edges).collect()[0]["n_triangles"] == 4
    # triangle-free bipartite graph
    bip = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11)], "src long, dst long"
    )
    assert triangle_count(bip).collect()[0]["n_triangles"] == 0


def test_minhash_portable_planted_dups(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely unrelated text about parquet shuffle partitions"),
            (4, "short doc"),  # < 3 tokens after split: dropped by contract
        ],
        "doc_id long, text string",
    )
    out = dedup.minhash_lsh_candidates_portable(docs).collect()
    pairs = {(r["id_a"], r["id_b"]): r["n_shared_bands"] for r in out}
    # identical docs share every band; the unrelated doc pairs with nothing
    assert pairs == {(1, 2): 4}


def test_simhash_portable_locality(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base.replace("today", "tonight")
    far = "parquet shuffle partition broadcast executor codegen catalyst tungsten arrow stage"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in dedup.simhash_portable(docs).collect()}
    assert rows[1]["simhash"] == rows[2]["simhash"]  # identical docs
    assert rows[1]["n_tokens"] == 14
    ham = lambda a, b: bin(a ^ b).count("1")
    # one-word edit stays closer than an unrelated doc
    assert ham(rows[1]["simhash"], rows[3]["simhash"]) < ham(
        rows[1]["simhash"], rows[4]["simhash"]
    )


def test_local_clustering_known_graph(spark):
    from spark_lakehouse_medallion_pipeline_spark.operators.graph import (
        local_clustering,
    )

    # K4 (every vertex: deg 3, tri 3, lcc 1.0) + path 20-21-22 (21: deg 2,
    # tri 0, lcc 0) + pendant (10-11, deg 1: excluded)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (10, 11), (20, 21), (21, 22)],
        "src long, dst long",
    )
    out = {r["vertex"]: r for r in local_clustering(edges).collect()}
    assert set(out) == {1, 2, 3, 4, 21}
    for v in (1, 2, 3, 4):
        assert (out[v]["degree"], out[v]["n_triangles"], out[v]["lcc_e6"]) == (3, 3, 1000000)
    assert (out[21]["degree"], out[21]["n_triangles"], out[21]["lcc_e6"]) == (2, 0, 0)


def test_minhash_portable_broadcast_distinct_equivalent(spark):
    """broadcast_distinct_shingles is a pure plan change: hashing the
    distinct shingle table and joining back must produce exactly the
    same candidate pairs as inline per-row hashing."""
    from spark_lakehouse_medallion_pipeline_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = sorted(
        map(
            tuple,
            dedup.minhash_lsh_candidates_portable(
                docs, num_hashes=16, bands=4, shingle_k=3
            ).collect(),
        )
    )
    fast = sorted(
        map(
            tuple,
            dedup.minhash_lsh_candidates_portable(
                docs,
                num_hashes=16,
                bands=4,
                shingle_k=3,
                broadcast_distinct_shingles=True,
            ).collect(),
        )
    )
    assert base == fast and len(base) > 0


def test_fast_tokens_matches_composed_form_on_whitespace_classes(spark):
    """_fast_tokens must equal whitespace_tokens(normalized_text(x)) for
    EVERY whitespace class, not just spaces: plain F.trim strips only
    ' ', so the r14 split(lower(trim(x))) form grew an empty-string
    token on 'foo\\n' / '\\tfoo' while the composed form (outer trim
    after collapsing) did not — which silently changed MinHash
    signatures and jaccard values on text with trailing newlines
    (r15 ADVICE fix)."""
    cases = [
        "foo\n", "\tfoo", "foo", "", "   ", "a  b\t\nc", "\n\n",
        "A É\tx\n", None, " x ", "foo\r\n", "a\fb",
    ]
    from spark_lakehouse_medallion_pipeline_spark.operators.text import (
        normalized_text,
        whitespace_tokens,
    )

    df = spark.createDataFrame([(c,) for c in cases], "t string")
    rows = df.select(
        dedup._fast_tokens(F.col("t")).alias("fast"),
        whitespace_tokens(normalized_text(F.col("t"))).alias("composed"),
    ).collect()
    assert all(r["fast"] == r["composed"] for r in rows)
