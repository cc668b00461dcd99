"""Independent cross-checks for the round-8-late analytics families
(q212-q223): conservation laws, numpy recomputation, and metric
invariants — evidence that does NOT route through the DuckDB oracle,
so an oracle-and-engine-share-a-bug failure mode is covered too."""

from __future__ import annotations

import math

import pytest

from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES
from spark_lakehouse_medallion_pipeline_spark.queries._common import _scratch_root
from spark_lakehouse_medallion_pipeline_spark.queries.text import (
    _NDCG_DISC,
    _NDCG_IDEAL,
)

SF = "/root/testdata/sf0.001"


def test_ndcg_constants_match_their_formula():
    """The e9 log2-discount literals inlined into BOTH engines must be
    exactly FLOOR(1e9*ln2/ln(r+1)+0.5) and their prefix sums."""
    for r, d in enumerate(_NDCG_DISC, start=1):
        assert d == math.floor(1e9 * math.log(2) / math.log(r + 1) + 0.5)
    acc = 0
    for h, p in enumerate(_NDCG_IDEAL, start=1):
        acc += _NDCG_DISC[h - 1]
        assert p == acc


@pytest.mark.slow
def test_q212_metric_invariants(spark):
    row = QUERIES["q212_ir_eval_metrics"](spark, SF).collect()[0]
    assert row["k"] == 10
    assert 0 <= row["n_hits"] <= 10
    assert row["p_at_10_e6"] == row["n_hits"] * 100000
    assert 0 <= row["mrr_e6"] <= 1000000
    # DCG cannot exceed the ideal DCG for the same hit count
    if row["n_hits"]:
        assert row["dcg_e9"] <= _NDCG_IDEAL[row["n_hits"] - 1]
        assert 0 < row["ndcg_e6"] <= 1000000
    else:
        assert row["dcg_e9"] == 0 and row["ndcg_e6"] == 0


def test_q214_matches_numpy_corrcoef(spark):
    """The exact-integer Pearson assembly must agree with numpy's
    float corrcoef to ~1e-9 (far tighter than the e6 quantum)."""
    import numpy as np

    out = {
        (r["col_x"], r["col_y"]): r["corr_e6"]
        for r in QUERIES["q214_correlation_matrix"](spark, SF).collect()
    }
    li = spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    cents = {c: np.round(li[c].to_numpy() * 100).astype(np.int64) for c in cols}
    for (cx, cy), got in out.items():
        ref = np.corrcoef(cents[cx], cents[cy])[0, 1]
        assert abs(got - math.floor(ref * 1e6 + 0.5)) <= 1, (cx, cy, got, ref)


def test_q215_gini_matches_numpy(spark):
    import numpy as np

    row = QUERIES["q215_gini_spend"](spark, SF).collect()[0]
    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    spend = (
        (np.round(o["o_totalprice"].to_numpy() * 100).astype(np.int64))
        .astype(object)
    )
    import pandas as pd

    x = pd.Series(spend).groupby(o["o_custkey"].to_numpy()).sum().sort_values(
        kind="mergesort"
    )
    xs = x.to_numpy()
    n = len(xs)
    i = np.arange(1, n + 1, dtype=object)
    num = 2 * int((i * xs).sum()) - (n + 1) * int(xs.sum())
    den = n * int(xs.sum())
    assert row["n_customers"] == n
    assert row["gini_e6"] == math.floor(num / den * 1e6 + 0.5)
    assert 0 <= row["gini_e6"] <= 1000000


def test_q216_run_bounds(spark):
    """Run count is sandwiched: ndv <= n_runs <= n_values, and the
    advice string follows the documented integer rule."""
    for r in QUERIES["q216_encoding_advisor"](spark, SF).collect():
        assert r["ndv"] <= r["n_runs"] <= r["n_values"]
        ratio = (1000000 * r["n_runs"]) // r["n_values"]
        assert r["run_ratio_e6"] == ratio
        if ratio <= 200000:
            assert r["advice"] == "RLE"
        elif r["ndv"] * 20 <= r["n_values"]:
            assert r["advice"] == "DICT"
        else:
            assert r["advice"] == "PLAIN"


def test_q217_benford_shares_telescope(spark):
    """Truncated observed shares must sum to within 9 units of 1e9,
    and the digit counts to the full order count."""
    rows = QUERIES["q217_benford_audit"](spark, SF).collect()
    n = spark.read.parquet(f"{SF}/orders.parquet").count()
    assert sum(r["n_orders"] for r in rows) == n
    s = sum(r["obs_share_e9"] for r in rows)
    assert 1000000000 - 9 <= s <= 1000000000
    for r in rows:
        assert r["abs_dev_e9"] == abs(r["obs_share_e9"] - r["benford_e9"])


def test_q218_attribution_conserves_revenue(spark):
    """Every purchase is attributed to exactly one channel: channel
    revenue must telescope to total purchase revenue, counts to the
    purchase count."""
    from pyspark.sql import functions as F

    from spark_lakehouse_medallion_pipeline_spark.sources.io import read_events

    rows = QUERIES["q218_touch_attribution"](spark, SF).collect()
    ev = read_events(spark, SF).filter(F.col("event_type") == "purchase")
    tot = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"),
    ).collect()[0]
    assert sum(r["n_purchases"] for r in rows) == tot["n"]
    assert sum(r["revenue_c"] for r in rows) == tot["c"]
    share = sum(r["revenue_share_e6"] for r in rows)
    assert 1000000 - len(rows) < share <= 1000000


def test_q219_basket_lift_against_pandas(spark):
    """Recompute one pair's stats directly in pandas."""
    from spark_lakehouse_medallion_pipeline_spark.sources.io import read_events

    rows = {
        (r["t1"], r["t2"]): r
        for r in QUERIES["q219_basket_lift"](spark, SF).collect()
    }
    pdf = read_events(spark, SF).select("user_id", "event_type").toPandas()
    u = pdf.drop_duplicates()
    n_users = u["user_id"].nunique()
    by_type = u.groupby("event_type")["user_id"].apply(set)
    for (t1, t2), r in rows.items():
        both = len(by_type[t1] & by_type[t2])
        assert r["n_both"] == both
        assert r["support_e6"] == (1000000 * both) // n_users
        assert r["conf_t1_t2_e6"] == (1000000 * both) // len(by_type[t1])
        assert r["lift_e6"] == (1000000 * n_users * both) // (
            len(by_type[t1]) * len(by_type[t2])
        )


def test_q220_cv_invariants(spark):
    for r in QUERIES["q220_demand_variability"](spark, SF).collect():
        assert r["n_weeks"] >= 4
        assert r["cv_e6"] >= 0
        expect = (
            "X" if r["cv_e6"] <= 500000
            else ("Y" if r["cv_e6"] <= 1000000 else "Z")
        )
        assert r["xyz_class"] == expect


def test_q221_quartiles_ordered(spark):
    row = QUERIES["q221_funnel_latency"](spark, SF).collect()[0]
    if row["n_converted"] == 0:
        pytest.skip("no conversions at this SF")
    assert (
        row["min_us"]
        <= row["p25_us"]
        <= row["p50_us"]
        <= row["p75_us"]
        <= row["max_us"]
    )
    assert row["min_us"] > 0  # purchase strictly after the click


def test_q222_histogram_telescopes_to_corpus(spark):
    rows = QUERIES["q222_dup_cluster_profile"](spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r["docs_in_size"] for r in rows) == n_docs
    for r in rows:
        assert r["docs_in_size"] == r["cluster_size"] * r["n_clusters"]


def test_q224_zscore_matches_numpy(spark):
    """Recompute every window's z in numpy from the same daily dollars."""
    import numpy as np

    rows = {
        r["day"]: r
        for r in QUERIES["q224_revenue_anomaly_zscore"](spark, SF).collect()
    }
    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    day = (
        o["o_orderdate"].astype("int64") // (86400 * 10**9)
    )  # ns epoch -> days
    cents = (o["o_totalprice"] * 100).round().astype("int64")
    daily = (cents.groupby(day).sum() // 100).sort_index()
    xs, days = daily.to_numpy(), daily.index.to_numpy()
    for i in range(6, len(xs)):
        w = xs[i - 6 : i + 1].astype(object)
        n, s, q = 7, int(w.sum()), int((w * w).sum())
        if n * q - s * s <= 0:
            assert days[i] not in rows
            continue
        z = (n * int(xs[i]) - s) / math.sqrt(n * q - s * s)
        assert rows[days[i]]["z_e6"] == math.floor(z * 1e6 + 0.5), days[i]
    assert len(rows) <= max(len(xs) - 6, 0)


def test_q225_wilson_bound_properties(spark):
    """The Wilson lower bound must sit at or below the point rate and
    rise toward it as n grows (verified against scipy-free math)."""
    for r in QUERIES["q225_late_rate_wilson"](spark, SF).collect():
        n, k = r["n"], r["k"]
        assert 0 <= k <= n
        p = k / n
        lo = (
            p + 1.9208 / n - 1.96 * math.sqrt(p * (1 - p) / n + 0.9604 / n**2)
        ) / (1 + 3.8416 / n)
        assert r["wilson_lo_e6"] == math.floor(lo * 1e6 + 0.5)
        assert r["wilson_lo_e6"] <= r["rate_e6"]
        assert r["wilson_lo_e6"] >= 0 or k == 0


def test_q226_growth_telescopes(spark):
    """Shares sum to ~1e6 and each growth value recomputes from the
    neighboring months' exact revenues."""
    rows = sorted(
        QUERIES["q226_mom_revenue_growth"](spark, SF).collect(),
        key=lambda r: r["month_idx"],
    )
    share = sum(r["share_e6"] for r in rows)
    assert 1000000 - len(rows) < share <= 1000000
    assert rows[0]["mom_growth_e6"] is None
    for prev, cur in zip(rows, rows[1:]):
        assert cur["month_idx"] > prev["month_idx"]
        if cur["month_idx"] == prev["month_idx"] + 1:
            d = 1000000 * (cur["rev_c"] - prev["rev_c"])
            # trunc-toward-zero like Spark div / DuckDB //
            expect = abs(d) // prev["rev_c"] * (1 if d >= 0 else -1)
            assert cur["mom_growth_e6"] == expect


def test_q227_integrity_edges_clean_corpus(spark):
    """The generated corpus is referentially clean: zero orphans and
    zero NULL FKs on every edge, with fact counts matching the tables."""
    rows = {r["edge"]: r for r in
            QUERIES["q227_referential_integrity_audit"](spark, SF).collect()}
    assert len(rows) == 6
    li_n = spark.read.parquet(f"{SF}/lineitem.parquet").count()
    for edge, r in rows.items():
        assert r["n_orphans"] == 0, edge
        assert r["n_null_fk"] == 0, edge
        if edge.startswith("lineitem."):
            assert r["n_rows"] == li_n


def test_q228_verdict_mask_consistency(spark):
    """pass_mask bits must recompose from the individual flags, keep
    must equal mask==15, and the keeper bit must match q28's cluster
    structure (exactly one keeper per content cluster)."""
    rows = QUERIES["q228_curation_verdict"](spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(rows) == n_docs
    for r in rows:
        mask = (
            r["gopher_ok"] + 2 * r["keeper_ok"] + 4 * r["lang_ok"]
            + 8 * r["len_ok"]
        )
        assert r["pass_mask"] == mask
        assert r["keep"] == int(mask == 15)
    n_keepers = sum(r["keeper_ok"] for r in rows)
    n_clusters = QUERIES["q28_exact_dedup_docs"](spark, SF).count()
    assert n_keepers == n_clusters


def test_q229_ewma_weights_exact():
    """The scaled 8-term EWMA weights must be the alpha=1/4 geometric
    series with the tail folded into the oldest term, summing to
    exactly 4^8 so the divide loses nothing systematic."""
    from spark_lakehouse_medallion_pipeline_spark.queries.windows import (
        _EWMA_DEN,
        _EWMA_W,
    )

    assert _EWMA_W == tuple(3**k * 4 ** (7 - k) for k in range(8))
    assert sum(_EWMA_W) + 3**8 == _EWMA_DEN == 4**8


def test_q229_ewma_recomputes(spark):
    """Every output row's EWMA recomputes from the daily series."""
    rows = {
        r["day"]: r
        for r in QUERIES["q229_ewma_revenue_trend"](spark, SF).collect()
    }
    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    day = o["o_orderdate"].astype("int64") // (86400 * 10**9)
    cents = (o["o_totalprice"] * 100).round().astype("int64")
    daily = (cents.groupby(day).sum() // 100).sort_index()
    xs, days = daily.to_numpy(), daily.index.to_numpy()
    from spark_lakehouse_medallion_pipeline_spark.queries.windows import (
        _EWMA_DEN,
        _EWMA_W,
    )

    w = list(_EWMA_W)
    w[7] += 3**8
    for i in range(7, len(xs)):
        num = sum(int(xs[i - k]) * w[k] for k in range(8))
        assert rows[days[i]]["ewma_d"] == num // _EWMA_DEN, days[i]
    assert len(rows) == max(len(xs) - 7, 0)


def test_q230_chi2_matches_pandas(spark):
    """Recompute chi2 from the raw crosstab (zero cells included)."""
    row = QUERIES["q230_chi2_independence"](spark, SF).collect()[0]
    d = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    ct = d.groupby(["lang", "source"]).size()
    langs = sorted(d["lang"].unique())
    srcs = sorted(d["source"].unique())
    n = len(d)
    total = 0
    for lg in langs:
        for s in srcs:
            obs = int(ct.get((lg, s), 0))
            rown = int((d["lang"] == lg).sum())
            coln = int((d["source"] == s).sum())
            diff = float(obs * n - rown * coln)
            total += math.floor(diff * diff / (n * rown * coln) * 1e6 + 0.5)
    assert row["chi2_e6"] == total
    assert row["dof"] == (len(langs) - 1) * (len(srcs) - 1)
    assert row["n_docs"] == n


def test_q233_winsorize_recomputes(spark):
    """Fences, beyond-fence counts, and the winsorized mean all
    recompute from the raw cents in pandas."""
    import numpy as np

    row = QUERIES["q233_tukey_winsorize"](spark, SF).collect()[0]
    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    v = np.sort((o["o_totalprice"] * 100).round().astype("int64").to_numpy())
    p25, p75 = np.quantile(v, 0.25), np.quantile(v, 0.75)
    lo = math.floor(p25 - 1.5 * (p75 - p25))
    hi = math.floor(p75 + 1.5 * (p75 - p25))
    assert (row["lo_fence_c"], row["hi_fence_c"]) == (lo, hi)
    assert row["n_below"] == int((v < lo).sum())
    assert row["n_above"] == int((v > hi).sum())
    clamped = np.clip(v, lo, hi).astype(object)
    assert row["wmean_c"] == int(clamped.sum()) // len(v)
    assert row["n"] == len(v)


def test_q223_groupwise_corr_matches_numpy(spark):
    import numpy as np

    out = {
        r["brand"]: r["corr_e6"]
        for r in QUERIES["q223_brand_discount_response"](spark, SF).collect()
    }
    li = spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()
    pt = spark.read.parquet(f"{SF}/part.parquet").toPandas()
    j = li.merge(pt[["p_partkey", "p_brand"]], left_on="l_partkey",
                 right_on="p_partkey")
    for brand, got in out.items():
        g = j[j["p_brand"] == brand]
        x = np.round(g["l_discount"].to_numpy() * 100).astype(np.int64)
        y = np.round(g["l_quantity"].to_numpy() * 100).astype(np.int64)
        ref = np.corrcoef(x, y)[0, 1]
        assert abs(got - math.floor(ref * 1e6 + 0.5)) <= 1, (brand, got, ref)


def test_q239_split_recomputes_with_hashlib(spark):
    """The leakage-safe split recomputes exactly in pure Python: md5
    bucketing via hashlib, clusters from the twin protocol, per-split
    conservation, and the leaks_prevented count — no DuckDB anywhere."""
    import hashlib

    rows = QUERIES["q239_leakage_safe_split"](spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()

    def bucket(i: int) -> str:
        h = int(hashlib.md5(f"{i}#split".encode()).hexdigest()[1:16], 16) % 10
        return "train" if h <= 7 else ("val" if h == 8 else "test")

    exp = {}
    leaks = 0
    for _, r in docs.iterrows():
        did, tl = int(r["doc_id"]), len(r["text"])
        rep_split = bucket(did)  # rep = min(doc_id, doc_id+1e7) = doc_id
        naive_a, naive_b = bucket(did), bucket(did + 10000000)
        if naive_a != naive_b:
            leaks += 1
        e = exp.setdefault(rep_split, [0, 0, 0, 0])
        e[0] += 2                 # doc + twin
        e[1] += 1                 # one cluster
        e[2] += tl * 2 + 12       # twin adds ' zzdup zzdup'
        e[3] += int(naive_a != rep_split) + int(naive_b != rep_split)
    got = {
        r["split"]: (r["n_docs"], r["n_clusters"], r["sum_chars"],
                     r["n_docs_moved"], r["leaks_prevented"])
        for r in rows
    }
    for split, (nd, nc, sc, mv) in exp.items():
        assert got[split] == (nd, nc, sc, mv, leaks), split
    assert sum(v[0] for v in exp.values()) == 2 * len(docs)


def test_q240_mad_matches_numpy(spark):
    import numpy as np

    rows = QUERIES["q240_mad_robust_scale"](spark, SF).collect()
    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o["c"] = (o["o_totalprice"] * 100).round().astype("int64")
    for r in rows:
        g = o[o["o_orderpriority"] == r["orderpriority"]]["c"].to_numpy()
        med = np.quantile(g, 0.5)
        mad = np.quantile(np.abs(g - med), 0.5)
        assert r["n"] == len(g)
        assert r["median_c"] == med
        assert r["mad_c"] == mad


def test_q241_kappa_recomputes(spark):
    """Kappa recomputes from the engine's own flag table via the
    textbook float formula — the exact-integer e6 form must land within
    1 ulp-of-floor of it."""
    from spark_lakehouse_medallion_pipeline_spark.operators import text

    row = QUERIES["q241_filter_agreement_kappa"](spark, SF).collect()[0]
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    flags = text.gopher_quality_flags(docs).select("doc_id", "gopher_keep").toPandas()
    nchars = docs.select("doc_id", "n_chars").toPandas()
    j = flags.merge(nchars, on="doc_id")
    la = j["gopher_keep"].astype(int)
    lb = (j["n_chars"] >= 300).astype(int)
    n = len(j)
    a = int(((la == 1) & (lb == 1)).sum())
    b = int(((la == 1) & (lb == 0)).sum())
    c = int(((la == 0) & (lb == 1)).sum())
    d = int(((la == 0) & (lb == 0)).sum())
    assert (row["n"], row["both_keep"], row["only_gopher"],
            row["only_length"], row["both_drop"]) == (n, a, b, c, d)
    po = (a + d) / n
    pe = ((a + b) * (a + c) + (c + d) * (b + d)) / (n * n)
    kappa = (po - pe) / (1 - pe)
    assert abs(row["kappa_e6"] - math.floor(kappa * 1e6)) <= 1


def test_q238_blocking_invariants_and_planted_floor(spark):
    """ER-metric invariants plus the planted-truth floor: every sampled
    doc with >= 8 distinct 3-shingles forms a Jaccard>=0.8 pair with
    its twin, so n_true is bounded below by that count (computed in
    pure Python), and completeness/reduction stay in [0, 1e6]."""
    row = QUERIES["q238_blocking_quality"](spark, SF).collect()[0]
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    samp = docs[docs["doc_id"] % 7 == 0]
    floor_true = 0
    for t in samp["text"]:
        toks = t.lower().split()
        sh = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        s = len(sh)
        # twin adds exactly the boundary shingles; j = s / len(union)
        tw = toks + ["zzdup", "zzdup"]
        shtw = {" ".join(tw[i:i + 3]) for i in range(len(tw) - 2)}
        inter, union = len(sh & shtw), len(sh | shtw)
        if 5 * inter >= 4 * union:
            floor_true += 1
    assert row["n_true"] >= floor_true > 0
    assert row["n_caught"] <= row["n_true"]
    assert row["n_caught"] <= row["n_candidates"]
    assert row["n_candidates"] <= row["n_all_pairs"]
    assert 0 <= row["reduction_e6"] <= 1000000
    assert 0 <= row["completeness_e6"] <= 1000000
    assert row["n_docs"] == 2 * len(samp)


def test_q243_attribution_conserves_credit(spark):
    """Every user's U-shaped credit must sum to exactly 1e6 (the
    remainder rule exists for precisely this), so the channel totals
    telescope to 1e6 * n_users; first/last touch counts each telescope
    to n_users."""
    rows = QUERIES["q243_position_attribution"](spark, SF).collect()
    ev = spark.read.parquet(f"{SF}/events.parquet")
    n_users = ev.select("user_id").distinct().count()
    n_events = ev.count()
    assert sum(r["credit_e6"] for r in rows) == 1000000 * n_users
    assert sum(r["n_first_touch"] for r in rows) == n_users
    assert sum(r["n_last_touch"] for r in rows) == n_users
    assert sum(r["n_events"] for r in rows) == n_events


def test_q242_percentile_rank_bounds_and_monotone(spark):
    rows = sorted(
        QUERIES["q242_percentile_rank_normalize"](spark, SF).collect(),
        key=lambda r: (r["spend_c"], r["custkey"]),
    )
    assert rows[0]["pct_e6"] == 0
    assert rows[-1]["pct_e6"] == 1000000
    assert all(a["pct_e6"] <= b["pct_e6"] for a, b in zip(rows, rows[1:]))


def test_q245_cusum_recomputes_with_numpy(spark):
    """The changepoint statistic recomputes exactly in numpy int64
    arithmetic from the raw daily aggregate."""
    import numpy as np

    row = QUERIES["q245_cusum_changepoint"](spark, SF).collect()[0]
    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    o["c"] = (o["o_totalprice"] * 100).round().astype("int64")
    daily = (
        o.groupby(o["o_orderdate"].dt.date)["c"].sum().sort_index()
    )
    x = daily.to_numpy().astype(object)  # python ints: no overflow
    n, tot = len(x), int(sum(x))
    pre = 0
    best = None
    for t, v in enumerate(x, start=1):
        pre += int(v)
        cs = n * pre - t * tot
        key = (-abs(cs), t)
        if best is None or key < best[0]:
            best = (key, t, cs)
    assert row["n_days"] == n and row["total_c"] == tot
    assert (row["day_index"], row["cusum_scaled"]) == (best[1], best[2])


def test_q246_hhi_bounds(spark):
    """HHI lives in [1e6/n, 1e6] (up to quantization slack) and the
    top share never exceeds it conceptually: hhi >= top_share^2/1e6."""
    rows = QUERIES["q246_hhi_concentration"](spark, SF).collect()
    assert rows
    for r in rows:
        n, hhi, top = r["n_suppliers"], r["hhi_e6"], r["top_share_e6"]
        assert 0 < hhi <= 1000000
        # quantization can only LOWER shares, so the floor has slack n
        assert hhi >= 1000000 // n - n
        assert hhi >= (top * top) // 1000000
        assert top <= 1000000


def test_q248_kaplan_meier_recomputes(spark):
    """The KM life table recomputes exactly in pure-Python integer
    arithmetic from the raw events: same cohort, same censoring rule
    (last in-window activity), same e6 trunc-div recurrence."""
    from spark_lakehouse_medallion_pipeline_spark.sources.io import read_events

    ev = read_events(spark, SF).toPandas()
    ns = lambda s: s.astype("int64")  # noqa: E731
    t0 = (
        ev[ev.event_type == "signup"].groupby("user_id")["ts"].min()
    )
    rows = []
    for uid, u0 in t0.items():
        mine = ev[(ev.user_id == uid) & (ns(ev.ts) >= int(ns(t0)[uid]))]
        base = int(u0.value)
        hours = (ns(mine.ts) - base) // 3_600_000_000_000
        purch = hours[mine.event_type == "purchase"]
        hp = int(purch.min()) if len(purch) else None
        hw = int(hours[hours < 48].max())  # signup itself is at hour 0
        if hp is not None and hp < 48:
            rows.append((1, hp // 12))
        else:
            rows.append((0, hw // 12))
    n = len(rows)
    d = [sum(1 for e, b in rows if e and b == w) for w in range(4)]
    c = [sum(1 for e, b in rows if not e and b == w) for w in range(4)]
    got = {
        r["bin_12h"]: r
        for r in QUERIES["q248_kaplan_meier"](spark, SF).collect()
    }
    s_prev, exited = 1000000, 0
    for w in range(4):
        r_w = n - exited
        s_w = s_prev * (r_w - d[w]) // max(r_w, 1)
        g = got[w]
        assert (g["n_at_risk"], g["n_events"], g["n_censored"]) == (
            r_w,
            d[w],
            c[w],
        ), f"bin {w}"
        assert g["survival_e6"] == s_w, f"bin {w}"
        s_prev, exited = s_w, exited + d[w] + c[w]


def test_q249_mann_whitney_matches_numpy(spark):
    """U statistic recomputes from numpy tie-averaged doubled ranks,
    and the U_a + U_b = 2 * n_a * n_b identity holds."""
    import numpy as np

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    val = (o["o_totalprice"] * 100).round().astype("int64").to_numpy()
    a = (o["o_orderpriority"] == "1-URGENT").to_numpy()
    order = np.argsort(val, kind="stable")
    sv = val[order]
    # doubled tie-averaged rank per position: first+last 1-based rank
    # of the value's run
    starts = np.r_[0, np.nonzero(np.diff(sv))[0] + 1]
    ends = np.r_[starts[1:], len(sv)]
    rx2 = np.empty(len(sv), dtype="int64")
    for s_, e_ in zip(starts, ends):
        rx2[s_:e_] = (s_ + 1) + e_  # (first + last) 1-based
    r_a_x2 = int(rx2[a[order]].sum())
    n_a, n = int(a.sum()), len(val)
    row = QUERIES["q249_mann_whitney"](spark, SF).collect()[0]
    assert row["n_urgent"] == n_a and row["n_other"] == n - n_a
    assert row["rank_sum_urgent_x2"] == r_a_x2
    assert row["u_urgent_x2"] == r_a_x2 - n_a * (n_a + 1)
    assert row["u_urgent_x2"] + row["u_other_x2"] == 2 * n_a * (n - n_a)


def test_q250_rfm_invariants(spark):
    """Quintiles are ANSI-balanced (sizes differ by at most 1 per
    dimension), every score is 1..5, and the code decomposes."""
    rows = QUERIES["q250_rfm_scores"](spark, SF).collect()
    assert rows
    for dim in ("r_score", "f_score", "m_score"):
        sizes = {}
        for r in rows:
            assert 1 <= r[dim] <= 5, dim
            sizes[r[dim]] = sizes.get(r[dim], 0) + 1
        assert max(sizes.values()) - min(sizes.values()) <= 1, (dim, sizes)
    for r in rows:
        assert r["rfm_code"] == 100 * r["r_score"] + 10 * r["f_score"] + r["m_score"]
    # score 5 on recency = the most recent quintile: its max recency is
    # <= the min recency of score 1 (the stalest)
    rec5 = max(r["recency_days"] for r in rows if r["r_score"] == 5)
    rec1 = min(r["recency_days"] for r in rows if r["r_score"] == 1)
    assert rec5 <= rec1


def test_q251_spearman_matches_numpy(spark):
    """Spearman recomputes from numpy tie-averaged doubled ranks +
    exact-int Pearson with the same float assembly."""
    import math

    import numpy as np

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    g = o.groupby("o_custkey").agg(
        x=("o_orderkey", "size"), y=("o_totalprice", "sum")
    )
    y = (g["y"] * 100).round().astype("int64").to_numpy()
    x = g["x"].to_numpy()

    def rx2(v):
        order = np.argsort(v, kind="stable")
        sv = v[order]
        starts = np.r_[0, np.nonzero(np.diff(sv))[0] + 1]
        ends = np.r_[starts[1:], len(sv)]
        out = np.empty(len(sv), dtype="int64")
        for s_, e_ in zip(starts, ends):
            out[s_:e_] = (s_ + 1) + e_
        inv = np.empty(len(sv), dtype="int64")
        inv[order] = out
        return inv

    rx, ry = rx2(x), rx2(y)
    n = len(rx)
    sx, sy = int(rx.sum()), int(ry.sum())
    sxx = int((rx.astype(object) * rx).sum())
    syy = int((ry.astype(object) * ry).sum())
    sxy = int((rx.astype(object) * ry).sum())
    num = n * sxy - sx * sy
    va, vb = n * sxx - sx * sx, n * syy - sy * sy
    want = math.floor(
        float(num) / (math.sqrt(float(va)) * math.sqrt(float(vb)))
        * 1000000.0
        + 0.5
    )
    row = QUERIES["q251_spearman_rank_corr"](spark, SF).collect()[0]
    assert row["n_customers"] == n
    assert row["spearman_e6"] == want
    assert -1000000 <= row["spearman_e6"] <= 1000000


def test_q253_zipf_invariants(spark):
    """Ranks are a contiguous 1..V permutation ordered by frequency,
    products are exact, and the median element has zero deviation when
    V is odd."""
    rows = sorted(
        QUERIES["q253_zipf_rank_frequency"](spark, SF).collect(),
        key=lambda r: r["rank"],
    )
    v = len(rows)
    assert [r["rank"] for r in rows] == list(range(1, v + 1))
    freqs = [r["freq"] for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    for r in rows:
        assert r["rank_freq"] == r["rank"] * r["freq"]
        assert r["zipf_dev_e6"] >= 0
    if v % 2 == 1:
        med_rf = sorted(r["rank_freq"] for r in rows)[v // 2]
        zero_devs = [r for r in rows if r["zipf_dev_e6"] == 0]
        assert any(r["rank_freq"] == med_rf for r in zero_devs)


def test_q255_ks_two_sample_matches_numpy(spark):
    """The KS D numerator, its e6 ratio, and the leftmost argmax value
    all recompute from a direct numpy integer ECDF scan."""
    import numpy as np

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    val = (o["o_totalprice"] * 100).round().astype("int64").to_numpy()
    a = o["o_orderpriority"].isin(["1-URGENT", "2-HIGH"]).to_numpy()
    vs = np.unique(val)
    cum = np.searchsorted(np.sort(val), vs, side="right").astype("int64")
    cum_a = np.searchsorted(np.sort(val[a]), vs, side="right").astype("int64")
    n_a, n = int(a.sum()), len(val)
    n_b = n - n_a
    dif = np.abs(cum_a * n_b - (cum - cum_a) * n_a)
    d_num = int(dif.max())
    at_val = int(vs[np.nonzero(dif == d_num)[0][0]])
    row = QUERIES["q255_ks_two_sample"](spark, SF).collect()[0]
    assert row["n_priority"] == n_a and row["n_other"] == n_b
    assert row["d_num"] == d_num
    assert row["ks_e6"] == (1_000_000 * d_num) // (n_a * n_b)
    assert row["at_val_cents"] == at_val


def test_q256_mann_kendall_matches_numpy(spark):
    """S recomputes from a direct O(n^2) sign scan per nation, and the
    pair-count identity n_pairs = n_months*(n_months-1)/2 holds."""
    import numpy as np
    import pandas as pd

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    c = spark.read.parquet(f"{SF}/customer.parquet").toPandas()
    n = spark.read.parquet(f"{SF}/nation.parquet").toPandas()
    df = o.merge(c, left_on="o_custkey", right_on="c_custkey").merge(
        n, left_on="c_nationkey", right_on="n_nationkey"
    )
    d = pd.to_datetime(df["o_orderdate"])
    df["mk"] = d.dt.year * 12 + d.dt.month
    df["cents"] = (df["o_totalprice"] * 100).round().astype("int64")
    m = (
        df.groupby(["n_name", "mk"])["cents"]
        .sum()
        .reset_index()
        .sort_values(["n_name", "mk"])
    )
    rows = {
        r["nation"]: r
        for r in QUERIES["q256_mann_kendall_trend"](spark, SF).collect()
    }
    checked = 0
    for nation, grp in m.groupby("n_name"):
        y = grp["cents"].to_numpy()
        if len(y) < 2:
            assert nation not in rows  # no pairs -> dropped on both sides
            continue
        diff_sign = np.sign(y[None, :] - y[:, None])
        iu = np.triu_indices(len(y), k=1)
        s = int(diff_sign[iu].sum())
        ties = int((diff_sign[iu] == 0).sum())
        r = rows[nation]
        assert r["n_months"] == len(y)
        assert r["n_pairs"] == len(y) * (len(y) - 1) // 2
        assert r["s_stat"] == s and r["n_ties"] == ties
        want_trend = (
            "increasing" if s > 0 else "decreasing" if s < 0 else "no-trend"
        )
        assert r["trend"] == want_trend
        checked += 1
    assert checked == len(rows)


def test_q257_binpack_plan_recomputes_and_invariants(spark):
    """The bin plan recomputes from a pandas replay of the same
    first-fit rule, bins partition every source's inventory exactly
    (bytes and file counts conserve), and bucket ranges are contiguous
    non-overlapping per source."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    docs["bucket"] = docs["doc_id"] // 16
    inv = (
        docs.groupby(["source", "bucket"])
        .agg(bytes=("n_chars", "sum"), n_docs=("doc_id", "count"))
        .reset_index()
        .sort_values(["source", "bucket"])
    )
    want = {}
    for source, grp in inv.groupby("source"):
        pre = 0
        for _, r in grp.iterrows():
            b = pre // 8192
            key = (source, b)
            w = want.setdefault(
                key,
                {"n_files": 0, "bin_bytes": 0, "n_docs": 0,
                 "first": int(r["bucket"]), "last": int(r["bucket"])},
            )
            w["n_files"] += 1
            w["bin_bytes"] += int(r["bytes"])
            w["n_docs"] += int(r["n_docs"])
            w["last"] = int(r["bucket"])
            pre += int(r["bytes"])
    got = QUERIES["q257_compaction_binpack_plan"](spark, SF).collect()
    g = {
        (r["source"], r["bin_id"]): (
            r["n_files"], r["bin_bytes"], r["n_docs"],
            r["first_bucket"], r["last_bucket"],
        )
        for r in got
    }
    e = {
        k: (w["n_files"], w["bin_bytes"], w["n_docs"], w["first"], w["last"])
        for k, w in want.items()
    }
    assert g == e
    # contiguity: per source, bins ordered by bin_id tile the bucket axis
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r)
    for source, bins in by_src.items():
        bins.sort(key=lambda r: r["bin_id"])
        for prev, nxt in zip(bins, bins[1:]):
            assert prev["last_bucket"] < nxt["first_bucket"], source


def test_q258_theil_sen_matches_numpy(spark):
    """The median pairwise slope recomputes from a direct numpy pair
    enumeration under the same (slope, dy, dx) total order, and the
    reported (dy, dx) witness reproduces the slope exactly."""
    import numpy as np
    import pandas as pd

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    c = spark.read.parquet(f"{SF}/customer.parquet").toPandas()
    n = spark.read.parquet(f"{SF}/nation.parquet").toPandas()
    df = o.merge(c, left_on="o_custkey", right_on="c_custkey").merge(
        n, left_on="c_nationkey", right_on="n_nationkey"
    )
    d = pd.to_datetime(df["o_orderdate"])
    df["mk"] = d.dt.year * 12 + d.dt.month
    df["cents"] = (df["o_totalprice"] * 100).round().astype("int64")
    m = (
        df.groupby(["n_name", "mk"])["cents"]
        .sum()
        .reset_index()
        .sort_values(["n_name", "mk"])
    )
    rows = {
        r["nation"]: r
        for r in QUERIES["q258_theil_sen_slope"](spark, SF).collect()
    }
    checked = 0
    for nation, grp in m.groupby("n_name"):
        y = grp["cents"].to_numpy()
        x = grp["mk"].to_numpy()
        if len(y) < 2:
            assert nation not in rows
            continue
        iu, ju = np.triu_indices(len(y), k=1)
        dy = y[ju] - y[iu]
        dx = x[ju] - x[iu]
        slope = dy.astype("float64") / dx
        order = np.lexsort((dx, dy, slope))  # last key primary
        k = (len(dy) + 1) // 2 - 1  # lower median, 0-based
        pick = order[k]
        r = rows[nation]
        assert r["n_pairs"] == len(dy)
        assert r["med_dy_cents"] == dy[pick] and r["med_dx_months"] == dx[pick]
        assert r["slope_cents_per_month"] == slope[pick]
        assert r["slope_cents_per_month"] == r["med_dy_cents"] / r["med_dx_months"]
        checked += 1
    assert checked == len(rows)


def test_q259_seasonal_index_recomputes(spark):
    """Seasonal factors recompute from a pandas replay of the centered
    12-month ratio-to-moving-total, and a full year of factors averages
    near 1e6 (the detrending identity, loose bound for trunc effects)."""
    import pandas as pd

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    d = pd.to_datetime(o["o_orderdate"])
    o["mk"] = d.dt.year * 12 + d.dt.month
    o["moy"] = d.dt.month
    o["cents"] = (o["o_totalprice"] * 100).round().astype("int64")
    m = (
        o.groupby(["mk", "moy"])["cents"].sum().reset_index().sort_values("mk")
    )
    rev = m["cents"].to_numpy()
    want: dict[int, list[int]] = {}
    for i in range(len(m)):
        lo, hi = i - 5, i + 7
        if lo < 0 or hi > len(m):
            continue
        ma12 = int(rev[lo:hi].sum())
        idx = (int(rev[i]) * 12_000_000) // ma12
        want.setdefault(int(m["moy"].iloc[i]), []).append(idx)
    got = {
        r["month_of_year"]: (r["n_obs"], r["seasonal_e6"])
        for r in QUERIES["q259_seasonal_index"](spark, SF).collect()
    }
    exp = {
        moy: (len(v), sum(v) // len(v)) for moy, v in want.items()
    }
    assert got == exp
    factors = [v[1] for v in got.values()]
    assert len(factors) == 12
    assert abs(sum(factors) / 12 - 1_000_000) < 120_000


def test_q260_pareto_skyline_matches_quadratic_dominance(spark):
    """The sort-based skyline equals the O(n^2) NOT-EXISTS dominance
    definition replayed directly in numpy: a part is on the frontier
    iff no part has (price <=, size >=) with at least one strict."""
    import numpy as np

    p = spark.read.parquet(f"{SF}/part.parquet").toPandas()
    price = (p["p_retailprice"] * 100).round().astype("int64").to_numpy()
    size = p["p_size"].astype("int64").to_numpy()
    key = p["p_partkey"].astype("int64").to_numpy()
    dom_price = (price[None, :] <= price[:, None]) & (
        size[None, :] >= size[:, None]
    )
    strict = (price[None, :] < price[:, None]) | (size[None, :] > size[:, None])
    dominated = (dom_price & strict).any(axis=1)
    want = {
        (int(key[i]), int(price[i]), int(size[i]))
        for i in range(len(key))
        if not dominated[i]
    }
    got = {
        (r["partkey"], r["price_cents"], r["size"])
        for r in QUERIES["q260_pareto_skyline"](spark, SF).collect()
    }
    assert got == want
    assert got  # non-degenerate: the frontier is never empty


def test_q261_ols_slope_matches_numpy(spark):
    """beta_num/beta_den recompute from numpy exact-int normal
    equations on the same centered month axis, and the double slope is
    exactly their one-division ratio. Where q258 ran, the two trend
    estimators must agree in sign or one of them be near zero (loose
    sanity, not an identity)."""
    import numpy as np
    import pandas as pd

    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    c = spark.read.parquet(f"{SF}/customer.parquet").toPandas()
    n = spark.read.parquet(f"{SF}/nation.parquet").toPandas()
    df = o.merge(c, left_on="o_custkey", right_on="c_custkey").merge(
        n, left_on="c_nationkey", right_on="n_nationkey"
    )
    d = pd.to_datetime(df["o_orderdate"])
    df["mk"] = d.dt.year * 12 + d.dt.month
    df["cents"] = (df["o_totalprice"] * 100).round().astype("int64")
    m = df.groupby(["n_name", "mk"])["cents"].sum().reset_index()
    mk0 = int(m["mk"].min())
    rows = {
        r["nation"]: r
        for r in QUERIES["q261_ols_trend_slope"](spark, SF).collect()
    }
    checked = 0
    for nation, grp in m.groupby("n_name"):
        x = (grp["mk"] - mk0).to_numpy(dtype="int64")
        y = grp["cents"].to_numpy(dtype="int64")
        if len(x) < 2:
            assert nation not in rows
            continue
        nn = len(x)
        num = int(nn * int((x * y).sum()) - int(x.sum()) * int(y.sum()))
        den = int(nn * int((x * x).sum()) - int(x.sum()) ** 2)
        r = rows[nation]
        assert r["n_months"] == nn
        assert r["beta_num"] == num and r["beta_den"] == den
        assert r["slope_cents_per_month"] == num / den
        checked += 1
    assert checked == len(rows)


def test_q262_erasure_audit_recomputes(spark):
    """Every relation's erase counts recompute from direct pandas
    filters, the lineitem leg routes through the orders cascade, and
    fractions are the exact trunc e6 ratios."""
    cu = spark.read.parquet(f"{SF}/customer.parquet").toPandas()
    o = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    li = spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()
    ev_n, ev_hit, ev_subj = None, None, None
    from spark_lakehouse_medallion_pipeline_spark.sources.io import read_events

    evs = read_events(spark, SF).select("user_id").toPandas()
    tomb_c = cu[cu["c_custkey"] % 97 == 0]
    tomb_o = o[o["o_custkey"] % 97 == 0]
    li_hit = li[li["l_orderkey"].isin(tomb_o["o_orderkey"])]
    # subjects for lineitem = distinct cascading custkeys
    li_subj = tomb_o[tomb_o["o_orderkey"].isin(li_hit["l_orderkey"])][
        "o_custkey"
    ].nunique()
    ev_hit = evs[evs["user_id"] % 97 == 0]
    want = {
        "customer": (len(tomb_c), tomb_c["c_custkey"].nunique(),
                     1_000_000 * len(tomb_c) // len(cu)),
        "orders": (len(tomb_o), tomb_o["o_custkey"].nunique(),
                   1_000_000 * len(tomb_o) // len(o)),
        "lineitem": (len(li_hit), li_subj,
                     1_000_000 * len(li_hit) // len(li)),
        "events": (len(ev_hit), ev_hit["user_id"].nunique(),
                   1_000_000 * len(ev_hit) // len(evs)),
    }
    got = {
        r["relation"]: (r["n_rows"], r["n_subjects"], r["pct_e6"])
        for r in QUERIES["q262_erasure_cascade_audit"](spark, SF).collect()
    }
    assert got == want


def test_q263_inverted_index_invariants(spark):
    """Champion postings: per token at most 3 entries ranked 1..k with
    non-increasing tf (ties broken by doc_id ascending), df/cf match a
    direct pandas recount, and cf >= df (tf >= 1 per posting)."""
    import re

    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    tf_count: dict[tuple[str, int], int] = {}
    for _, r in docs.iterrows():
        toks = re.sub(r"\s+", " ", r["text"].strip().lower()).split(" ")
        for t in toks:
            tf_count[(t, r["doc_id"])] = tf_count.get((t, r["doc_id"]), 0) + 1
    df_want: dict[str, int] = {}
    cf_want: dict[str, int] = {}
    for (t, _), tf in tf_count.items():
        df_want[t] = df_want.get(t, 0) + 1
        cf_want[t] = cf_want.get(t, 0) + tf
    rows = QUERIES["q263_inverted_index"](spark, SF).collect()
    by_tok: dict[str, list] = {}
    for r in rows:
        by_tok.setdefault(r["token"], []).append(r)
    assert set(by_tok) == set(df_want)
    for tok, posts in by_tok.items():
        posts.sort(key=lambda r: r["post_rank"])
        assert len(posts) == min(3, df_want[tok])
        assert [p["post_rank"] for p in posts] == list(range(1, len(posts) + 1))
        for p in posts:
            assert p["df"] == df_want[tok] and p["cf"] == cf_want[tok]
            assert p["tf"] == tf_count[(tok, p["doc_id"])]
        tfs = [(-p["tf"], p["doc_id"]) for p in posts]
        assert tfs == sorted(tfs)
        # the rank-1 posting is the true argmax under (tf desc, doc asc)
        want_best = min(
            (-tf, d) for (t_, d), tf in tf_count.items() if t_ == tok
        )
        assert (-posts[0]["tf"], posts[0]["doc_id"]) == want_best


def test_q264_vacuum_retention_invariants(spark):
    """Retention audit row: exactly 2 of 4 versions expired, the
    expired read raised, current is unaffected (pre == post checksum),
    and the v3 content matches a direct pandas replay of the merge
    history (v1 insert %4=0, v2 insert %4=1, v3 update %8=0 +500 and
    insert %4=2) — none of it via the DuckDB oracle."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    row = QUERIES["q264_snapshot_retention_vacuum"](spark, SF).collect()[0]
    assert row["n_versions_committed"] == 4
    assert row["n_versions_dropped"] == 2
    assert row["n_versions_retained"] == 2
    assert row["expired_read_raises"] == 1
    assert row["sum_cur_nchars_pre"] == row["sum_cur_nchars_post"]
    assert row["n_current"] == len(docs)
    bump = docs["doc_id"] % 8 == 0
    assert row["sum_cur_nchars_post"] == int(
        docs["n_chars"].sum() + 500 * bump.sum()
    )
    v3 = docs[docs["doc_id"] % 4 < 3]
    assert row["n_v3_retained"] == len(v3)
    assert row["sum_v3_nchars"] == int(
        v3["n_chars"].sum() + 500 * (v3["doc_id"] % 8 == 0).sum()
    )


def test_q265_systematic_sample_replay(spark):
    """The systematic guarantee (sum of multiplicities == k EXACTLY)
    plus a full hashlib/python replay of the weight line: same md5
    order, same prefix sums, same closed-form point counts."""
    import hashlib

    k = 100
    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    items = []
    for _, r in docs.iterrows():
        h = int(
            hashlib.md5(f"wss:{r['doc_id']}".encode()).hexdigest()[17:32], 16
        )
        items.append((h, int(r["doc_id"]), int(r["n_chars"])))
    items.sort()
    tw = sum(w for _, _, w in items)
    want = {}
    cum = 0
    for h, doc_id, w in items:
        lo, cum = cum, cum + w
        jmax = (2 * k * cum + tw - 1) // (2 * tw)
        jmin = (2 * k * lo + tw - 1) // (2 * tw)
        if jmax - jmin >= 1:
            want[doc_id] = (w, jmax - jmin)
    rows = QUERIES["q265_weighted_systematic_sample"](spark, SF).collect()
    got = {r["doc_id"]: (r["weight"], r["mult"]) for r in rows}
    assert got == want
    assert sum(m for _, m in got.values()) == k


def test_q266_salted_equals_unsalted(spark):
    """The salted two-stage decomposition must equal the plain
    single-stage groupBy computed IN SPARK (the DuckDB oracle is the
    other witness) — including the exact distinct-user counts."""
    from pyspark.sql import functions as F

    from spark_lakehouse_medallion_pipeline_spark.queries._common import cents
    from spark_lakehouse_medallion_pipeline_spark.sources.io import read_events

    ev = read_events(spark, SF)
    plain = {
        r["hot_key"]: (r["n_events"], r["sum_value_c"], r["n_users"])
        for r in ev.select(
            F.when(F.col("user_id") % 10 < 7, F.lit(0))
            .otherwise(F.col("user_id") % 97)
            .cast("bigint")
            .alias("hot_key"),
            "user_id",
            cents(F.col("value")).alias("val_c"),
        )
        .groupBy("hot_key")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("val_c").cast("bigint").alias("sum_value_c"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .collect()
    }
    got = {
        r["hot_key"]: (r["n_events"], r["sum_value_c"], r["n_users"])
        for r in QUERIES["q266_salted_skew_aggregate"](spark, SF).collect()
    }
    assert got == plain
    # the hot key really is hot: ~70% of events
    total = sum(v[0] for v in got.values())
    assert got[0][0] * 10 >= 6 * total


def test_q267_bucketed_join_equals_plain(spark):
    """The bucketed layout must change WHERE rows meet, never WHAT the
    join computes: equality against the plain parquet join in Spark."""
    from pyspark.sql import functions as F

    from spark_lakehouse_medallion_pipeline_spark.queries._common import cents

    o = spark.read.parquet(f"{SF}/orders.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    plain = {
        r["segment"]: (r["n_orders"], r["sum_total_c"])
        for r in o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).cast("bigint").alias("sum_total_c"),
        )
        .collect()
    }
    got = {
        r["segment"]: (r["n_orders"], r["sum_total_c"])
        for r in QUERIES["q267_bucketed_colocated_join"](spark, SF).collect()
    }
    assert got == plain and len(got) >= 2


def test_q268_heavy_hitters_replay(spark):
    """Exact heavy hitters vs a full pandas recount at the same 2%
    threshold — the MG candidate stage must not lose the planted hot
    key nor admit any sub-threshold key into the OUTPUT."""
    from spark_lakehouse_medallion_pipeline_spark.sources.io import read_events

    ev = read_events(spark, SF).select("user_id").toPandas()
    keys = ev["user_id"].where(ev["user_id"] % 10 >= 7, 0)
    keys = keys.where(keys == 0, keys % 97)
    counts = keys.value_counts()
    n = int(counts.sum())
    want = {
        int(k): (int(v), 1000000 * int(v) // n)
        for k, v in counts.items()
        if 50 * int(v) >= n
    }
    rows = QUERIES["q268_heavy_hitters_exact"](spark, SF).collect()
    got = {r["hot_key"]: (r["cnt"], r["share_e6"]) for r in rows}
    assert got == want
    assert 0 in got  # the planted 70% key


def test_q269_ivm_equals_full_recompute(spark):
    """The delta-merge must equal a single full groupBy computed IN
    SPARK (the oracle is the other witness), and the base/delta split
    must reconcile: n_total == n_base + n_delta everywhere with both
    sides non-trivially populated."""
    from pyspark.sql import functions as F

    from spark_lakehouse_medallion_pipeline_spark.queries._common import cents
    from spark_lakehouse_medallion_pipeline_spark.sources.io import read_events

    ev = read_events(spark, SF)
    full = {
        (r["event_type"], r["bucket"]): (r["n_total"], r["sum_value_c"])
        for r in ev.select(
            "event_type",
            (F.col("user_id") % 100).cast("bigint").alias("bucket"),
            cents(F.col("value")).alias("val_c"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum("val_c").cast("bigint").alias("sum_value_c"),
        )
        .collect()
    }
    rows = QUERIES["q269_incremental_view_maintenance"](spark, SF).collect()
    got = {
        (r["event_type"], r["bucket"]): (r["n_total"], r["sum_value_c"])
        for r in rows
    }
    assert got == full
    assert all(r["n_total"] == r["n_base"] + r["n_delta"] for r in rows)
    assert sum(r["n_base"] for r in rows) > 0
    assert sum(r["n_delta"] for r in rows) > 0


def test_q270_zonemap_replay(spark):
    """Full pandas replay of both zonings and the skip math, plus the
    structural invariants: matches identical across layouts (skipping
    never changes answers), and the sorted layout skips at least as
    many zones and reads at most as many rows as the natural one."""
    import pandas as pd

    from spark_lakehouse_medallion_pipeline_spark.queries.layout import (
        _Q270_CUTOFF,
        _Q270_ZONE_ROWS,
    )

    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .selectExpr("l_orderkey", "l_linenumber", "CAST(l_shipdate AS DATE) sd")
        .toPandas()
    )
    cutoff = pd.Timestamp(_Q270_CUTOFF).date()

    def stats(df_sorted):
        z = pd.Series(range(len(df_sorted))) // _Q270_ZONE_ROWS
        g = df_sorted.reset_index(drop=True).groupby(z)
        zmax = g["sd"].max()
        nrows = g.size()
        nmatch = g["sd"].apply(lambda s: int((s >= cutoff).sum()))
        skipped = int((zmax < cutoff).sum())
        scanned = int(nrows[zmax >= cutoff].sum())
        return (
            len(zmax),
            skipped,
            scanned,
            int(nmatch.sum()),
            scanned - int(nmatch.sum()),
            1000000 * skipped // len(zmax),
        )

    want = {
        "natural": stats(li.sort_values(["l_orderkey", "l_linenumber"])),
        "sorted": stats(li.sort_values(["sd", "l_orderkey", "l_linenumber"])),
    }
    got = {
        r["layout"]: (
            r["n_zones"],
            r["n_skipped_zones"],
            r["rows_scanned"],
            r["rows_matched"],
            r["false_positive_rows"],
            r["skip_ratio_e6"],
        )
        for r in QUERIES["q270_zonemap_skipping_audit"](spark, SF).collect()
    }
    assert got == want
    assert got["sorted"][3] == got["natural"][3]  # identical matches
    assert got["sorted"][1] >= got["natural"][1]  # sorted skips >= natural
    assert got["sorted"][2] <= got["natural"][2]  # sorted reads <= natural


def test_q271_gap_fill_conventions(spark):
    """Gap-fill invariants on the real series: non-gap rows carry
    themselves in locf and interp; leading gaps stay NULL in both;
    interior gaps interpolate BETWEEN their bracketing observations
    (value within [min(prev,next), max(prev,next)]); trailing gaps
    LOCF but never interpolate; and there are real gaps to fill."""
    rows = QUERIES["q271_gap_fill_interpolate"](spark, SF).collect()
    by_nation: dict[str, list] = {}
    for r in rows:
        by_nation.setdefault(r["nation"], []).append(r)
    n_gaps = 0
    for series in by_nation.values():
        series.sort(key=lambda r: r["mk"])
        seen_obs = False
        last_obs_idx = max(
            (i for i, r in enumerate(series) if r["rev_c"] is not None),
            default=-1,
        )
        prev_val = None
        for i, r in enumerate(series):
            if r["rev_c"] is not None:
                seen_obs = True
                prev_val = r["rev_c"]
                assert r["locf_c"] == r["rev_c"] and r["interp_c"] == r["rev_c"]
                assert r["is_gap"] == 0
                continue
            n_gaps += 1
            assert r["is_gap"] == 1
            if not seen_obs:  # leading gap
                assert r["locf_c"] is None and r["interp_c"] is None
                continue
            assert r["locf_c"] == prev_val
            if i > last_obs_idx:  # trailing gap
                assert r["interp_c"] is None
            else:  # interior gap: bracketed
                nxt = next(
                    s["rev_c"] for s in series[i + 1 :] if s["rev_c"] is not None
                )
                lo, hi = min(prev_val, nxt), max(prev_val, nxt)
                assert lo <= r["interp_c"] <= hi
    assert n_gaps > 0


def test_q268_mg_kernel_adversarial_domain(spark):
    """The Misra-Gries candidate stage under conditions the events
    fixture can't produce — a 10k-key domain, empty partitions, and a
    30% hot key: candidates stay bounded (<= k per partition) and the
    exact recount still isolates precisely the true heavy hitter.
    (Mirrors q268's kernel; the query itself is value-oracled — this
    pins the MERGE-COMPACTION math at domain >> k.)"""
    from collections import Counter

    import pandas as pd
    from pyspark.sql import functions as F

    rows = [(0,) for _ in range(30000)]
    rows += [(i,) for i in range(1, 10001) for _ in range(7)]
    df = spark.createDataFrame(rows, "hot_key long").repartition(64)
    k = 64

    def mg_partition(batches):
        summary: dict[int, int] = {}
        for pdf in batches:
            for key, cnt in Counter(pdf["hot_key"].to_numpy()).items():
                summary[int(key)] = summary.get(int(key), 0) + int(cnt)
            if len(summary) > k:
                dec = sorted(summary.values(), reverse=True)[k]
                summary = {x: c - dec for x, c in summary.items() if c > dec}
        yield pd.DataFrame({"hot_key": pd.Series(list(summary), dtype="int64")})

    cands = df.mapInPandas(mg_partition, "hot_key long").distinct()
    assert cands.count() <= 64 * 64  # bounded candidate set
    heavy = (
        df.join(F.broadcast(cands), "hot_key", "left_semi")
        .groupBy("hot_key")
        .count()
        .crossJoin(F.broadcast(df.agg(F.count(F.lit(1)).alias("n"))))
        .filter(F.lit(50) * F.col("count") >= F.col("n"))
        .collect()
    )
    assert [(r["hot_key"], r["count"]) for r in heavy] == [(0, 30000)]


def test_q272_motif_replay(spark):
    """Full python re replay of the symbol sequences and motif counts
    (the regex semantics witness besides the DuckDB oracle). The replay
    applies the same first-N-events truncation as the query (never hit
    at this sf — max 86 events/user — but replayed for semantic
    parity)."""
    import re

    from spark_lakehouse_medallion_pipeline_spark.queries.product import (
        _Q272_MAX_EVENTS,
    )
    from spark_lakehouse_medallion_pipeline_spark.sources.io import read_events

    pdf = read_events(spark, SF).select(
        "user_id", "ts", "event_id", "event_type"
    ).toPandas()
    pdf = pdf.sort_values(["user_id", "ts", "event_id"])
    pdf = pdf.groupby("user_id").head(_Q272_MAX_EVENTS)
    seqs = (
        pdf.assign(sym=pdf["event_type"].str[0])
        .groupby("user_id")["sym"]
        .agg("".join)
    )
    rows = QUERIES["q272_sequence_motif_match"](spark, SF).collect()
    assert len(rows) == len(seqs)
    for r in rows:
        s = seqs[r["user_id"]]
        assert r["seq"] == s and r["seq_len"] == len(s)
        assert r["n_click_to_buy"] == len(re.findall("cp", s))
        assert r["n_error_bursts"] == len(re.findall("ee+", s))
        assert r["n_browse_runs"] == len(re.findall("[cv]{4,}", s))
        assert r["has_purchase"] == int("p" in s)


def test_q272_whale_cap(spark, tmp_path):
    """The r12 whale-cap contract on a synthetic bot user: 10,000
    events for user 1 (2.4x the cap) + 10 for user 2. The whale's
    sequence must truncate to exactly the FIRST _Q272_MAX_EVENTS
    events in (ts, event_id) order — pinned by planting all 'p'
    events past the cap, so has_purchase == 0 proves the tail was
    dropped before the regexes ran — and the normal user is untouched."""
    import re

    from pyspark.sql import functions as F

    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES
    from spark_lakehouse_medallion_pipeline_spark.queries.product import (
        _Q272_MAX_EVENTS,
    )

    n_whale = 10_000
    whale = spark.range(n_whale).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            (F.lit(1_700_000_000_000_000) + F.col("id") * 1_000_000).cast("long")
        ).alias("ts"),
        F.lit(1).cast("bigint").alias("user_id"),
        # head of the sequence cycles c/v/e; every event past the cap
        # is a purchase — visible iff the cap leaks
        F.when(F.col("id") >= _Q272_MAX_EVENTS, F.lit("purchase"))
        .when(F.col("id") % 3 == 0, F.lit("click"))
        .when(F.col("id") % 3 == 1, F.lit("view"))
        .otherwise(F.lit("error"))
        .alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    normal = spark.range(10).select(
        (F.col("id") + n_whale).alias("event_id"),
        F.timestamp_micros(
            (F.lit(1_700_000_000_000_000) + F.col("id") * 1_000_000).cast("long")
        ).alias("ts"),
        F.lit(2).cast("bigint").alias("user_id"),
        F.when(F.col("id") % 2 == 0, F.lit("click"))
        .otherwise(F.lit("purchase"))
        .alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    whale.unionByName(normal).write.parquet(f"{tmp_path}/events.parquet")

    rows = {
        r["user_id"]: r
        for r in QUERIES["q272_sequence_motif_match"](spark, str(tmp_path)).collect()
    }
    w = rows[1]
    assert w["seq_len"] == _Q272_MAX_EVENTS
    expect = "".join(
        "cve"[i % 3] for i in range(_Q272_MAX_EVENTS)
    )
    assert w["seq"] == expect
    assert w["has_purchase"] == 0, "post-cap purchases leaked into the motifs"
    assert w["n_error_bursts"] == len(re.findall("ee+", expect))
    assert w["n_browse_runs"] == len(re.findall("[cv]{4,}", expect))
    n = rows[2]
    assert n["seq_len"] == 10 and n["has_purchase"] == 1
    assert n["seq"] == "cp" * 5 and n["n_click_to_buy"] == 5


def test_q273_tvd_invariants(spark):
    """TVD replay: per-cell counts reconcile to the window totals, the
    drift numerators recompute exactly, and tvd_e6 equals the exact
    wide-integer formula (also bounded in [0, 1e6])."""
    rows = QUERIES["q273_distribution_drift_tvd"](spark, SF).collect()
    nb = sum(r["n_base"] for r in rows)
    nd = sum(r["n_delta"] for r in rows)
    assert nb > 0 and nd > 0
    tot = 0
    for r in rows:
        want = abs(r["n_base"] * nd - r["n_delta"] * nb)
        assert r["drift_num"] == want
        tot += want
    want_tvd = (1000000 * tot) // (2 * nb * nd)
    assert all(r["tvd_e6"] == want_tvd for r in rows)
    assert 0 <= want_tvd <= 1000000


def test_q274_consistent_hash_invariants(spark):
    """The consistent-hashing contract, plus the collision-freeness the
    position join relies on: all 68 vnode positions distinct (hashlib
    replay), every moved key moves TO the new shard, the moved
    fraction is near 1/17 (well under the ~16/17 a mod-N reshard
    forces), and all 17 shards own keys afterwards."""
    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[17:32], 16)

    pos17 = {h60(f"node:{s}:{v}") for s in range(17) for v in range(4)}
    assert len(pos17) == 68  # collision-free ring
    row = QUERIES["q274_consistent_hash_rebalance"](spark, SF).collect()[0]
    assert row["n_moved"] == row["n_moved_to_new"]
    assert row["n_shards_after"] == 17
    assert 0 < row["n_moved"] < row["n_keys"]
    # moved fraction ~ 1/17 (allow generous variance on a 4-vnode ring,
    # but far from mod-N's 16/17)
    assert row["moved_ratio_e6"] < 300000


def test_q265_kernel_heavy_item_multiplicity(spark):
    """The systematic sampler's multiplicity semantics on a case the
    documents fixture can't produce: one item heavier than several
    strides must receive multiplicity ~ w_i*k/W (its exact point
    count), and conservation still holds. Mirrors q265's kernel on a
    synthetic weight line (the q268-adversarial pattern)."""
    from pyspark.sql import functions as F

    from spark_lakehouse_medallion_pipeline_spark.operators.relational import (
        distributed_rank,
    )

    k = 10
    # 20 unit items + one whale of weight 80 -> W=100, stride=10:
    # the whale owns ~8 of the 10 midpoints regardless of hash order
    rows = [(i, 1) for i in range(20)] + [(99, 80)]
    d = spark.createDataFrame(rows, "doc_id long, w long").select(
        "doc_id",
        "w",
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
        value_col="w",
        cumsum_col="cum",
    )
    g = d.agg(F.sum("w").cast("bigint").alias("tw"))
    out = {
        r["doc_id"]: r["mult"]
        for r in c.crossJoin(F.broadcast(g))
        .select(
            "doc_id",
            F.expr(
                f"CAST(({2 * k} * cum + tw - 1) div (2 * tw)"
                f" - ({2 * k} * (cum - w) + tw - 1) div (2 * tw) AS BIGINT)"
            ).alias("mult"),
        )
        .filter(F.col("mult") >= 1)
        .collect()
    }
    assert sum(out.values()) == k  # conservation
    assert out[99] in (8, 9)  # the whale owns ~ w*k/W = 8 midpoints
    assert all(m == 1 for d_, m in out.items() if d_ != 99)


def test_q267_reruns_in_one_session(spark):
    """q267 drops and rewrites its bucketed tables per call — two
    back-to-back runs in one session must both succeed and agree
    (the overwrite/DROP path, which a single gate pass never hits)."""
    a = {
        r["segment"]: (r["n_orders"], r["sum_total_c"])
        for r in QUERIES["q267_bucketed_colocated_join"](spark, SF).collect()
    }
    b = {
        r["segment"]: (r["n_orders"], r["sum_total_c"])
        for r in QUERIES["q267_bucketed_colocated_join"](spark, SF).collect()
    }
    assert a == b and len(a) >= 2


@pytest.mark.slow
def test_q275_scd2_invariants(spark):
    """SCD2 contract, replayed from the raw events: (a) per-user
    version intervals PARTITION [first_purchase, inf) — no overlap, no
    gap, exactly one current version per user with purchases; (b) every
    click lands in exactly one bucket (attributed tier or -1), so
    click counts and cents are conserved across the output."""
    from spark_lakehouse_medallion_pipeline_spark.sources.io import read_events

    ev = read_events(spark, SF).toPandas()
    pur = ev[ev.event_type == "purchase"].sort_values(["user_id", "ts", "event_id"])
    clk = ev[ev.event_type == "click"]

    rows = QUERIES["q275_scd2_dimension_history"](spark, SF).collect()
    n_users_with_purchases = pur.user_id.nunique()
    assert sum(r["n_current"] for r in rows) == n_users_with_purchases
    assert sum(r["n_versions"] for r in rows) == len(pur)
    assert sum(r["n_clicks"] for r in rows) == len(clk)
    assert sum(r["sum_click_cents"] for r in rows) == int(
        round(clk.value * 100).sum()
    )
    # per-user partition property, replayed directly: intervals are
    # [ts_i, ts_{i+1}) by construction, so adjacency/non-overlap holds
    # exactly when each user's purchase timestamps are non-decreasing
    for _uid, g in pur.groupby("user_id"):
        ts = list(g.ts)
        assert ts == sorted(ts)
    # the unattributed bucket is exactly clicks before first purchase
    first_pur = pur.groupby("user_id").ts.min()
    pre = clk.merge(
        first_pur.rename("fp"), left_on="user_id", right_index=True, how="left"
    )
    n_unattr = int(((pre.fp.isna()) | (pre.ts < pre.fp)).sum())
    got_unattr = next((r["n_clicks"] for r in rows if r["tier"] == -1), 0)
    assert got_unattr == n_unattr


def test_q276_overlap_blocking_complete(spark, tmp_path):
    """Bucketed-overlap blocking completeness: a brute-force pandas
    BETWEEN join (no blocking) over sf0.001 must agree with the
    bucket-blocked query per interval — every overlapping pair found,
    none double-counted across the buckets an interval spans. The
    zero-match retention contract (left join keeps windows with no
    overlapping ship rows) is tested for REAL on a starved copy of the
    tables, because sf0.001 happens to contain no zero-match window."""
    import pandas as pd

    li = spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()
    od = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    epoch = pd.Timestamp("1992-01-01")
    iv = od[od.o_orderkey % 100 == 0].assign(
        s_day=lambda d: (d.o_orderdate.dt.normalize() - epoch).dt.days,
        n_days=lambda d: (d.o_orderkey // 100) % 28 + 1,
    )
    pts = li.assign(
        p_day=(li.l_shipdate.dt.normalize() - epoch).dt.days,
        price_c=(li.l_extendedprice * 100).round().astype("int64"),
    )
    want = {}
    for _, r in iv.iterrows():
        m = pts[(pts.p_day >= r.s_day) & (pts.p_day <= r.s_day + r.n_days)]
        want[int(r.o_orderkey)] = (len(m), int(m.price_c.sum()))
    got = {
        r["iid"]: (r["n_ship_rows"], r["sum_ship_cents"])
        for r in QUERIES["q276_interval_overlap_join"](spark, SF).collect()
    }
    assert got == want
    # zero-match retention: starve ONE interval of all its ship rows and
    # re-run the query on the filtered copy — the window must survive
    # the left join with exact zeros, not vanish
    starve = iv.iloc[0]
    keep = ~((pts.p_day >= starve.s_day) & (pts.p_day <= starve.s_day + starve.n_days))
    # pandas defaults to TIMESTAMP(NANOS), which Spark's parquet reader
    # rejects — coerce to microseconds on write
    od.to_parquet(tmp_path / "orders.parquet", coerce_timestamps="us")
    li[keep.values].to_parquet(
        tmp_path / "lineitem.parquet", coerce_timestamps="us"
    )
    got2 = {
        r["iid"]: (r["n_ship_rows"], r["sum_ship_cents"])
        for r in QUERIES["q276_interval_overlap_join"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got2[int(starve.o_orderkey)] == (0, 0)
    assert set(got2) == set(want)  # every window retained


def test_q277_dense_rank_ties_replay(spark):
    """WITH-TIES semantics replayed in pandas: the kept set per nation
    is every customer whose order count is among the top-3 DISTINCT
    counts; ties make n_kept_ties >= the row-number budget."""
    li_od = spark.read.parquet(f"{SF}/orders.parquet").toPandas()
    cu = spark.read.parquet(f"{SF}/customer.parquet").toPandas()
    cnt = (
        li_od.groupby("o_custkey").size().rename("n_orders").reindex(
            cu.c_custkey, fill_value=0
        )
    )
    cu = cu.assign(n_orders=cnt.values)
    rows = {r["nation"]: r for r in QUERIES["q277_topk_with_ties"](spark, SF).collect()}
    na = spark.read.parquet(f"{SF}/nation.parquet").toPandas()
    nk2name = dict(zip(na.n_nationkey, na.n_name))
    for nk, g in cu.groupby("c_nationkey"):
        top_vals = sorted(g.n_orders.unique(), reverse=True)[:3]
        kept = g[g.n_orders.isin(top_vals)]
        r = rows[nk2name[nk]]
        assert r["n_kept_ties"] == len(kept)
        assert r["n_kept_rownum"] == min(3, len(g))
        assert r["n_tie_surplus"] == len(kept) - min(3, len(g))
        assert r["kth_count"] == min(top_vals)
        assert r["top_count"] == max(top_vals)
        assert r["sum_orders_kept"] == int(kept.n_orders.sum())
        assert r["n_customers"] == len(g)


@pytest.mark.slow
def test_q278_matches_q270_prediction(spark):
    """The VERDICT r11 Next #6 'Done' criterion: the audit over the
    ACTUAL written files (footer row counts + min/max) must match
    q270's simulated-zone prediction row for row — same zoning math,
    now measured on disk. Binding regime: q278's zone size equals
    q270's fixed _Q270_ZONE_ROWS until |rows| exceeds
    zone_rows * _Q278_TARGET_FILES (= 1.28M), past which q278 grows
    zones to cap the file count (and the driver footer walk) — every
    tested sf (up to sf0.1's ~600k lineitem rows) is inside the
    matching regime, so this equality stays exact."""
    pred = {
        r["layout"]: r.asDict()
        for r in QUERIES["q270_zonemap_skipping_audit"](spark, SF).collect()
    }
    real = {
        r["layout"]: r.asDict()
        for r in QUERIES["q278_sorted_write_zonemap"](spark, SF).collect()
    }
    assert set(pred) == set(real) == {"natural", "sorted"}
    for layout in ("natural", "sorted"):
        p, q = pred[layout], real[layout]
        assert q["footer_verified"] == 1
        assert q["n_files"] == p["n_zones"]
        assert q["n_skipped_files"] == p["n_skipped_zones"]
        assert q["rows_scanned"] == p["rows_scanned"]
        assert q["rows_matched"] == p["rows_matched"]
        assert q["false_positive_rows"] == p["false_positive_rows"]
        assert q["skip_ratio_e6"] == p["skip_ratio_e6"]
    # the whole point — sorted-on-write skips, natural doesn't — needs
    # more than one zone to show; at sf0.001 the whole table fits one
    # 10k-row zone (both ratios 0), so the strict inequality only binds
    # when zones exist (it's also visible in the sf0.01/sf0.1 oracle
    # gate values)
    if real["sorted"]["n_files"] > 1:
        assert real["sorted"]["skip_ratio_e6"] > real["natural"]["skip_ratio_e6"]


def test_q279_morton_bit_math(spark):
    """The Morton interleave must equal python's reference bit
    interleave on the FULL 8-bit x 8-bit grid (65,536 pairs) — pins
    the per-dialect shift spelling — and the audit's totals must
    reconcile: rows_matched is layout-invariant, scanned+skipped rows
    cover the table."""
    from pyspark.sql import functions as F

    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES
    from spark_lakehouse_medallion_pipeline_spark.queries.layout import _q279_morton_sql

    def ref_morton(d1: int, d2: int) -> int:
        m = 0
        for i in range(8):
            m |= ((d1 >> i) & 1) << (2 * i + 1)
            m |= ((d2 >> i) & 1) << (2 * i)
        return m

    grid = spark.range(65536).select(
        (F.col("id") / 256).cast("bigint").alias("d1"),
        (F.col("id") % 256).cast("bigint").alias("d2"),
    )
    got = grid.withColumn(
        "m", F.expr(_q279_morton_sql("d1", "d2", "spark"))
    ).collect()
    for r in got:
        assert r["m"] == ref_morton(r["d1"], r["d2"])

    rows = {
        (r["layout"], r["predicate"]): r
        for r in QUERIES["q279_zorder_interleave_audit"](spark, SF).collect()
    }
    assert len(rows) == 4
    for pred in ("day_ge_224", "part_band_112_143"):
        a, b = rows[("sorted_day", pred)], rows[("zorder", pred)]
        assert a["rows_matched"] == b["rows_matched"], "skipping changed answers"
        for r in (a, b):
            assert r["false_positive_rows"] >= 0
            assert r["n_skipped_zones"] <= r["n_zones"]


def test_q280_watermark_replay(spark):
    """Pandas replay of the exact watermark rule (exclusive running max
    of event time over arrival order, minus delay) for all three
    delays — the streaming-semantics witness besides the oracle."""
    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES
    from spark_lakehouse_medallion_pipeline_spark.queries.streaming import (
        _Q280_DELAYS_S,
    )
    from spark_lakehouse_medallion_pipeline_spark.sources.io import read_events

    pdf = (
        read_events(spark, SF)
        .selectExpr(
            "event_id",
            "unix_micros(ts) AS ts_us",
            "unix_micros(ts) + (event_id % 7) * 60000000 AS arr_us",
        )
        .toPandas()
        .sort_values(["arr_us", "event_id"])
    )
    wm = pdf.ts_us.cummax().shift(1)
    got = {
        r["delay_s"]: r
        for r in QUERIES["q280_watermark_late_data_audit"](spark, SF).collect()
    }
    assert set(got) == set(_Q280_DELAYS_S)
    for delay in _Q280_DELAYS_S:
        late = pdf.ts_us < wm - delay * 1_000_000
        r = got[delay]
        assert r["n_events"] == len(pdf)
        assert r["n_late"] == int(late.sum())
        assert r["late_ratio_e6"] == (1_000_000 * int(late.sum())) // len(pdf)
        if late.any():
            assert r["max_lateness_us"] == int(
                (wm[late] - delay * 1_000_000 - pdf.ts_us[late]).max()
            )
            assert r["n_hours_with_drops"] == int(
                (pdf.ts_us[late] // 3_600_000_000).nunique()
            )
        else:
            assert r["max_lateness_us"] == 0 and r["n_hours_with_drops"] == 0
    # monotone: a larger delay never drops more events
    ds = sorted(_Q280_DELAYS_S)
    assert all(
        got[ds[i]]["n_late"] >= got[ds[i + 1]]["n_late"] for i in range(len(ds) - 1)
    )


def test_q281_scd2_merge_properties(spark):
    """Beyond the oracle's incremental==rebuild hash proof: (a) the
    merge only ever CLOSES base rows, never edits history (every
    closed-base row's eff_from/tier exists verbatim in the q275-style
    pre-cutoff build); (b) exactly one current row per user; (c) the
    close-out timestamp of a crossing user equals that user's first
    post-cutoff change."""
    import pandas as pd

    from spark_lakehouse_medallion_pipeline_spark.sources.io import read_events

    cutoff = pd.Timestamp("2024-01-25")
    ev = read_events(spark, SF).toPandas()
    pur = ev[ev.event_type == "purchase"].sort_values(["user_id", "ts", "event_id"])

    rows = QUERIES["q281_scd2_incremental_merge"](spark, SF).collect()
    per_user_current = {}
    for r in rows:
        if r["is_current"] == 1:
            per_user_current[r["user_id"]] = per_user_current.get(r["user_id"], 0) + 1
    assert set(per_user_current.values()) == {1}
    assert set(per_user_current) == set(pur.user_id.unique())
    assert len(rows) == len(pur)

    first_delta = pur[pur.ts >= cutoff].groupby("user_id").ts.min()
    last_base = pur[pur.ts < cutoff].groupby("user_id").ts.max()
    crossing = set(first_delta.index) & set(last_base.index)
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for uid in crossing:
        vs = sorted(by_user[uid], key=lambda r: r["eff_from"])
        base_tail = [v for v in vs if pd.Timestamp(v["eff_from"]) < cutoff][-1]
        assert pd.Timestamp(base_tail["eff_to"]) == first_delta[uid]


def test_q282_divergence_exactly_planted(spark):
    """The reconciliation audit must recover EXACTLY the planted
    defects — no false rows in either direction — and the rescan must
    be a small fraction of the table (the audit's entire value)."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()
    n_drop = int((li.l_orderkey % 997 == 0).sum())
    n_corr = int(((li.l_orderkey % 991 == 1) & (li.l_orderkey % 997 != 0)).sum())
    r = QUERIES["q282_replica_divergence_audit"](spark, SF).collect()[0]
    assert r["n_rows_only_a"] == n_drop
    assert r["n_rows_only_b"] == 0
    assert r["n_rows_value_diff"] == n_corr
    assert r["n_rows_a"] == len(li)
    assert r["n_rows_b"] == len(li) - n_drop
    assert r["n_diverged"] <= n_drop + n_corr  # <= distinct buckets hit
    assert r["rescan_ratio_e6"] < 250_000, "rescan should be divergence-bounded"


def test_q283_vote_exactly_planted(spark):
    """The 3-way vote must name exactly the planted minorities: r2's
    drops and corruptions, r3's drops and corruptions, zero no-quorum
    keys (the defect classes are disjoint at these keyspaces), and r1
    (the clean copy) never outvoted."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()
    ok = li.l_orderkey
    n_drop_r2 = int((ok % 997 == 0).sum())
    n_corr_r2 = int(((ok % 991 == 1) & (ok % 997 != 0)).sum())
    n_drop_r3 = int((ok % 1009 == 3).sum())
    n_corr_r3 = int(((ok % 983 == 2) & (ok % 1009 != 3)).sum())
    r = QUERIES["q283_majority_vote_repair"](spark, SF).collect()[0]
    assert r["n_keys"] == len(li)
    assert r["n_missing_r1"] == 0 and r["n_outvoted_r1"] == 0
    assert r["n_missing_r2"] == n_drop_r2
    assert r["n_outvoted_r2"] == n_corr_r2
    assert r["n_missing_r3"] == n_drop_r3
    assert r["n_outvoted_r3"] == n_corr_r3
    assert r["n_no_quorum"] == 0
    assert (
        r["n_full_agree"]
        == len(li) - n_drop_r2 - n_corr_r2 - n_drop_r3 - n_corr_r3
    )
    assert r["n_majority_2of3"] == len(li) - r["n_full_agree"]


def test_q284_sortedness_replay(spark):
    """Pandas replay of the adjacent-inversion counts for all three
    layouts, plus the binding facts: 'sorted' has exactly 0 inversions
    (the post-write certificate), natural has many, month_clustered
    sits strictly between."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()
    li = li.assign(sd=li.l_shipdate.dt.normalize())
    got = {r["layout"]: r for r in QUERIES["q284_sortedness_audit"](spark, SF).collect()}

    def inv(df):
        s = df.sd.reset_index(drop=True)
        return int((s.shift(1) > s).sum())

    nat = li.sort_values(["l_orderkey", "l_linenumber"])
    srt = li.sort_values(["sd", "l_orderkey", "l_linenumber"])
    mon = li.assign(sm=li.sd.values.astype("datetime64[M]")).sort_values(
        ["sm", "l_orderkey", "l_linenumber"]
    )
    for layout, df in (("natural", nat), ("sorted", srt), ("month_clustered", mon)):
        r = got[layout]
        assert r["n_rows"] == len(li)
        assert r["n_adjacent_inversions"] == inv(df), layout
        assert r["n_monotone_runs"] == inv(df) + 1
    assert got["sorted"]["n_adjacent_inversions"] == 0
    assert (
        0
        < got["month_clustered"]["n_adjacent_inversions"]
        < got["natural"]["n_adjacent_inversions"]
    )


@pytest.mark.slow
def test_q285_streaming_simulation_replay(spark):
    """q285's batch formulas vs a TRUE streaming simulation: iterate
    the union of both streams in arrival order, maintain per-stream
    watermark bases, drop late rows, EVICT expired state before each
    match, and emit pairs at the later arrival. Asserts (a) the
    simulation's emitted pairs / cents / end-state sizes equal the
    query's columns for every delay — so the eviction theorem the
    docstring claims (inner-join eviction never loses an on-time pair)
    holds on this data by construction, and (b) the conservation
    identity emitted + lost_late == total."""
    from spark_lakehouse_medallion_pipeline_spark.queries.streaming import (
        _Q280_DELAYS_S,
        _Q285_JOIN_WINDOW_S,
    )
    from spark_lakehouse_medallion_pipeline_spark.sources.io import read_events

    US = 1_000_000
    W = _Q285_JOIN_WINDOW_S * US
    ev = read_events(spark, SF).toPandas()
    ev = ev[ev.event_type.isin(["click", "purchase"])].copy()
    ev["ts_us"] = ev.ts.astype("int64") // 1000  # ns -> us
    ev["arr_us"] = ev.ts_us + (ev.event_id % 7) * 60_000_000
    ev["val_c"] = (ev.value * 100).round().astype("int64")
    rows = ev.sort_values(["arr_us", "event_id"]).itertuples(index=False)
    rows = list(rows)

    got = {
        r["delay_s"]: r.asDict()
        for r in QUERIES["q285_stream_stream_interval_join"](spark, SF).collect()
    }
    for delay in _Q280_DELAYS_S:
        wma = wmb = None
        click_state: list[tuple[int, int]] = []  # (user_id, ts_us)
        pur_state: list[tuple[int, int, int]] = []  # (user_id, ts_us, val_c)
        emitted_cents, n_emitted = 0, 0
        for r in rows:
            gwm = (
                None
                if wma is None or wmb is None
                else min(wma, wmb) - delay * US
            )
            is_late = gwm is not None and r.ts_us < gwm
            if not is_late:
                if gwm is not None:
                    click_state = [s for s in click_state if s[1] + W >= gwm]
                    pur_state = [s for s in pur_state if s[1] >= gwm]
                if r.event_type == "click":
                    for u, pts, pval in pur_state:
                        if u == r.user_id and r.ts_us <= pts <= r.ts_us + W:
                            n_emitted += 1
                            emitted_cents += pval
                    click_state.append((r.user_id, r.ts_us))
                else:
                    for u, cts in click_state:
                        if u == r.user_id and cts <= r.ts_us <= cts + W:
                            n_emitted += 1
                            emitted_cents += r.val_c
                    pur_state.append((r.user_id, r.ts_us, r.val_c))
            if r.event_type == "click":
                wma = r.ts_us if wma is None else max(wma, r.ts_us)
            else:
                wmb = r.ts_us if wmb is None else max(wmb, r.ts_us)
        g = got[delay]
        assert g["n_pairs_emitted"] == n_emitted, delay
        assert g["sum_emitted_cents"] == emitted_cents, delay
        assert g["n_pairs_total"] == g["n_pairs_emitted"] + g["n_pairs_lost_late"]
        # end-of-stream resident state
        gend = min(wma, wmb) - delay * US
        click_state = [s for s in click_state if s[1] + W >= gend]
        pur_state = [s for s in pur_state if s[1] >= gend]
        assert g["n_state_clicks_end"] == len(click_state), delay
        assert g["n_state_purchases_end"] == len(pur_state), delay


def test_q286_salted_equals_unsalted_replay(spark):
    """q286's salted==unsalted equality, replayed in pandas with NO
    salting at all (an engine-independent third opinion beside the
    DuckDB oracle): brute-force the skewed join + group-by and compare
    every output column. Also pins the skew premise — the hot key must
    actually dominate (>=80% of lineitem rows land on skew_key 0)."""
    li = spark.read.parquet(f"{SF}/lineitem.parquet").toPandas()
    pa = spark.read.parquet(f"{SF}/part.parquet").toPandas()
    li["sk"] = li.l_partkey % 200
    li.loc[li.l_orderkey % 10 < 9, "sk"] = 0
    li["price_c"] = (li.l_extendedprice * 100).round().astype("int64")
    li["qty"] = li.l_quantity.astype("int64")
    pa["sk"] = pa.p_partkey % 200
    pa["retail_c"] = (pa.p_retailprice * 100).round().astype("int64")
    d = pa.groupby("sk").agg(
        n_parts=("sk", "size"), min_retail_c=("retail_c", "min")
    )
    j = li.merge(d, left_on="sk", right_index=True, how="inner")
    want = {
        int(sk): (
            len(g),
            int(g.price_c.sum()),
            int(g.qty.sum()),
            int(g.n_parts.iloc[0]),
            int(g.min_retail_c.iloc[0]),
        )
        for sk, g in j.groupby("sk")
    }
    got = {
        r["skew_key"]: (
            r["n_li"],
            r["sum_price_c"],
            r["sum_qty"],
            r["n_parts"],
            r["min_retail_c"],
        )
        for r in QUERIES["q286_salted_skew_join"](spark, SF).collect()
    }
    assert got == want
    hot = got[0][0]
    assert hot >= 0.8 * sum(v[0] for v in got.values())


def test_q287_compaction_execute_replay(spark):
    """q287's binpack + rewrite, replayed brute-force in pandas AND
    checked on the filesystem: (a) the per-bin plan (input files, docs,
    bytes, doc_id checksum, bucket span) must equal a sequential
    first-fit replay of the prefix-sum math; (b) on disk, the before
    layout holds exactly one parquet file per micro-file and the after
    layout exactly one per bin — the file-count reduction IS the
    compaction; (c) total docs and checksums conserve."""
    import glob
    import os
    import tempfile

    from spark_lakehouse_medallion_pipeline_spark.queries.layout import _Q287_BIN_BYTES

    docs = spark.read.parquet(f"{SF}/documents.parquet").toPandas()
    docs["m"] = docs.doc_id // 16
    inv = (
        docs.groupby("m")
        .agg(
            bytes=("n_chars", "sum"),
            n_docs=("doc_id", "size"),
            sum_docid=("doc_id", "sum"),
        )
        .sort_index()
    )
    want: dict[int, list[int]] = {}
    pre = 0
    for m, r in inv.iterrows():
        b = pre // _Q287_BIN_BYTES
        if b not in want:
            want[b] = [0, 0, 0, 0, int(m), int(m)]
        want[b][0] += 1
        want[b][1] += int(r.n_docs)
        want[b][2] += int(r.bytes)
        want[b][3] += int(r.sum_docid)
        want[b][5] = int(m)
        pre += int(r.bytes)
    rows = QUERIES["q287_compaction_execute"](spark, SF).collect()
    got = {
        r["bin_id"]: [
            r["n_input_files"],
            r["n_docs"],
            r["bin_bytes"],
            r["sum_docid"],
            r["first_m"],
            r["last_m"],
        ]
        for r in rows
    }
    assert got == want
    assert sum(v[1] for v in got.values()) == len(docs)
    assert sum(v[3] for v in got.values()) == int(docs.doc_id.sum())
    # on-disk layout: one file per micro-file before, one per bin after
    tag = os.path.basename(SF.rstrip("/"))
    app = spark.sparkContext.applicationId
    base = os.path.join(_scratch_root(), f"spark_graft_q287_{tag}_{app}")
    bdirs = glob.glob(os.path.join(base, "before", "m=*"))
    adirs = glob.glob(os.path.join(base, "after", "bin_id=*"))
    assert len(bdirs) == len(inv)
    assert len(adirs) == len(got)
    for d in bdirs + adirs:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, d
    assert len(adirs) < len(bdirs)  # compaction reduced the file count


def test_parquet_footer_stats_matches_driver_walk(spark, tmp_path):
    """The executor-side footer walk must report exactly what a
    driver-side pyarrow walk reports, file for file, and must list
    only parquet files (no _SUCCESS markers)."""
    import glob

    import pyarrow.parquet as pq

    from spark_lakehouse_medallion_pipeline_spark.sources.io import (
        parquet_footer_stats,
    )

    p = str(tmp_path / "t")
    spark.range(1000).selectExpr("id", "id % 7 AS k").repartition(
        4
    ).write.parquet(p)
    got = {
        r["path"].removeprefix("file:"): (r["n_rows"], r["n_row_groups"])
        for r in parquet_footer_stats(spark, p).collect()
    }
    files = sorted(glob.glob(p + "/*.parquet"))
    assert set(got) == set(files)
    for f in files:
        md = pq.ParquetFile(f).metadata
        assert got[f] == (md.num_rows, md.num_row_groups)


def test_q288_bloom_replay_and_no_false_negatives(spark):
    """q288's bloom build + probe, replayed brute-force in python
    (hashlib md5 — fully independent of both engines' SQL): per-zone
    bit sets from the same salted hashes must reproduce every probe's
    bloom_pass count, and the STRUCTURAL bloom guarantee must hold —
    zero false negatives (every zone that actually contains the key
    passes its bloom), so n_bloom_pass >= n_actual_zones row for row
    and n_false_positive_zones is never negative."""
    import hashlib

    from spark_lakehouse_medallion_pipeline_spark.queries.layout import (
        _Q270_ZONE_ROWS,
        _Q288_BITS,
        _Q288_PROBES,
        _Q288_SALTS,
    )

    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_partkey", "l_orderkey", "l_linenumber", "l_shipdate")
        .toPandas()
    )
    li["sd"] = li.l_shipdate.dt.normalize()
    li = li.sort_values(["sd", "l_orderkey", "l_linenumber"]).reset_index(
        drop=True
    )
    li["z"] = li.index // _Q270_ZONE_ROWS

    def pos(salt: str, key: int) -> int:
        h = hashlib.md5(f"{salt}{key}".encode()).hexdigest()
        return int(h[17:32], 16) % _Q288_BITS

    zones = sorted(li.z.unique())
    blooms = {z: set() for z in zones}
    zkeys = {z: set(g.l_partkey) for z, g in li.groupby("z")}
    for z, keys in zkeys.items():
        for k in keys:
            for s in _Q288_SALTS:
                blooms[z].add(pos(s, int(k)))
    maxpk = int(li.l_partkey.max())
    rows = {
        r["probe_id"]: r.asDict()
        for r in QUERIES["q288_bloom_zone_pruning"](spark, SF).collect()
    }
    assert len(rows) == _Q288_PROBES
    for i in range(_Q288_PROBES):
        key = 1 + (i * 104729) % (2 * maxpk)
        want_pass = sum(
            1
            for z in zones
            if all(pos(s, key) in blooms[z] for s in _Q288_SALTS)
        )
        want_actual = sum(1 for z in zones if key in zkeys[z])
        g = rows[i]
        assert g["probe_key"] == key, i
        assert g["n_zones"] == len(zones), i
        assert g["n_bloom_pass"] == want_pass, i
        assert g["n_actual_zones"] == want_actual, i
        # the bloom guarantee: no false negatives, FP count non-negative
        assert g["n_bloom_pass"] >= g["n_actual_zones"], i
        assert g["n_false_positive_zones"] == want_pass - want_actual, i


def test_q289_outer_join_conservation_and_q285_consistency(spark):
    """q289's click classification must conserve (kept = matched +
    null_emitted + pending, per delay) and its pair count must equal
    q285's n_pairs_emitted column delay for delay — the inner and
    outer replays share one emission rule, so a divergence means one
    of them drifted. Also pins the semantics that distinguish the
    outer join from batch: pending > 0 or null_emitted > 0 must hold
    whenever unmatched on-time clicks exist at all."""
    inner = {
        r["delay_s"]: r.asDict()
        for r in QUERIES["q285_stream_stream_interval_join"](spark, SF).collect()
    }
    outer = {
        r["delay_s"]: r.asDict()
        for r in QUERIES["q289_stream_outer_join_timing"](spark, SF).collect()
    }
    assert set(inner) == set(outer)
    for d, o in outer.items():
        assert (
            o["n_clicks_kept"]
            == o["n_matched_clicks"] + o["n_null_emitted"] + o["n_pending_end"]
        ), d
        assert o["n_pairs_emitted"] == inner[d]["n_pairs_emitted"], d
        assert o["n_clicks_kept"] == inner[d]["n_clicks_kept"], d
        unmatched = o["n_clicks_kept"] - o["n_matched_clicks"]
        if unmatched:
            assert o["n_null_emitted"] + o["n_pending_end"] == unmatched, d


def test_q292_emission_simulation_and_q20_crosspin(spark):
    """q292's batch emission formulas vs a TRUE arrival-order
    simulation: iterate rows in arrival order, maintain the exclusive
    prefix-max watermark, drop late rows, bucket accepted rows into
    1-hour windows, and finalize exactly the windows whose end the
    final watermark passed. Every column must match per delay. Then
    the cross-entry pin: at the 600 s delay nothing in this corpus is
    late (max disorder is 6 min), so q292's totals must equal q20's
    batch rollup — same window count, same kept-event count."""
    from spark_lakehouse_medallion_pipeline_spark.queries.streaming import (
        _Q280_DELAYS_S,
        _Q292_WIN_US,
    )
    from spark_lakehouse_medallion_pipeline_spark.sources.io import read_events

    US = 1_000_000
    ev = read_events(spark, SF).toPandas()
    ev["ts_us"] = ev.ts.astype("int64") // 1000
    ev["arr_us"] = ev.ts_us + (ev.event_id % 7) * 60_000_000
    ev["val_c"] = (ev.value * 100).round().astype("int64")
    rows = list(
        ev.sort_values(["arr_us", "event_id"]).itertuples(index=False)
    )
    got = {
        r["delay_s"]: r.asDict()
        for r in QUERIES["q292_stream_window_emission_timing"](
            spark, SF
        ).collect()
    }
    gend = max(r.ts_us for r in rows)
    for delay in _Q280_DELAYS_S:
        wm = None
        kept: dict[int, list[int]] = {}  # wst -> [n, cents]
        n_dropped = 0
        for r in rows:
            late = wm is not None and r.ts_us < wm - delay * US
            if late:
                n_dropped += 1
            else:
                st = kept.setdefault(r.ts_us // _Q292_WIN_US, [0, 0])
                st[0] += 1
                st[1] += r.val_c
            wm = r.ts_us if wm is None else max(wm, r.ts_us)
        fin_wm = gend - delay * US
        emitted = {w for w in kept if (w + 1) * _Q292_WIN_US <= fin_wm}
        g = got[delay]
        assert g["n_windows_total"] == len(kept), delay
        assert g["n_windows_emitted"] == len(emitted), delay
        assert g["n_windows_open"] == len(kept) - len(emitted), delay
        assert g["n_events_kept"] == sum(s[0] for s in kept.values()), delay
        assert g["n_events_in_emitted"] == sum(
            kept[w][0] for w in emitted
        ), delay
        assert g["n_events_pending"] == sum(
            s[0] for w, s in kept.items() if w not in emitted
        ), delay
        assert g["sum_emitted_cents"] == sum(
            kept[w][1] for w in emitted
        ), delay
        assert g["n_events_dropped_late"] == n_dropped, delay
    # cross-pin vs q20's batch rollup at the nothing-is-late delay
    q20 = QUERIES["q20_hourly_tumbling"](spark, SF).collect()
    g600 = got[600]
    assert g600["n_events_dropped_late"] == 0
    assert g600["n_windows_total"] == len(q20)
    assert g600["n_events_kept"] == sum(r["n_events"] for r in q20)
    assert (
        g600["n_events_in_emitted"] + g600["n_events_pending"]
        == g600["n_events_kept"]
    )


def test_q293_skew_split_pinned_and_invisible(spark):
    """q293's rescue must ACTUALLY split: under thresholds scaled to
    this SF, the adaptive final plan carries the skew=true SMJ marker
    (split count > 0 — VERDICT r13 Next #3's pin), and the rescued
    values must equal q286's salted result key-for-key — three routes
    (manual salt, AQE split, plain oracle) into one answer."""
    from spark_lakehouse_medallion_pipeline_spark.queries.adaptive import (
        _Q293_CONFS,
        _q293_frame,
    )

    confs = dict(
        _Q293_CONFS,
        **{
            # sf0.001's hot partition is ~36KB — scale the forced
            # thresholds down so the rule engages here too
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4096",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2048",
        },
    )
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = _q293_frame(spark, SF)
        rescued = {r["skew_key"]: tuple(r) for r in df.collect()}
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert plan.count("skew=true") > 0, plan[:2000]
    salted = {
        r["skew_key"]: tuple(r)
        for r in QUERIES["q286_salted_skew_join"](spark, SF).collect()
    }
    assert rescued == salted


@pytest.mark.slow
def test_q291_crash_recovery_counters(spark):
    """q291 end-to-end at test SF: the crash/restart machinery must
    report exactly the designed ledger (3 commits then a 4-entry
    offset WAL in run 1, full 12-commit drain with exactly one
    replayed batch in run 2) and the exactly-once corpus (6000 rows
    across 4 shards). The in-query ValueError gates cover the
    invariants; this pins the measured columns end-to-end from a
    clean scratch dir."""
    rows = QUERIES["q291_stream_crash_recovery"](spark, SF).collect()
    assert len(rows) == 4
    assert sum(r["n"] for r in rows) == 6000
    for r in rows:
        assert r["n_commits_run1"] == 3
        assert r["n_offsets_run1"] == 4
        assert r["n_commits_total"] == 12
        assert r["n_replayed_batches"] == 1


_CONF_ENTRY_KEYS = [
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.adaptive.forceOptimizeSkewedJoin",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.optimizeSkewsInRebalancePartitions.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.scripting.enabled",
    "spark.sql.shuffle.partitions",
]


def _cached_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def test_q293_q297_conf_restoration(spark):
    """The six conf-changing entries (q122 scripting, q293 skew split,
    q294 coalescing, q295 rebalance, q296 stream state partitions, q297
    broadcast conversion) must leave the caller's session EXACTLY as
    they found it — a leaked threshold or advisory size would silently
    change every later query's plans in a shared gate/bench session.
    The cache-pinning entries (q33's MinHash signatures, q250's three
    composed ranks) must add nothing to the session's CacheManager."""
    before = {k: spark.conf.get(k, None) for k in _CONF_ENTRY_KEYS}
    for name in (
        "q122_sql_script",
        "q293_aqe_skew_join_rescue",
        "q294_aqe_partition_coalescing",
        "q295_rebalance_write_rescue",
        "q296_stateful_stream_state_recovery",
        "q297_aqe_broadcast_conversion",
    ):
        QUERIES[name](spark, SF).collect()
        after = {k: spark.conf.get(k, None) for k in _CONF_ENTRY_KEYS}
        assert after == before, name
    cached = _cached_entries(spark)
    for name in ("q33_minhash_candidates", "q250_rfm_scores"):
        QUERIES[name](spark, SF).collect()
        assert _cached_entries(spark) == cached, name


_SQL_TEXT_ENTRIES = (
    "q26_grouping_sets_sql",
    "q49_sql_surface",
    "q56_correlated_subqueries",
    "q62_last_shipper_per_order",
    "q64_lateral_topk_per_nation",
    "q65_udtf_tokenize",
    "q108_monthly_order_spine",
    "q131_sql_sugar",
    "q132_parameterized_sql",
    "q138_sql_udf_listagg",
    "q147_collation_battery",
)


def test_sql_entries_leave_no_temp_views(spark):
    """The entries that run SQL text through spark.sql bind their tables
    as frames: no temp view outlives the call, and a caller's view that
    shares a table's name is neither read nor replaced."""

    def temp_views() -> list[str]:
        return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)

    spark.range(1).createOrReplaceTempView("orders")
    try:
        before = temp_views()
        for name in _SQL_TEXT_ENTRIES:
            QUERIES[name](spark, SF).collect()
            assert temp_views() == before, name
        assert spark.table("orders").columns == ["id"]
    finally:
        spark.catalog.dropTempView("orders")


def test_entries_on_threads_match_serial(spark):
    """Two or more queries running at once in one SparkContext must give
    their serial answers: rank pins are per-frame (no shared registry
    to evict another query's pin) and conf overrides live on each
    entry's own session (no window where another query plans under
    them). Afterwards the caller's conf and cache state are unchanged."""
    from concurrent.futures import ThreadPoolExecutor

    names = [
        "q250_rfm_scores",
        "q33_minhash_candidates",
        "q67_dedup_clusters",
        "q294_aqe_partition_coalescing",
        "q297_aqe_broadcast_conversion",
    ]

    def run(name):
        return sorted(map(tuple, QUERIES[name](spark, SF).collect()))

    serial = {name: run(name) for name in names}
    conf_before = {k: spark.conf.get(k, None) for k in _CONF_ENTRY_KEYS}
    cached = _cached_entries(spark)
    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        futures = {name: pool.submit(run, name) for name in names}
        threaded = {name: f.result(timeout=600) for name, f in futures.items()}
    for name in names:
        assert threaded[name] == serial[name], name
    assert {k: spark.conf.get(k, None) for k in _CONF_ENTRY_KEYS} == conf_before
    assert _cached_entries(spark) == cached


def test_q297_conversion_markers(spark):
    """q297's two-plan story, re-captured independently: under the
    forced-low threshold the pre-adaptive plan must choose SMJ and the
    executed adaptive plan must carry BroadcastHashJoin — the runtime
    conversion observed, not assumed. (The entry itself ValueError-
    gates the same pair; this pins it against regressions in how the
    plans are captured.)"""
    from spark_lakehouse_medallion_pipeline_spark.queries.adaptive import (
        _Q297_THRESHOLD,
    )

    import pyspark.sql.functions as F

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, str(_Q297_THRESHOLD))
        o = spark.read.parquet(f"{SF}/orders.parquet")
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        dim = o.groupBy((F.col("o_custkey") % 100).alias("ck")).count()
        j = li.select((F.col("l_orderkey") % 100).alias("ck")).join(dim, "ck")
        pre = j._jdf.queryExecution().sparkPlan().toString()
        # collect THIS df (a separate .count() would execute a different
        # QueryExecution and leave this one's adaptive plan unfinalized)
        n = len(j.collect())
        post = j._jdf.queryExecution().executedPlan().toString()
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    assert "SortMergeJoin" in pre and "BroadcastHashJoin" not in pre
    assert "BroadcastHashJoin" in post
    assert n > 0


@pytest.mark.slow
def test_q296_state_recovery_counters(spark):
    """q296 end-to-end at test SF: the ledger columns must show the
    designed crash (3 commits in run 1, 12 total, one replayed batch)
    and the final per-shard counts must cover the WHOLE 6000-row
    corpus — only possible if the aggregation state survived the
    restart (a state loss would leave the post-crash counts missing
    ids 0..1499)."""
    rows = QUERIES["q296_stateful_stream_state_recovery"](spark, SF).collect()
    assert len(rows) == 4
    assert sum(r["n_total"] for r in rows) == 6000
    for r in rows:
        assert r["n_commits_run1"] == 3
        assert r["n_commits_total"] == 12
        assert r["n_replayed_batches"] == 1


def test_q298_dedup_ttl_streaming_simulation(spark):
    """q298's recursive formula vs a TRUE stateful simulation: iterate
    ALL rows in arrival order, advance the global watermark, sweep
    expired dedup entries (wm - d >= emit_ts + d) before each row,
    emit iff the key is absent, re-insert on emit. Every q298 column
    must match per delay — so the batch/recursive replay and the
    operational state-store semantics agree row for row."""
    from spark_lakehouse_medallion_pipeline_spark.queries.streaming import (
        _Q280_DELAYS_S,
    )
    from spark_lakehouse_medallion_pipeline_spark.sources.io import read_events

    US = 1_000_000
    ev = read_events(spark, SF).toPandas()
    ev["ts_us"] = ev.ts.astype("int64") // 1000
    ev["arr_us"] = ev.ts_us + (ev.event_id % 7) * 60_000_000
    rows = list(ev.sort_values(["arr_us", "event_id"]).itertuples(index=False))
    got = {
        r["delay_s"]: r.asDict()
        for r in QUERIES["q298_stream_dedup_ttl_replay"](spark, SF).collect()
    }
    for delay in _Q280_DELAYS_S:
        d_us = delay * US
        wm = None
        state: dict[tuple, int] = {}
        emits_per_key: dict[tuple, int] = {}
        n_late = n_emit = n_dup = 0
        for r in rows:
            cur_wm = None if wm is None else wm - d_us
            if cur_wm is not None and r.ts_us < cur_wm:
                n_late += 1
            else:
                if cur_wm is not None:
                    state = {
                        k: t for k, t in state.items() if cur_wm < t + d_us
                    }
                k = (r.user_id, r.event_type)
                if k in state:
                    n_dup += 1
                else:
                    state[k] = r.ts_us
                    n_emit += 1
                    emits_per_key[k] = emits_per_key.get(k, 0) + 1
            wm = r.ts_us if wm is None else max(wm, r.ts_us)
        g = got[delay]
        assert g["n_events_total"] == len(rows), delay
        assert g["n_dropped_late"] == n_late, delay
        assert g["n_emitted"] == n_emit, delay
        assert g["n_dropped_dup"] == n_dup, delay
        assert g["n_keys"] == len(emits_per_key), delay
        assert g["n_keys_reemitted"] == sum(
            1 for v in emits_per_key.values() if v > 1
        ), delay
        assert n_late + n_emit + n_dup == len(rows), delay


@pytest.mark.slow
def test_q299_merge_sink_ledger(spark):
    """q299 end-to-end at test SF: the transactional sink's ledger must
    show the designed crash (4 versions durably committed against 3
    offset commits in run 1), exactly one skipped replay, a version
    count equal to the batch count (no phantom commit), and the final
    table covering the whole corpus exactly once."""
    rows = QUERIES["q299_exactly_once_merge_sink"](spark, SF).collect()
    assert len(rows) == 4
    assert sum(r["n"] for r in rows) == 6000
    for r in rows:
        assert r["n_versions"] == 12
        assert r["n_batches_applied"] == 12
        assert r["n_batches_skipped_replay"] == 1
        assert r["n_commits_run1"] == 3
