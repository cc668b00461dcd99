"""Relational operator layer (SURVEY.md §2b X1-X15).

The reference's interactive surface is Trino SQL over the medallion tables
(scripts/run_pipeline.py:240-277); our equivalent is Spark SQL / DataFrame.
A one-call Spark form — a broadcast() hint on a bounded dimension table,
orderBy(...).limit(k) (TakeOrderedAndProject: each partition keeps k rows,
no global sort), a ROWS-framed window, approx_count_distinct — is written
inline where a query needs it. This module holds the operators that take
more than one step to stay *scale-aware* at 100x:

  - sessionize: gap sessions from one (user, ts) window shuffle;
  - salted_join / write_bucketed_table: skewed-key and co-located joins;
  - apply_cdc: change-data-capture compaction onto a snapshot;
  - stratified_exact_sample: exact per-stratum quotas, portable hash rank;
  - distributed_rank / top_k_ranked: global row_number, prefix sums and
    NTILE without a single-partition window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
    session_col: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization via lag + cumulative sum (X15 batch form).

    Two window passes over the same (user, ts) partitioning — one shuffle,
    both windows reuse it. The same logic is ANSI-SQL expressible, so the
    DuckDB oracle can verify it (unlike F.session_window, which is offered
    separately in operators.timeseries for the streaming path).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    # cast("timestamp") first: tolerates TIMESTAMP_NTZ inputs (NTZ cannot
    # cast directly to double); a no-op for already-LTZ columns.
    ts_sec = F.col(ts_col).cast("timestamp").cast("double")
    gap = ts_sec - F.lag(ts_sec).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return df.withColumn("_new_sess", is_new).withColumn(
        session_col,
        F.sum("_new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).drop("_new_sess")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Inner equi-join with explicit key salting for extreme skew.

    AQE's skew-join split (enabled in session.py) handles most skew by
    splitting oversized partitions, but it cannot split a SINGLE
    pathological key. Salting can: the (big, skewed) left side gets a
    random salt in [0, n_salts), the (smaller) right side is replicated
    n_salts times, and the join key becomes (key, salt) — one hot key's
    rows spread over n_salts tasks at the cost of replicating the right
    side n_salts x (so keep the smaller input on the right).
    """
    salted_l = left.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))
    salted_r = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(s) for s in range(n_salts)]))
    )
    return salted_l.join(salted_r, on=[key, "_salt"]).drop("_salt")


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_key: str,
    n_buckets: int = 8,
) -> None:
    """Bucketed managed table — the pre-shuffled
    layout: two tables bucketed by the same key into the same bucket
    count join with NO exchange on either side (SortMergeJoin reads
    co-located buckets directly). The write pays the shuffle once;
    every subsequent join of the pair rides for free — the 100 TB
    pattern for fact-to-fact joins repeated across a pipeline."""
    w = df.write.mode("overwrite").format("parquet")
    w.bucketBy(n_buckets, bucket_key).saveAsTable(table)


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply a change-data-capture batch onto a snapshot: ``changes``
    carries (key, seq, op in {I,U,D}, payload columns matching base's
    schema minus the op/seq columns). Per key, the HIGHEST-seq change
    wins (late-arriving lower-seq ops are ignored — standard CDC
    compaction); a winning D removes the key, a winning I/U replaces the
    row, untouched base rows survive.

    Scale shape: one window shuffle to compact the change batch to its
    winners (change batches are deltas — small next to the snapshot),
    then one left-anti join keyed on the snapshot (AQE broadcasts the
    compacted winners when they fit) + a union. This is the dataflow a
    Delta MERGE compiles to; here it is explicit and format-agnostic —
    pair with sources.io.write_snapshot for a reader-safe commit."""
    from pyspark.sql import Window

    payload = [c for c in base.columns]
    w = Window.partitionBy(key).orderBy(F.desc(seq_col))
    winners = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    survivors = base.join(winners.select(key), key, "left_anti")
    upserts = winners.filter(F.col(op_col) != "D").select(*payload)
    return survivors.unionByName(upserts)


def stratified_exact_sample(
    df: DataFrame,
    strata_cols: list[str],
    frac_num: int,
    frac_den: int,
    order_col: str,
) -> DataFrame:
    """Exact stratified sampling: keep floor(n_s * frac_num / frac_den)
    rows of EVERY stratum, chosen by a deterministic portable-md5-hash
    rank over ``order_col`` — the corpus-curation step where each
    domain/language must contribute an exact proportion (a probabilistic
    filter like text.mixture_sample drifts per stratum; training-mixture
    specs are usually contractual).

    The fraction is a rational (frac_num/frac_den) and the quota test is
    pure integer arithmetic (rank*den <= n*num), so results are
    bit-identical across engines — float fractions like 0.2 round-trip
    to 0.2000...011 and flip ceil/floor at exact multiples. The hash
    rank is the portable 60-bit md5 family (``conv(substr(md5(x),18,15),
    16,10)`` here, ``('0x'||substr(md5(x),18,15))::BIGINT`` in
    DuckDB/Trino): int64-safe for ANY order_col value, unlike a raw
    Knuth multiply which silently wraps (ANSI off) or errors (ANSI on)
    above ~2^31 — exactly the range hash-derived 63-bit ids live in.
    Determinism requires ``order_col`` to be unique (it is both the
    hash input and the final tiebreaker); with duplicate values the
    choice among exact ties is partitioning-dependent.

    Scale shape: ONE shuffle on the strata columns serving both the
    per-stratum count (window aggregate) and the rank ordering; no
    global sort, no collect. Skew note: a stratum is ranked by one
    task — for web-scale single-domain strata prefer the shuffle-free
    approximate text.mixture_sample and reserve this for the final
    exact quota pass on the (much smaller) curated output.
    """
    rank = F.conv(
        F.substring(F.md5(F.col(order_col).cast("string")), 18, 15), 16, 10
    ).cast("bigint")
    w = Window.partitionBy(*strata_cols).orderBy(rank.asc(), F.col(order_col).asc())
    w_n = Window.partitionBy(*strata_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(w_n))
        .filter(F.col("_rn") * F.lit(frac_den) <= F.col("_n") * F.lit(frac_num))
        .drop("_rn", "_n")
    )


def distributed_rank(
    df: DataFrame,
    order_cols: list[Column],
    *,
    rank_col: str = "rank",
    cumsum_cols: dict[str, str] | None = None,
    cummax_cols: dict[str, str] | None = None,
    ntile_col: str | None = None,
    n_tiles: int = 10,
    num_partitions: int | None = None,
) -> DataFrame:
    """Global row_number (+ optional inclusive prefix sum and NTILE)
    WITHOUT a single-partition window — the classic two-pass
    range-partitioned rank every distributed engine uses where ANSI
    `row_number() OVER (ORDER BY ...)` would funnel all rows through
    one task (Spark logs `WindowExec: No Partition Defined` and moves
    the whole input to ONE partition — the wall this operator removes
    at 100 TB).

    Pass 1: `repartitionByRange` on the ordering (sampled balanced
    boundaries, equal keys co-located), pin the partition assignment
    with a lazy localCheckpoint (the stats job materializes it, the
    final job re-reads the same frozen partitions, and the pin lives
    exactly as long as the returned frame — no session-wide cache
    entry), then ONE tiny per-partition count/sum aggregate —
    collected to the driver, BOUNDED at one row per shuffle partition
    (32 locally, a few thousand on a cluster: the same driver-side
    footprint TakeOrderedAndProject already accepts). Pass 2:
    exclusive prefix offsets (plain Python over the partition stats)
    broadcast-joined back on partition id, plus a PARTITIONED window
    (partitionBy the range-bucket id) for the local rank/running sum:
    every task ranks only its own range slice.

    Semantics contract: `order_cols` must define a TOTAL order (caller
    includes a unique tie-breaker, the repo-wide rule) with no NULL
    keys; then rank == ANSI row_number, cumsum == ROWS UNBOUNDED
    PRECEDING running sum, and ntile == ANSI NTILE(n) (remainder rows
    to the leading tiles), so oracle SQL is unchanged.

    Scale shape: two data passes (one range exchange + one hash
    exchange on the bucket id for the window — each balanced by the
    range sampler), zero single-partition stages.

    cumsum_cols maps value columns to their output prefix-sum names
    ({value col -> cumsum col}); all of them share the same two passes
    and the same one-row-per-partition stats collect, so a multi-ECDF
    statistic (Kolmogorov-Smirnov needs both samples' cumulative counts
    at every value) costs no more than a single prefix sum. Each value
    column must be int64-safe under global summation (cents convention).

    cummax_cols maps value columns to EXCLUSIVE prefix-max outputs —
    ANSI `MAX(x) OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED PRECEDING
    AND 1 PRECEDING)` (NULL on the globally first row). Exclusive, not
    inclusive, because that is the dominance test a 2-D Pareto skyline
    needs (is anything strictly earlier in the order already at least
    this good?) and the inclusive form is recoverable by the caller
    (greatest(premax, x)) while the reverse is not. Same two passes:
    the per-partition stats row carries each column's partition max,
    prior-partition maxima fold in via null-skipping greatest()."""
    spark = df.sparkSession
    n_part = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    pid = "_dr_pid"
    # Pin the partition assignment (range boundaries come from sampling,
    # so an unpinned plan could re-draw them between the stats job and
    # the final job and shift pids): both jobs read the SAME frozen RDD.
    # Lazy, so the stats collect is the materializing pass; the pin is
    # owned by the returned frame and released when that frame is GC'd.
    ranged = (
        df.repartitionByRange(n_part, *order_cols)
        .withColumn(pid, F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    # Every (value col, output col) pair rides the SAME two passes — a
    # k-statistic rank (e.g. the KS test's two ECDFs) costs exactly what
    # a 1-statistic rank costs.
    pairs: list[tuple[str, str]] = list(cumsum_cols.items()) if cumsum_cols else []
    mpairs: list[tuple[str, str]] = list(cummax_cols.items()) if cummax_cols else []
    aggs = [F.count(F.lit(1)).alias("_cnt")]
    for i, (vc, _) in enumerate(pairs):
        aggs.append(F.sum(vc).cast("bigint").alias(f"_vsum{i}"))
    for i, (vc, _) in enumerate(mpairs):
        aggs.append(F.max(vc).cast("bigint").alias(f"_vmax{i}"))
    # Bounded collect: one row per range bucket (a model, not data).
    stats = sorted(ranged.groupBy(pid).agg(*aggs).collect(), key=lambda r: r[pid])
    offsets, r_off, n_total = [], 0, 0
    v_off = [0] * len(pairs)
    m_off: list[int | None] = [None] * len(mpairs)
    for row in stats:
        offsets.append((row[pid], r_off, *v_off, *m_off))
        r_off += row["_cnt"]
        n_total = r_off
        for i in range(len(pairs)):
            v_off[i] += int(row[f"_vsum{i}"] or 0)
        for i in range(len(mpairs)):
            pmax = row[f"_vmax{i}"]
            if pmax is not None:
                pmax = int(pmax)
                m_off[i] = pmax if m_off[i] is None else max(m_off[i], pmax)
    v_schema = "".join(f", _voff{i} long" for i in range(len(pairs)))
    m_schema = "".join(f", _moff{i} long" for i in range(len(mpairs)))
    off_df = spark.createDataFrame(
        offsets or [(0, 0, *([0] * len(pairs)), *([None] * len(mpairs)))],
        schema=f"{pid} int, _roff long{v_schema}{m_schema}",
    )
    if not offsets:
        off_df = off_df.limit(0)
    w = Window.partitionBy(pid).orderBy(*order_cols)
    out = ranged.withColumn("_lrank", F.row_number().over(w).cast("long"))
    for i, (vc, _) in enumerate(pairs):
        out = out.withColumn(
            f"_lsum{i}",
            F.sum(vc)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
    for i, (vc, _) in enumerate(mpairs):
        # EXCLUSIVE local running max (empty frame on each partition's
        # first row -> NULL, exactly the ANSI 1-PRECEDING frame)
        out = out.withColumn(
            f"_lmax{i}",
            F.max(vc)
            .over(w.rowsBetween(Window.unboundedPreceding, -1))
            .cast("long"),
        )
    out = out.join(F.broadcast(off_df), pid).withColumn(
        rank_col, (F.col("_lrank") + F.col("_roff")).cast("long")
    )
    for i, (_, oc) in enumerate(pairs):
        out = out.withColumn(
            oc, (F.col(f"_lsum{i}") + F.col(f"_voff{i}")).cast("long")
        )
    for i, (_, oc) in enumerate(mpairs):
        # greatest() skips NULLs (NULL only when both sides are NULL =
        # the globally first row), folding prior partitions' maxima in
        out = out.withColumn(
            oc,
            F.greatest(F.col(f"_lmax{i}"), F.col(f"_moff{i}")).cast("long"),
        )
    if ntile_col is not None:
        # ANSI NTILE(n) from the global rank and the (already known)
        # total count: base rows per tile with the remainder spread
        # over the leading tiles — pure integer Column arithmetic.
        base, rem = divmod(n_total, n_tiles)
        cut = rem * (base + 1)
        i = F.col(rank_col)
        if base == 0:
            tile = i  # fewer rows than tiles: row i -> tile i
        else:
            # Exact int64 `div` (never float division: a 100 TB rank
            # exceeds double's 2^53 exact-integer range).
            tile = F.when(
                F.lit(rem > 0) & (i <= F.lit(cut)),
                F.expr(f"({rank_col} - 1) div {base + 1}") + 1,
            ).otherwise(
                F.lit(rem) + F.expr(f"({rank_col} - {cut} - 1) div {base}") + 1
            )
        out = out.withColumn(ntile_col, tile.cast("int"))
    scratch = [
        c for i in range(len(pairs)) for c in (f"_lsum{i}", f"_voff{i}")
    ] + [c for i in range(len(mpairs)) for c in (f"_lmax{i}", f"_moff{i}")]
    return out.drop(pid, "_lrank", "_roff", *scratch)


def top_k_ranked(
    df: DataFrame,
    order_spec: list[tuple[str, bool]],
    k: int,
    *,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k with exact 1-based ranks and ZERO window operators: the
    100 TB form of `row_number() OVER (ORDER BY ...) <= k`. The
    selection compiles to TakeOrderedAndProject (per-partition heap of
    k, driver-side merge — no global sort, no single-partition
    exchange); ranks are then assigned to the <= k survivors by a
    broadcast lexicographic self-join count (rank(a) = |{b : b <= a}|,
    k^2 <= 100 comparisons for the k <= 10 call sites), which equals
    ANSI row_number because the caller's order_spec is a total order
    over non-NULL keys.

    order_spec: [(column_name, descending?), ...] — names, not Column
    exprs, because the self-join must re-derive the comparison on both
    sides."""
    order_cols = [
        F.col(name).desc() if desc else F.col(name).asc() for name, desc in order_spec
    ]
    # Eagerly pin the <=k survivors: the self-join references `top`
    # TWICE, and without the checkpoint each alias would recompute the
    # full upstream lineage (measured: q212's BM25 ran 4x per call).
    # Checkpointing k<=10 rows costs one TakeOrderedAndProject job.
    top = df.orderBy(*order_cols).limit(k).localCheckpoint(eager=True)
    a = top.alias("_tka")
    b = top.alias("_tkb")
    # Lexicographic b <= a over the mixed asc/desc spec.
    before = F.lit(False)
    eq = F.lit(True)
    for name, desc in order_spec:
        ca, cb = F.col(f"_tka.{name}"), F.col(f"_tkb.{name}")
        lt = (cb > ca) if desc else (cb < ca)
        before = before | (eq & lt)
        eq = eq & (cb == ca)
    cond = before | eq
    return (
        a.join(F.broadcast(b), cond, "inner")
        .groupBy(*[F.col(f"_tka.{c}").alias(c) for c in top.columns])
        .agg(F.count(F.lit(1)).cast("long").alias(rank_col))
    )
