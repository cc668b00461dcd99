"""Deterministic Customer-360 bronze generator.

Reproduces the reference generator's schema and distributions
(bronze_ingest.py, CM:46-121; column-by-column map in FIXTURES.md §B) with
three deliberate deviations (SURVEY.md §7.1 "determinism first"):

1. Every ``rand()`` is replaced by a hash-derived uniform (functions.uniform)
   keyed on ``id`` + a per-column tag — bit-identical output at any
   parallelism, which F.rand(seed) cannot guarantee.
2. ``uuid()`` ids become sha2-derived hex strings of (id, tag).
3. ``event_timestamp`` is a true timestamp with intra-day resolution
   anchored at an injectable ``as_of`` instant — the reference's
   date_sub(current_timestamp(), ...) collapses to a DATE (SURVEY.md Q1),
   zeroing every hour-derived column downstream.

The categorical cascades use a SINGLE uniform draw against cumulative
thresholds — the intended distribution of the reference's
``case when rand() < p1 ... when rand() < p2 ...`` pattern (the thresholds
.3/.5/.7/.85 are plainly cumulative).

Plan shape: ``spark.range`` -> four stacked projections (one per column
dependency layer, built with ``withColumns`` so the analyzer runs once per
layer, not once per column — 80 chained withColumn calls cost ~8 s of
driver-side analysis). No shuffle anywhere; writes stream straight out of
the range scan, so this scales linearly with executors (the reference's own
1 TB/64-executor target, BASELINE.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.functions.scalars import uniform

# The pipeline's one clock: bronze event times, silver recency and the CLI's
# --as-of default all anchor here.
DEFAULT_AS_OF = "2024-03-01 12:00:00"


def _u(tag: str) -> Column:
    return uniform(tag, F.col("id"))


def _pick(tag: str, choices: list[tuple[str, float]]) -> Column:
    """Categorical from cumulative probabilities via one uniform draw."""
    u = _u(tag)
    expr = None
    cum = 0.0
    for value, p in choices[:-1]:
        cum += p
        expr = (
            F.when(u < cum, F.lit(value))
            if expr is None
            else expr.when(u < cum, F.lit(value))
        )
    return expr.otherwise(F.lit(choices[-1][0]))


def _hexid(tag: str) -> Column:
    """Deterministic uuid() stand-in (CM:48-49): 32 hex chars of sha2(tag, id)."""
    return F.substring(F.sha2(F.concat_ws(":", F.lit(tag), F.col("id")), 256), 1, 32)


def _randint_str(tag: str, n: int) -> Column:
    return (_u(tag) * n).cast("int").cast("string")


def generate_bronze(
    spark: SparkSession,
    rows: int,
    partitions: int | None = None,
    payload_kb: int = 1,
    as_of: str = DEFAULT_AS_OF,
) -> DataFrame:
    """Build the bronze interaction DataFrame (CM:46-121 semantics)."""
    base = spark.range(0, rows, numPartitions=partitions)

    # Layer 1 — everything derivable from `id` alone (CM:46-72, 85, 90, 96-97).
    layer1 = {
        # Q1 fix: true timestamp, uniform over the 30 days before as_of.
        "event_timestamp": (
            F.lit(as_of).cast("timestamp").cast("double")
            - _u("event_ts") * F.lit(30.0 * 86400.0)
        ).cast("timestamp"),
        "event_id": _hexid("event_id"),
        "session_id": _hexid("session_id"),
        "customer_id": F.floor(_u("cust") * 500000).cast("long"),
        "phone_raw": F.when(
            _u("phone_fmt") < 0.8,
            F.concat(
                F.lit("("), F.lpad(_randint_str("ph1", 999), 3, "0"),
                F.lit(") "), F.lpad(_randint_str("ph2", 999), 3, "0"),
                F.lit("-"), F.lpad(_randint_str("ph3", 9999), 4, "0"),
            ),
        ).otherwise(
            F.concat(F.lit("+1"), F.lpad((_u("ph4") * 1000000000).cast("long").cast("string"), 10, "0"))
        ),
        "interaction_type": _pick(
            "itype",
            [("purchase", 0.3), ("browse", 0.2), ("support", 0.2), ("login", 0.15), ("abandoned_cart", 0.15)],
        ),
        "product_id": F.concat(F.lit("PRD"), F.lpad(_randint_str("prod", 10000), 5, "0")),
        "product_category": _pick(
            "pcat",
            [("electronics", 0.2), ("clothing", 0.2), ("home_garden", 0.2), ("books", 0.2), ("sports", 0.2)],
        ),
        "currency": _pick("curr", [("USD", 0.7), ("EUR", 0.15), ("GBP", 0.1), ("CAD", 0.05)]),
        "channel": _pick(
            "chan",
            [("web", 0.4), ("mobile_app", 0.3), ("store", 0.15), ("call_center", 0.1), ("social_media", 0.05)],
        ),
        "device_type": _pick("dev", [("desktop", 0.5), ("mobile", 0.3), ("tablet", 0.2)]),
        "browser": _pick("brow", [("chrome", 0.4), ("safari", 0.2), ("firefox", 0.2), ("edge", 0.2)]),
        "ip_address": F.concat_ws(
            ".", _randint_str("ip1", 255), _randint_str("ip2", 255),
            _randint_str("ip3", 255), _randint_str("ip4", 255),
        ),
        "city_raw": _pick(
            "city",
            [("New York", 0.1), ("NYC", 0.1), ("Los Angeles", 0.1), ("Chicago", 0.1), ("Houston", 0.1),
             ("Phoenix", 0.1), ("Philadelphia", 0.1), ("San Antonio", 0.1), ("San Diego", 0.1), ("Dallas", 0.1)],
        ),
        "state_raw": _pick(
            "state",
            [("CA", 0.15), ("California", 0.1), ("TX", 0.1), ("Texas", 0.1), ("NY", 0.1), ("New York", 0.1), ("FL", 0.35)],
        ),
        "zip_code": F.lpad(_randint_str("zip", 99999), 5, "0"),
        "campaign_id": F.when(_u("cmp") < 0.4, F.concat(F.lit("CMP"), _randint_str("cmpn", 1000))),
        "loyalty_member": _u("loyal") < 0.6,
        "data_source": _pick(
            "dsrc",
            [("primary_system", 0.7), ("legacy_import", 0.15), ("manual_entry", 0.1), ("third_party_api", 0.05)],
        ),
        "data_quality_flag": _pick(
            "dqf",
            [("duplicate_suspected", 0.05), ("incomplete_data", 0.05), ("format_inconsistent", 0.05), ("clean", 0.85)],
        ),
        "entropy_break1": (_u("e1") * 999999999999999999).cast("long").cast("string"),
        "entropy_break2": F.reverse(F.hex((_u("e2") * 4294967296).cast("long"))),
        "entropy_break3": _hexid("e3"),
    }

    # Layer 2 — depends on layer-1 columns (CM:53, 60, 75, 80, 86, 91-92, 120-121).
    layer2 = {
        "email_raw": F.concat(
            F.lit("user"),
            F.col("customer_id").cast("string"),
            F.when(_u("email_dup") < 0.1, ".DUPLICATE").otherwise(""),
            F.lit("@"),
            _pick("email_dom", [("gmail.com", 0.3), ("yahoo.com", 0.2), ("company.com", 0.2), ("outlook.com", 0.3)]),
        ),
        "transaction_amount": F.when(
            F.col("interaction_type") == "purchase", F.round(_u("amt") * 1000 + 10, 2)
        ).otherwise(F.lit(0.0)),
        "page_views": F.when(
            F.col("interaction_type").isin("browse", "purchase"), (_u("pv") * 20 + 1).cast("int")
        ).otherwise(F.lit(0)),
        "support_ticket_id": F.when(
            F.col("interaction_type") == "support",
            F.concat(F.lit("TKT"), _randint_str("tkt", 100000)),
        ),
        "utm_source": F.when(
            F.col("campaign_id").isNotNull(),
            _pick("utms", [("google", 0.3), ("facebook", 0.3), ("email", 0.2), ("direct", 0.2)]),
        ),
        "loyalty_tier": F.when(
            F.col("loyalty_member"),
            _pick("tier", [("bronze", 0.7), ("silver", 0.2), ("gold", 0.1)]),
        ),
        "points_redeemed": F.when(
            F.col("loyalty_member") & (_u("redeem") < 0.1), (_u("redeemn") * 1000).cast("int")
        ).otherwise(F.lit(0)),
        "raw_user_agent": F.concat(
            F.col("browser"), F.lit("/"), _randint_str("ua1", 100), F.lit("."), _randint_str("ua2", 10)
        ),
        "session_fingerprint": F.sha2(
            F.concat(F.col("ip_address"), F.col("device_type"), F.col("browser")), 256
        ),
    }

    # Layer 3 — depends on layer-2 columns (CM:76-77, 81-82, 87, 92, 100-116).
    payload_hash = F.sha2(
        F.concat_ws(
            "|",
            _hexid("pay_uuid"),
            (_u("pay_r") * 1e18).cast("long").cast("string"),
            F.col("customer_id").cast("string"),
            F.col("session_id"),
            F.col("product_id"),
            F.col("interaction_type"),
            F.col("channel"),
            F.hex((_u("pay_hex") * 4294967296).cast("long")),
            F.reverse((_u("pay_rev") * 1e16).cast("long").cast("string")),
        ),
        256,
    )
    repeat_count = max(1, (payload_kb * 1024) // 64)
    layer3 = {
        "time_on_site_seconds": F.when(
            F.col("page_views") > 0, (_u("tos") * 3600 + 30).cast("int")
        ).otherwise(F.lit(0)),
        "bounce_rate": F.when(F.col("page_views") == 1, F.lit(1.0)).otherwise(F.lit(0.0)),
        "issue_category": F.when(
            F.col("support_ticket_id").isNotNull(),
            _pick("issue", [("billing", 0.3), ("technical", 0.3), ("general_inquiry", 0.4)]),
        ),
        "satisfaction_score": F.when(
            F.col("support_ticket_id").isNotNull(), (_u("sat") * 5 + 1).cast("int")
        ),
        "utm_medium": F.when(
            F.col("utm_source").isNotNull(),
            _pick("utmm", [("cpc", 0.5), ("organic", 0.3), ("referral", 0.2)]),
        ),
        "points_earned": F.when(
            F.col("loyalty_member") & (F.col("interaction_type") == "purchase"),
            (F.col("transaction_amount") * 10).cast("int"),
        ).otherwise(F.lit(0)),
        "interaction_payload": F.repeat(payload_hash, repeat_count),
    }

    return base.withColumns(layer1).withColumns(layer2).withColumns(layer3)
