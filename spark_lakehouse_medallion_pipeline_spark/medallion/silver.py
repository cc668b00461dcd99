"""Silver enrichment: clean / standardize / derive (silver_build.py, CM:188-318).

All 33 derivations, declared as three stacked ``withColumns`` projections
(one per column dependency layer — analyzer runs 3×, not 33×). Catalyst's
CollapseProject folds them into a single projection over the scan, and the
quality-flag filter is pushed into the parquet scan (verify with .explain:
PushedFilters).

Determinism: ``as_of`` is the instant used by recency / processing
metadata (the reference calls current_date()/current_timestamp(),
CM:259,309,313 — un-oracle-able); it defaults to the generator's
DEFAULT_AS_OF, so bronze and silver share one clock.

Q1 fix applies upstream (generate.py): event_timestamp is a true timestamp,
so hour-derived columns are meaningful here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.functions.scalars import (
    clean_email,
    clean_phone,
    standardize_city,
    standardize_state,
)
from spark_lakehouse_medallion_pipeline_spark.medallion.generate import DEFAULT_AS_OF


def build_silver(bronze: DataFrame, as_of: str = DEFAULT_AS_OF) -> DataFrame:
    """Bronze -> Silver enrichment (keeps ~95% of rows; CM:189-190)."""
    cur_date = F.lit(as_of).cast("date")
    cur_ts = F.lit(as_of).cast("timestamp")

    # Layer 1 — derived directly from bronze columns.
    layer1 = {
        # Contact cleaning (CM:194-199)
        "email_clean": clean_email(F.col("email_raw")),
        "phone_clean": clean_phone(F.col("phone_raw")),
        # Geographic standardization (CM:202-210)
        "state_standardized": standardize_state(F.col("state_raw")),
        "city_standardized": standardize_city(F.col("city_raw")),
        # Temporal derivations (CM:213-220)
        "interaction_date": F.to_date("event_timestamp"),
        "interaction_hour": F.hour("event_timestamp"),
        "interaction_day_of_week": F.dayofweek("event_timestamp"),
        "interaction_week_of_year": F.weekofyear("event_timestamp"),
        "interaction_month": F.month("event_timestamp"),
        "is_weekend": F.dayofweek("event_timestamp").isin(1, 7),
        "is_business_hours": F.hour("event_timestamp").between(9, 17),
        "is_peak_hours": F.hour("event_timestamp").between(12, 14)
        | F.hour("event_timestamp").between(18, 20),
        # Customer value segmentation (CM:223-233)
        "customer_value_tier": F.when(F.col("transaction_amount") > 500, "high_value")
        .when(F.col("transaction_amount") > 100, "medium_value")
        .when(F.col("transaction_amount") > 0, "low_value")
        .otherwise("browser_only"),
        "transaction_size_category": F.when(F.col("transaction_amount") > 1000, "large")
        .when(F.col("transaction_amount") > 250, "medium")
        .when(F.col("transaction_amount") > 0, "small")
        .otherwise("none"),
        # Behavioral analytics (CM:236-255)
        "engagement_score": F.when(F.col("page_views") == 0, 0)
        .when(F.col("page_views") <= 2, 1)
        .when(F.col("page_views") <= 5, 2)
        .when(F.col("page_views") <= 10, 3)
        .otherwise(4),
        "session_depth_category": F.when(F.col("page_views") > 10, "deep")
        .when(F.col("page_views") > 3, "medium")
        .when(F.col("page_views") > 0, "shallow")
        .otherwise("bounce"),
        "time_spent_category": F.when(F.col("time_on_site_seconds") > 1800, "long")
        .when(F.col("time_on_site_seconds") > 300, "medium")
        .when(F.col("time_on_site_seconds") > 0, "short")
        .otherwise("none"),
        "channel_preference": F.when(F.col("channel") == "mobile_app", "mobile_first")
        .when(F.col("channel") == "web", "web_first")
        .when(F.col("channel") == "store", "physical_first")
        .otherwise("omnichannel"),
        # ML features (CM:258-260); recency lands in layer 2 (needs interaction_date).
        "lifetime_value_estimate": F.col("transaction_amount")
        * (F.lit(1) + F.col("points_earned") / F.lit(1000.0)),
        "engagement_velocity": F.col("page_views")
        / F.greatest(F.col("time_on_site_seconds") / F.lit(60.0), F.lit(1.0)),
        # Churn risk (CM:262-265) — arm order preserved: null lands in arm 3.
        "churn_risk_indicator": F.when(F.col("satisfaction_score") <= 2, "high_risk")
        .when(F.col("satisfaction_score") <= 3, "medium_risk")
        .when(F.col("satisfaction_score").isNull(), "unknown_risk")
        .otherwise("low_risk"),
        # Marketing attribution (CM:268-275)
        "attribution_channel": F.when(
            F.col("utm_source").isNotNull(), F.col("utm_source")
        ).otherwise("direct"),
        "attribution_quality": F.when(
            F.col("utm_source").isNotNull() & F.col("utm_medium").isNotNull(), "high"
        )
        .when(F.col("utm_source").isNotNull(), "medium")
        .otherwise("low"),
        "customer_journey_stage": F.when(F.col("interaction_type") == "browse", "awareness")
        .when(F.col("interaction_type") == "abandoned_cart", "consideration")
        .when(F.col("interaction_type") == "purchase", "conversion")
        .when(F.col("interaction_type") == "support", "retention")
        .otherwise("other"),
        # Device / technical context (CM:284-294)
        "device_category": F.when(F.col("device_type") == "mobile", "mobile")
        .when(F.col("device_type") == "tablet", "tablet")
        .otherwise("desktop"),
        "browser_family": F.when(F.col("browser").like("%chrome%"), "chromium")
        .when(F.col("browser").like("%safari%"), "webkit")
        .when(F.col("browser").like("%firefox%"), "gecko")
        .otherwise("other"),
        "interaction_context": F.concat_ws("|", "device_type", "browser", "channel"),
        # Payload passthrough + lineage (CM:306, 312-318)
        "interaction_payload_clean": F.col("interaction_payload"),
        "data_lineage": F.lit("silver_enriched_v2"),
        "processing_timestamp": cur_ts,
        "data_quality_score": F.when(F.col("data_quality_flag") == "clean", 1.0)
        .when(F.col("data_quality_flag") == "format_inconsistent", 0.8)
        .when(F.col("data_quality_flag") == "incomplete_data", 0.6)
        .otherwise(0.3),
    }

    # Layer 2 — depends on layer-1 derivations.
    layer2 = {
        "customer_recency_score": F.lit(30) - F.datediff(cur_date, F.col("interaction_date")),
        "full_context_fingerprint": F.concat_ws(
            ":",
            "device_category",
            "browser_family",
            "channel",
            "attribution_channel",
            "customer_value_tier",
        ),
    }

    # Layer 3 — enriched payload (CM:307-309) needs the fingerprint.
    layer3 = {
        "enriched_payload": F.concat_ws(
            "|",
            F.col("interaction_payload"),
            F.col("full_context_fingerprint"),
            F.unix_timestamp(cur_ts).cast("string"),
        ),
    }

    return (
        bronze
        # Light filtering — only drop suspected duplicates (CM:190).
        .filter(F.col("data_quality_flag") != "duplicate_suspected")
        .withColumns(layer1)
        .withColumns(layer2)
        .withColumns(layer3)
    )
