"""Format round trips and malformed-input ingest contracts."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.queries._common import (
    _q,
    _scratch_dir,
    _t,
)


_DOCS_ROUNDTRIP_SQL = (
    "SELECT doc_id, text, lang, source, n_chars FROM documents"
)

_DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


@_q("q231_csv_roundtrip", _DOCS_ROUNDTRIP_SQL)
def q231_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink round trip (S-family format coverage): write the
    documents table as headered, quoted CSV, read it back through the
    DataFrameReader with an EXPLICIT schema (inference is banned at
    100 TB — it double-scans and types drift per shard), and return
    the re-read rows. The oracle is the ORIGINAL parquet table, so the
    value hash proves the CSV path is byte-lossless for every row —
    quoting, escaping, header handling, and bigint round-tripping all
    under test. Only exactly-representable column types cross the text
    format (strings + int64; doubles would re-render). Plan: a scan, a
    distributed write, a distributed read — partition counts preserved
    by the writer, no shuffle anywhere."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    # Suffix with the Spark applicationId: two concurrent sessions on the
    # same SF (oracle gate + bench) must never share an overwrite sink.
    path = _scratch_dir(spark, "q231_csv", sf_dir)
    (
        docs.write.mode("overwrite")
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    return (
        spark.read.schema(_DOCS_SCHEMA)
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", True)
        .csv(path)
    )


@_q("q232_jsonl_roundtrip", _DOCS_ROUNDTRIP_SQL)
def q232_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source/sink round trip (S-family format coverage,
    the crawl-dump interchange format every corpus pipeline ingests):
    write documents as newline-delimited JSON, read back with an
    explicit schema (same no-inference rule as q231), oracle = the
    original parquet table — proving JSON string escaping and int64
    fidelity end to end. Plan: scan, distributed write, distributed
    read; schema-on-read keeps it one pass."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    # Per-session sink path (applicationId) — same concurrency rule as q231.
    path = _scratch_dir(spark, "q232_jsonl", sf_dir)
    docs.write.mode("overwrite").json(path)
    return spark.read.schema(_DOCS_SCHEMA).json(path)


def _quarantine_report(raw: DataFrame) -> DataFrame:
    """q236/q237's contract over a PERMISSIVE read with a `_corrupt`
    column: a row is quarantined when the parser flagged it or a required
    field is null; one row of good/quarantined counts and good-row sums."""
    # Spark caveat: a query over ONLY the corrupt column is disallowed
    # (internal raw-record pushdown) — aggregate over the full
    # projection instead, which is what the audit needs anyway.
    bad = (
        F.col("_corrupt").isNotNull()
        | F.col("doc_id").isNull()
        | F.col("n_chars").isNull()
    )
    return raw.agg(
        F.count(F.when(~bad, 1)).cast("bigint").alias("n_good"),
        F.count(F.when(bad, 1)).cast("bigint").alias("n_quarantined"),
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(F.when(~bad, F.col("doc_id")))
        .cast("bigint")
        .alias("sum_good_doc_id"),
        F.sum(F.when(~bad, F.col("n_chars")))
        .cast("bigint")
        .alias("sum_good_n_chars"),
    )


# Deterministic malformed CSV lines planted next to the clean export for
# q236. Spark's PERMISSIVE parser only routes TYPE failures to the
# corrupt-record column — short rows are null-PADDED and long rows have
# extra tokens DROPPED without complaint (verified against Spark 4.1) —
# so a real ingest contract layers a required-field nullability check on
# top of the parser channel; the arity lines here are caught by THAT
# layer. Data-independent, so the quarantine count is the same literal
# on both engines.
_Q236_BAD_LINES = (
    "notanint,some text,en,web,42",  # doc_id fails bigint parse -> corrupt
    "123,text only",  # arity short: null-padded -> required-field check
    "124,text,en,web,seventeen,EXTRA",  # long + bad n_chars -> corrupt
    "125,text,en,web,notanint",  # n_chars fails bigint parse -> corrupt
    "x,y",  # bad doc_id -> corrupt
)


@_q(
    "q236_csv_quarantine",
    f"""
    WITH good AS (SELECT doc_id, n_chars FROM documents
                  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST({len(_Q236_BAD_LINES)} AS BIGINT) AS n_quarantined,
           CAST(COUNT(*) + {len(_Q236_BAD_LINES)} AS BIGINT) AS n_total,
           CAST(SUM(doc_id) AS BIGINT) AS sum_good_doc_id,
           CAST(SUM(n_chars) AS BIGINT) AS sum_good_n_chars
    FROM good
    """,
)
def q236_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input contract for the CSV source (the first thing a
    real user hits with file-based ingest, VERDICT r8 Next #5): export
    the documents table as headerless CSV, PLANT five deterministic
    malformed lines (non-integer bigint fields, wrong arity) in a
    sidecar part file, then re-read the directory in PERMISSIVE mode
    with ``columnNameOfCorruptRecord`` so bad lines land in a
    quarantine column instead of killing the job (FAILFAST — the mode a
    curated-zone loader uses — is pinned to raise on the same fixture
    in test_smoke). Quarantine = the parser's corrupt channel OR a
    required-field null: PERMISSIVE null-pads short rows and silently
    drops extra tokens, so arity errors surface as nulls, never as
    corrupt records — a real contract needs both layers. Returns the audit row every ingest contract needs:
    good/quarantined/total counts plus two value checksums over the
    GOOD rows proving the survivors parsed correctly (the oracle
    computes them from the original parquet — quarantine must lose
    nothing and corrupt nothing). Scale shape: one distributed write +
    one distributed read + one map-combinable aggregate; the corrupt
    column is projected only into counts, never collected."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = _scratch_dir(spark, "q236_csv", sf_dir)
    (
        docs.write.mode("overwrite")
        .option("header", False)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    with open(os.path.join(path, "part-99999-planted-bad.csv"), "w") as fh:
        fh.write("\n".join(_Q236_BAD_LINES) + "\n")
    raw = (
        spark.read.schema(_DOCS_SCHEMA + ", _corrupt string")
        .option("header", False)
        .option("quote", '"')
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    return _quarantine_report(raw)


# q237's planted bad JSON lines: syntax failure (whole record null +
# corrupt), type failures (partial parse + corrupt — verified: Spark
# keeps the parseable fields and still fills the corrupt column), and a
# missing required field (NOT corrupt: JSON absence is null, only the
# required-field layer sees it). Data-independent literals.
_Q237_BAD_LINES = (
    '{"doc_id": "notanint", "text": "t", "lang": "en",'
    ' "source": "web", "n_chars": 2}',
    "{broken json",
    '{"doc_id": 90000001, "text": "beta", "lang": "de", "source": "book"}',
    '{"doc_id": 4.7, "text": "h", "lang": "en", "source": "web", "n_chars": 1}',
)


@_q(
    "q237_jsonl_quarantine",
    f"""
    WITH good AS (SELECT doc_id, n_chars FROM documents
                  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST({len(_Q237_BAD_LINES)} AS BIGINT) AS n_quarantined,
           CAST(COUNT(*) + {len(_Q237_BAD_LINES)} AS BIGINT) AS n_total,
           CAST(SUM(doc_id) AS BIGINT) AS sum_good_doc_id,
           CAST(SUM(n_chars) AS BIGINT) AS sum_good_n_chars
    FROM good
    """,
)
def q237_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q236's contract on the JSONL source — the crawl-dump interchange
    format, where malformation is the NORM at ingest: export documents
    as newline-delimited JSON, plant four deterministic bad lines (a
    syntax failure, two type failures, a missing required field), and
    re-read in PERMISSIVE mode with ``columnNameOfCorruptRecord``.
    JSON's failure taxonomy differs from CSV's (verified on this
    Spark): type failures KEEP the parseable sibling fields and still
    mark the record corrupt, a missing field is silently null (never
    corrupt), extra fields are ignored — so the same two-layer
    quarantine (corrupt channel + required-field nulls) is what makes
    the contract airtight. Same audit row and checksums as q236,
    oracled against the original parquet."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = _scratch_dir(spark, "q237_jsonl", sf_dir)
    docs.write.mode("overwrite").json(path)
    with open(os.path.join(path, "part-99999-planted-bad.json"), "w") as fh:
        fh.write("\n".join(_Q237_BAD_LINES) + "\n")
    raw = (
        spark.read.schema(_DOCS_SCHEMA + ", _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    return _quarantine_report(raw)


@_q(
    "q247_parquet_schema_drift",
    """
    WITH v1 AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 2 = 0),
         v2 AS (SELECT doc_id, n_chars, n_chars * 1000 AS quality_e6
                FROM documents WHERE doc_id % 2 = 1)
    SELECT CAST((SELECT COUNT(*) FROM v1) + (SELECT COUNT(*) FROM v2)
                AS BIGINT) AS n_total,
           CAST((SELECT COUNT(*) FROM v1) AS BIGINT) AS n_legacy,
           CAST((SELECT COUNT(*) FROM v2) AS BIGINT) AS n_evolved,
           CAST((SELECT SUM(n_chars) FROM v1)
                + (SELECT SUM(n_chars) FROM v2) AS BIGINT) AS sum_n_chars,
           CAST((SELECT SUM(quality_e6) FROM v2) AS BIGINT) AS sum_quality_e6,
           CAST((SELECT SUM(doc_id) FROM v1) AS BIGINT) AS sum_legacy_doc_id
    """,
)
def q247_parquet_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift ingest contract for the parquet source — completing
    the malformed-ingest family (q236 CSV, q237 JSONL) with the failure
    mode COLUMNAR lakes actually hit: a producer evolves the schema
    mid-stream, so the landing zone holds a mix of file schemas. Two
    batches are written — legacy (doc_id, text, n_chars) and evolved
    (doc_id, n_chars, quality_e6: text DROPPED, a column ADDED) — and
    read back as one relation with ``mergeSchema=true``, Spark's
    schema-union semantics: added columns are null for legacy files,
    dropped columns null for evolved files, never an error. (The third
    taxonomy arm — the same column changing TYPE across files — fails
    the merge outright and is pinned as an exception in test_smoke,
    with FAILFAST-style fixed-schema reads silently null-filling as the
    CSV/JSON contracts documented.) Returns the drift-audit row: batch
    counts recovered from column presence plus checksums over both
    schema generations, oracled against the original parquet. Scale
    shape: two distributed writes, one merged read (footer-only schema
    union), ONE map-combined aggregate."""
    docs = _t(spark, sf_dir, "documents")
    base = _scratch_dir(spark, "q247_drift", sf_dir)
    v1 = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text", "n_chars"
    )
    v2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "n_chars",
        (F.col("n_chars") * 1000).cast("bigint").alias("quality_e6"),
    )
    p1, p2 = os.path.join(base, "batch1"), os.path.join(base, "batch2")
    v1.write.mode("overwrite").parquet(p1)
    v2.write.mode("overwrite").parquet(p2)
    merged = spark.read.option("mergeSchema", "true").parquet(p1, p2)
    legacy = F.col("quality_e6").isNull()  # evolved files always fill it
    return merged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.count(F.when(legacy, 1)).cast("bigint").alias("n_legacy"),
        F.count(F.when(~legacy, 1)).cast("bigint").alias("n_evolved"),
        F.sum("n_chars").cast("bigint").alias("sum_n_chars"),
        F.sum("quality_e6").cast("bigint").alias("sum_quality_e6"),
        F.sum(F.when(legacy, F.col("doc_id")))
        .cast("bigint")
        .alias("sum_legacy_doc_id"),
    )
