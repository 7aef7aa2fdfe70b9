"""Validation-split ingestion (quarantine pattern) — the warehouse
counterpart to P6's keep-only filter (ref app.py:79-93 validates
client-side and silently rejects): every ingest row either passes ALL
rules and continues, or routes to a quarantine output carrying the
NAMES of the rules it violated, so bad data is triaged instead of
dropped.

Scale design: rule evaluation is one pass of pure column expressions
(each rule a boolean Column), and the violation list is an array
built scan-side. The clean sink keeps the tagged rows with an empty
`violations` array, the quarantine sink the rest — at 100 TB both
are written from one job (`df.persist()` or `foreachBatch` fan-out)
so the source is read once. No Python, no second scan, no shuffle at
all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..registry import register
from ..sources.catalog import Catalog


def tag_violations(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Append a `violations` array column naming every failed rule
    (empty array = clean). Null rule results count as violations —
    a validation that cannot be evaluated must not pass the row."""
    checks = [
        F.when(~F.coalesce(cond, F.lit(False)), F.lit(name))
        for name, cond in rules.items()
    ]
    return df.withColumn(
        "violations",
        F.array_compact(F.array(*checks)) if checks else
        F.array().cast("array<string>"),
    )


#: ingest rules for the events stream (the reference's validation
#: shapes recast server-side): a known event type, a non-negative
#: value, a present user and timestamp, and parseable props JSON
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def _event_rules() -> dict[str, Column]:
    return {
        "known_event_type": F.col("event_type").isin(*EVENT_TYPES),
        "non_negative_value": F.col("value") >= 0,
        "has_user": F.col("user_id").isNotNull(),
        "has_ts": F.col("ts").isNotNull(),
        "valid_props_json": F.get_json_object(F.col("props"), "$.k")
        .isNotNull(),
    }


def _corrupted_events(cat: Catalog) -> DataFrame:
    """The driver's events table is fully clean, which would make the
    quarantine report a vacuous single `__clean__` row — so the query
    plants deterministic corruption on disjoint event_id slices (same
    pattern as the planted embedding dedup): an unknown event type, a
    negated value, a nulled user, and unparseable props. Both engines
    express the identical mutation, so the oracle stays value-exact
    while every rule exercises its violation path."""
    return cat.events.select(
        "event_id", "ts",
        F.when(F.col("event_id") % 101 == 5, F.lit(None).cast("bigint"))
        .otherwise(F.col("user_id")).alias("user_id"),
        F.when(F.col("event_id") % 103 == 7, F.lit("bogus"))
        .otherwise(F.col("event_type")).alias("event_type"),
        F.when(F.col("event_id") % 107 == 11, -F.col("value") - 1)
        .otherwise(F.col("value")).alias("value"),
        F.when(F.col("event_id") % 109 == 13, F.lit("not json"))
        .otherwise(F.col("props")).alias("props"),
    )


def ingest_quarantine_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule violation counts plus the clean/quarantined totals —
    the ingest health dashboard a quarantine pipeline publishes."""
    cat = Catalog(spark, sf_dir)
    tagged = tag_violations(_corrupted_events(cat), _event_rules())
    per_rule = (
        tagged.select(F.explode("violations").alias("rule"))
        .groupBy("rule")
        .agg(F.count("*").cast("long").alias("n_violations"))
    )
    totals = tagged.select(
        F.when(F.size("violations") == 0, F.lit("__clean__"))
        .otherwise(F.lit("__quarantined__")).alias("rule")
    ).groupBy("rule").agg(F.count("*").cast("long").alias("n_violations"))
    return per_rule.unionByName(totals).orderBy("rule")


_RULES_SQL = {
    "known_event_type": "event_type IN ('view','click','purchase','signup','error')",
    "non_negative_value": "value >= 0",
    "has_user": "user_id IS NOT NULL",
    "has_ts": "ts IS NOT NULL",
    # DuckDB's json_extract_string RAISES on malformed JSON while
    # Spark's get_json_object returns NULL — and this query plants
    # 'not json' rows on purpose, so the extract must be guarded with
    # json_valid to reproduce Spark's null-on-invalid semantics.
    "valid_props_json": (
        "CASE WHEN json_valid(props) "
        "THEN json_extract_string(props, '$.k') END IS NOT NULL"
    ),
}

_VIOL_SQL = " + ".join(
    f"CASE WHEN NOT COALESCE({cond}, FALSE) THEN 1 ELSE 0 END"
    for cond in _RULES_SQL.values())

INGEST_QUARANTINE_SQL = f"""
WITH ev AS (
    SELECT event_id, ts,
           CASE WHEN event_id % 101 = 5 THEN NULL ELSE user_id END
               AS user_id,
           CASE WHEN event_id % 103 = 7 THEN 'bogus' ELSE event_type END
               AS event_type,
           CASE WHEN event_id % 107 = 11 THEN -value - 1 ELSE value END
               AS value,
           CASE WHEN event_id % 109 = 13 THEN 'not json' ELSE props END
               AS props
    FROM events
),
per_rule AS (
    {" UNION ALL ".join(
        f"SELECT '{name}' AS rule, "
        f"CAST(SUM(CASE WHEN NOT COALESCE({cond}, FALSE) THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n_violations FROM ev"
        for name, cond in _RULES_SQL.items())}
),
totals AS (
    SELECT CASE WHEN ({_VIOL_SQL}) = 0 THEN '__clean__'
                ELSE '__quarantined__' END AS rule,
           CAST(COUNT(*) AS BIGINT) AS n_violations
    FROM ev GROUP BY 1
)
SELECT rule, n_violations FROM (
    SELECT * FROM per_rule WHERE n_violations > 0
    UNION ALL SELECT * FROM totals
) ORDER BY rule
"""

register("ingest_quarantine_report", ingest_quarantine_report,
         INGEST_QUARANTINE_SQL)


def read_json_with_quarantine(spark: SparkSession, path: str,
                              schema) -> tuple[DataFrame, DataFrame]:
    """Parse-level quarantine — the layer BELOW the rule-based split
    above: read newline-JSON under an explicit schema in PERMISSIVE
    mode, capturing rows Spark cannot parse (malformed JSON, type
    mismatches) in a `_corrupt_record` column instead of failing the
    job (FAILFAST) or silently dropping them (DROPMALFORMED). Returns
    (clean, corrupt): clean rows fully typed with the capture column
    removed; corrupt rows as (raw_line) for triage — together with
    tag_violations this gives both halves of real-world ingestion:
    can't-parse and parsed-but-invalid.

    Scale: the PERMISSIVE capture is scan-side (no extra pass); both
    outputs filter the SAME read. The parsed frame is pin()ned —
    Spark refuses corrupt-column-only projections over a raw file
    scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and
    the cache is also exactly the one-read fan-out discipline the
    rule split documents; callers release via cache.release_all()
    after materializing both sinks. Spark requires the capture column
    present in the user schema — appended here, never stored."""
    from pyspark.sql.types import StringType, StructType

    from ..cache import pin

    assert isinstance(schema, StructType)
    capture = "_corrupt_record"
    full = StructType(schema.fields).add(capture, StringType())
    df = pin(spark.read.schema(full)
             .option("mode", "PERMISSIVE")
             .option("columnNameOfCorruptRecord", capture)
             .json(path))
    clean = df.filter(F.col(capture).isNull()).drop(capture)
    corrupt = (df.filter(F.col(capture).isNotNull())
               .select(F.col(capture).alias("raw_line")))
    return clean, corrupt
