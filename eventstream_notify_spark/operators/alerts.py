"""Rule-based alerting — SURVEY.md §2.F X9 (the north star's
"rule-based alerting" capability; pattern per 'A Hybrid Approach for
Alarm Verification', EDBT 2018 — PAPERS.md).

Rules are DATA, not code: a short list of (event_type guard, metric,
op, threshold) predicates, evaluated against each event as a literal
array of structs inside the query plan. Changing a rule edits
ALERT_RULES, or passes another list to ``apply_rules``. The streaming
twin applies the same frame inside foreachBatch (streaming/pipeline.py)
and lands fired alerts on the notification sink — the engine analogue
of the reference's pub/sub fan-out (auto_kafka_redis.py:374).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventstream_notify_spark.catalog import table
from eventstream_notify_spark.registry import register

# (rule_id, event_type-or-None, metric, op, threshold)
# metric 'value' reads the measure column; 'k' reads props JSON.
ALERT_RULES: list[tuple[int, str | None, str, str, float]] = [
    (1, "error", "value", ">", 150.0),
    (2, None, "value", ">", 190.0),
    (3, "purchase", "value", "<", 10.0),
    (4, "click", "k", ">", 90.0),
]
_RULE_TYPE = "struct<rule_id int, rule_event_type string, metric string, op string, threshold double>"


def _rules_values_sql() -> str:
    rows = ", ".join(
        f"({rid}, {'NULL' if et is None else repr(et)}, '{m}', '{op}', {thr})"
        for rid, et, m, op, thr in ALERT_RULES
    )
    return f"(VALUES {rows}) r(rule_id, rule_event_type, metric, op, threshold)"


def apply_rules(
    events: DataFrame, rules=ALERT_RULES, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Cross-apply the rules to an event frame: each event row is
    paired with every rule by ``inline`` over a literal array of rule
    structs (a Generate in the plan, so no join and no job to build the
    rules), then filtered on the optional event_type guard and the
    predicate over the chosen metric. Returns one row per (event, fired
    rule)."""
    rule_structs = F.array(*(F.struct(*map(F.lit, r)).cast(_RULE_TYPE) for r in rules))
    metric = F.when(F.col("metric") == "value", F.col("value")).otherwise(
        F.get_json_object("props", "$.k").cast("double")
    )
    fired = F.when(F.col("op") == ">", metric > F.col("threshold")).otherwise(
        metric < F.col("threshold")
    )
    type_ok = F.col("rule_event_type").isNull() | (
        F.col("rule_event_type") == F.col("event_type")
    )
    return (
        events.select("*", F.inline(rule_structs))
        .filter(type_ok & fired)
        .select(
            "rule_id",
            "event_id",
            "event_type",
            metric.alias("metric_value"),
            *extra_cols,
        )
    )


# Free-form predicate rules: the general grammar (SURVEY §4.2 #5) —
# any SQL boolean expression over the event row, evaluated via expr().
EXPR_RULES: list[tuple[int, str]] = [
    (101, "event_type = 'error' AND value > 150.0"),
    (102, "value > 190.0"),
    (103, "event_type = 'purchase' AND value < 10.0"),
    (104, "event_type = 'click' AND get_json_object(props, '$.k') > 90"),
    (105, "event_type IN ('signup', 'view') AND pmod(event_id, 1000) = 0"),
]


def apply_expr_rules(
    events: DataFrame, rules: list[tuple[int, str]] = EXPR_RULES
) -> DataFrame:
    """Rules as arbitrary SQL predicates. Each rule compiles to a
    Catalyst expression via expr(); the union of per-rule filters
    shares one scan (Catalyst collapses it) and each predicate can be
    pushed/pruned independently — strictly more expressive than the
    structured (metric, op, threshold) table, at the cost of rules
    being strings. Both forms coexist; choose per deployment."""
    fired = [
        events.filter(F.expr(pred)).select(
            F.lit(rule_id).alias("rule_id"), "event_id", "event_type", "value"
        )
        for rule_id, pred in rules
    ]
    out = fired[0]
    for f in fired[1:]:
        out = out.unionByName(f)
    return out


def _expr_rules_oracle() -> str:
    parts = []
    for rule_id, pred in EXPR_RULES:
        sql_pred = (
            pred.replace(
                "get_json_object(props, '$.k')",
                "CAST(json_extract_string(props, '$.k') AS DOUBLE)",
            )
            .replace("pmod(event_id, 1000)", "((event_id % 1000) + 1000) % 1000")
        )
        parts.append(
            f"SELECT {rule_id} AS rule_id, event_id, event_type, value "
            f"FROM events WHERE {sql_pred}"
        )
    return "\nUNION ALL\n".join(parts)


@register("alert_rules_expr", oracle=_expr_rules_oracle(), extra=True)
def alert_rules_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 variant — free-form SQL-predicate rules over events."""
    return apply_expr_rules(table(spark, sf_dir, "events"))


@register(
    "alert_rules",
    oracle=f"""
    SELECT r.rule_id, e.event_id, e.event_type,
           CASE WHEN r.metric = 'value' THEN e.value
                ELSE CAST(json_extract_string(e.props, '$.k') AS DOUBLE)
           END AS metric_value
    FROM events e
    CROSS JOIN {_rules_values_sql()}
    WHERE (r.rule_event_type IS NULL OR r.rule_event_type = e.event_type)
      AND CASE WHEN r.op = '>' THEN
               CASE WHEN r.metric = 'value' THEN e.value
                    ELSE CAST(json_extract_string(e.props, '$.k') AS DOUBLE)
               END > r.threshold
           ELSE
               CASE WHEN r.metric = 'value' THEN e.value
                    ELSE CAST(json_extract_string(e.props, '$.k') AS DOUBLE)
               END < r.threshold
           END
    """,
)
def alert_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 — which events fire which rules (batch twin of the alerting
    stream). The rules are literals in the plan; the event side is
    scanned once, never shuffled or joined."""
    return apply_rules(table(spark, sf_dir, "events"))
