"""Declarative data-contract validation (round 7).

A pipeline promotes a new data generation only after it passes its
contract: row-level invariants (ranges, domains, nullability,
cross-column ordering) and dataset-level ones (key uniqueness). The
reference has no such layer (its validation stops at type coercion,
processor/transformer.go:118-190); for a 100 TB training-data flow the
contract gate is what keeps a bad upstream drop from poisoning a run.

Spark-first shape: ALL row-level rules compile into ONE aggregate pass
— each rule is a conditional sum over the same scan (map-side
combined, no per-rule jobs), unpivoted to one row per rule via an
inline rules table. Uniqueness adds one groupBy per key set (its own
shuffle by necessity), unioned into the same report schema.

Determinism: counts are exact integers; pass_rate is one IEEE
division. Rule predicates must be engine-portable expressions when an
oracle is wanted (the q155 spec keeps to comparisons/IN/IS NULL).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

REPORT_SCHEMA = "rule string, checked bigint, violations bigint, pass_rate double"

#: rule names are interpolated into stack()/SQL literals on both the
#: Spark and oracle sides — restrict to identifier-ish names so a
#: quote can never break the generated expression (round-7 code-review
#: finding)
_RULE_NAME_RE = re.compile(r"^[A-Za-z0-9_.\- ]+$")


def _check_rule_names(*rule_dicts) -> None:
    for d in rule_dicts:
        for name in d or ():
            if not _RULE_NAME_RE.match(name):
                raise ValueError(
                    f"rule name {name!r} must match {_RULE_NAME_RE.pattern}"
                )


def _finish_report(df: DataFrame) -> DataFrame:
    """(rule, checked, violations) → the REPORT_SCHEMA projection —
    one definition of the pass_rate formula for both rule kinds."""
    return df.select(
        "rule",
        F.col("checked").cast("bigint"),
        F.col("violations").cast("bigint"),
        (
            (F.col("checked") - F.col("violations")).cast("double")
            / F.col("checked").cast("double")
        ).alias("pass_rate"),
    )


def validate_contract(
    df: DataFrame,
    row_rules: dict[str, Column],
    unique_keys: dict[str, list[str]] | None = None,
) -> DataFrame:
    """One report row per rule: (rule, checked, violations, pass_rate).

    ``row_rules`` maps rule name → a BOOLEAN Column that is True when
    the row SATISFIES the rule; a NULL verdict (e.g. a comparison over
    a NULL value) counts as a violation — contracts are
    guilty-until-proven for missing data, matching SQL three-valued
    logic pitfalls a naive ``WHERE NOT rule`` would silently skip.

    ``unique_keys`` maps rule name → key column list; its ``checked``
    is the number of DISTINCT keys and ``violations`` the number of
    keys appearing more than once.

    Plan: one HashAggregate over the scan for every row rule together
    (conditional sums share the pass), then per-uniqueness-rule one
    map-combined groupBy whose second-level aggregate is
    key-cardinality sized. Report is rules-count rows.
    """
    _check_rule_names(row_rules, unique_keys)
    if not row_rules and not unique_keys:
        raise ValueError("contract needs at least one rule")
    spark = df.sparkSession
    if row_rules:
        checks = [
            F.sum(F.when(cond.isNull() | ~cond, 1).otherwise(0)).alias(f"_v{i}")
            for i, (name, cond) in enumerate(row_rules.items())
        ]
        agg = df.agg(F.count(F.lit(1)).alias("_n"), *checks)
        # unpivot the single aggregate row into one report row per rule
        pairs = ", ".join(
            f"'{name}', _v{i}" for i, name in enumerate(row_rules)
        )
        report = _finish_report(
            agg.selectExpr(
                f"stack({len(row_rules)}, {pairs}) as (rule, violations)",
                "_n as checked",
            )
        )
    else:  # uniqueness-only contract: stack(0, ...) would not parse
        from .store import local_frame

        report = local_frame(spark, [], REPORT_SCHEMA)
    for name, keys in (unique_keys or {}).items():
        per_key = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_c"))
        uniq = _finish_report(
            per_key.agg(
                F.count(F.lit(1)).alias("checked"),
                F.sum(F.when(F.col("_c") > 1, 1).otherwise(0)).alias("violations"),
            ).select(F.lit(name).alias("rule"), "checked", "violations")
        )
        report = report.unionByName(uniq)
    return report


def contract_oracle_sql(
    source_sql: str,
    row_rules: dict[str, str],
    unique_keys: dict[str, list[str]] | None = None,
) -> str:
    """DuckDB SQL for the identical report. ``row_rules`` values are
    SQL boolean expressions (the satisfied-direction of the same
    predicates); NULL verdicts count as violations here too via
    ``NOT coalesce(cond, false)``."""
    _check_rule_names(row_rules, unique_keys)
    selects = []
    for name, cond in row_rules.items():
        selects.append(
            f"SELECT '{name}' AS rule, CAST(count(*) AS BIGINT) AS checked,"
            f" CAST(sum(CASE WHEN NOT coalesce({cond}, false) THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS violations FROM src"
        )
    for name, keys in (unique_keys or {}).items():
        kl = ", ".join(keys)
        selects.append(
            f"SELECT '{name}' AS rule, CAST(count(*) AS BIGINT) AS checked,"
            f" CAST(sum(CASE WHEN _c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violations"
            f" FROM (SELECT {kl}, count(*) AS _c FROM src GROUP BY {kl})"
        )
    union = " UNION ALL ".join(selects)
    return f"""
    WITH src AS ({source_sql})
    SELECT rule, checked, violations,
           CAST(checked - violations AS DOUBLE) / CAST(checked AS DOUBLE) AS pass_rate
    FROM ({union})
    """
