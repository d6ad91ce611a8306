"""Declarative data-quality constraints (one-pass Deequ-style checks).

Before a corpus feeds training, a 100 TB pipeline asserts invariants —
keys unique, required columns complete, numerics in range, categories
in vocabulary — and records the MEASURED value next to each verdict so
drift is visible, not just breakage.  These helpers compile a rule
list into ONE aggregation pass (plus Expand for the distinct counts)
and emit a tidy report:

    (rule, column, metric, value, threshold, passed)

Rule kinds (thresholds are "metric must be >= / <= bound"):

- ``complete``   — fraction of non-null rows            (>= bound)
- ``unique``     — distinct/total ratio of a column     (>= bound)
- ``min``/``max``— column extremum                      (>= / <= bound)
- ``in_set``     — fraction of non-null values in a set (>= bound)
- ``matches``    — fraction of non-null values matching a Java-regex ∩
                   RE2 pattern (>= bound) — keep patterns in the
                   portable dialect (operators/pii.py convention) so
                   the DuckDB twin runs them verbatim
- ``satisfies``  — fraction of rows passing an arbitrary SQL boolean
                   expression (>= bound); the expression must be valid
                   in both engines for the oracle to hold

Everything is Catalyst expressions inside one ``agg`` — adding rules
adds aggregate columns, never passes; the report pivot is a literal
``stack``, still plan-side.  Ratios divide in IEEE doubles with the
same operand order in the SQL twin (``constraints_sql``), so the DuckDB
replay is values-grade with the repo's floor-u6 double
convention.

``passed`` uses >= for lower bounds / <= for ``max`` on the EXACT
measured value; emit thresholds from config, not eyeballs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_LOWER = {"complete", "unique", "in_set", "matches", "satisfies", "min"}


def _metric(rule: dict) -> Column:
    kind = rule["kind"]
    col = F.col(rule["col"]) if "col" in rule else None
    if kind == "complete":
        return F.avg(col.isNotNull().cast("double"))
    if kind == "unique":
        return (F.countDistinct(col).cast("double")
                / F.count(F.lit(1)).cast("double"))
    if kind == "min":
        return F.min(col).cast("double")
    if kind == "max":
        return F.max(col).cast("double")
    if kind == "in_set":
        vals = F.array(*[F.lit(v) for v in rule["values"]])
        return F.avg(F.when(col.isNotNull(),
                            F.array_contains(vals, col).cast("double")))
    if kind == "matches":
        return F.avg(F.when(col.isNotNull(),
                            col.rlike(rule["pattern"]).cast("double")))
    if kind == "satisfies":
        return F.avg(F.expr(rule["expr"]).cast("double"))
    raise ValueError(f"constraints: unknown rule kind {kind!r}")


def dq_check(df: DataFrame, rules: list[dict]) -> DataFrame:
    """→ (rule, column, metric, value, threshold, passed) — one row per
    rule, computed in one aggregation pass.  Each rule dict:
    {"name": ..., "kind": ..., "col"/"expr"/..., "bound": float}."""
    if not rules:
        raise ValueError("dq_check: no rules")
    names = []
    aggs = []
    for i, r in enumerate(rules):
        names.append(r.get("name") or f"rule_{i}")
        aggs.append(_metric(r).alias(f"__m{i}"))
    one = df.agg(*aggs)
    stack_args = []
    for i, r in enumerate(rules):
        bound = float(r["bound"])
        lower = r["kind"] in _LOWER
        stack_args += [
            F.lit(names[i]),
            F.lit(r.get("col", r.get("expr", ""))),
            F.lit(r["kind"]),
            F.col(f"__m{i}"),
            F.lit(bound),
            (F.col(f"__m{i}") >= F.lit(bound)) if lower
            else (F.col(f"__m{i}") <= F.lit(bound)),
        ]
    n = len(rules)
    return one.select(F.stack(
        F.lit(n), *stack_args).alias("rule", "column", "metric",
                                     "value", "threshold", "passed"))


def _metric_sql(rule: dict) -> str:
    kind, col = rule["kind"], rule.get("col")
    if kind == "complete":
        return f"AVG(CAST({col} IS NOT NULL AS DOUBLE))"
    if kind == "unique":
        return (f"CAST(COUNT(DISTINCT {col}) AS DOUBLE)"
                f" / CAST(COUNT(*) AS DOUBLE)")
    if kind == "min":
        return f"CAST(MIN({col}) AS DOUBLE)"
    if kind == "max":
        return f"CAST(MAX({col}) AS DOUBLE)"
    if kind == "in_set":
        lits = ", ".join(f"'{v}'" for v in rule["values"])
        return (f"AVG(CASE WHEN {col} IS NULL THEN NULL"
                f" ELSE CAST({col} IN ({lits}) AS DOUBLE) END)")
    if kind == "matches":
        return (f"AVG(CASE WHEN {col} IS NULL THEN NULL ELSE "
                f"CAST(regexp_matches({col}, '{rule['pattern']}')"
                f" AS DOUBLE) END)")
    if kind == "satisfies":
        return f"AVG(CAST(({rule['expr']}) AS DOUBLE))"
    raise ValueError(f"constraints: unknown rule kind {kind!r}")


def constraints_sql(table: str, rules: list[dict]) -> str:
    """DuckDB mirror of ``dq_check`` for values oracles: same metrics,
    same operand order, UNION ALL instead of stack."""
    parts = []
    for i, r in enumerate(rules):
        name = r.get("name") or f"rule_{i}"
        colname = r.get("col", r.get("expr", ""))
        bound = float(r["bound"])
        op = ">=" if r["kind"] in _LOWER else "<="
        m = _metric_sql(r)
        parts.append(
            f"SELECT '{name}' AS rule, '{colname}' AS \"column\","
            f" '{r['kind']}' AS metric, {m} AS value,"
            f" CAST({bound} AS DOUBLE) AS threshold,"
            f" {m} {op} {bound} AS passed"
            f" FROM {table}")
    return " UNION ALL ".join(parts)
