"""Declarative data-quality expectations over a DataFrame.

The training-data analog of the reference's runtime guardrails
(reference `classes.py:77-79`, `eth-contract.py:114-118` print-and-skip
error handling): instead of per-row try/except at ingest time, declare
table-level constraints and evaluate them all in as few passes as the
constraint mix allows:

- scalar constraints (not-null, range, accepted-set, regex) fold into
  ONE conditional-aggregation scan — adding a constraint adds a column,
  not a pass;
- key uniqueness is one group-by on the key;
- referential integrity is one anti-join per foreign key (broadcast
  when the parent side is dimension-sized).

Result: one row per constraint ``(constraint, n_checked, n_violations)``
— small enough to collect, alert on, or append to a quality-history
table. At 100 TB the scalar suite stays a single scan of the fact table
and every auxiliary check shuffles only keys, never payloads.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["not_null", "in_range", "accepted_values", "matches", "unique_key", "foreign_key", "run_suite"]


def not_null(col: str) -> tuple[str, Column]:
    return f"not_null({col})", F.col(col).isNull()


def in_range(col: str, lo=None, hi=None) -> tuple[str, Column]:
    cond = F.lit(False)
    if lo is not None:
        cond = cond | (F.col(col) < lo)
    if hi is not None:
        cond = cond | (F.col(col) > hi)
    return f"in_range({col})", F.col(col).isNotNull() & cond


def accepted_values(col: str, values: list) -> tuple[str, Column]:
    return f"accepted_values({col})", F.col(col).isNotNull() & ~F.col(col).isin(values)


def matches(col: str, pattern: str) -> tuple[str, Column]:
    return f"matches({col})", F.col(col).isNotNull() & ~F.col(col).rlike(pattern)


def unique_key(df: DataFrame, cols: list[str]) -> DataFrame:
    """Rows participating in a duplicated key (count over key > 1)."""
    dup = (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .agg(
            F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("n_violations"),
        )
    )
    total = df.agg(F.count(F.lit(1)).cast("long").alias("n_checked"))
    return total.crossJoin(dup).select(
        F.lit(f"unique_key({','.join(cols)})").alias("constraint"),
        "n_checked",
        "n_violations",
    )


def foreign_key(
    child: DataFrame,
    col: str,
    parent: DataFrame,
    parent_col: str,
) -> DataFrame:
    """Non-null child keys with no parent row (left anti join; parent
    side reduced to distinct keys and broadcast). The broadcast is right
    for dimension-sized parents, which is every caller today; a
    fact-sized parent (e.g. a transactions table) needs the shuffle
    anti-join instead — a forced broadcast of billions of keys is a
    driver OOM."""
    keys = F.broadcast(parent.select(F.col(parent_col).alias("__pk")).distinct())
    orphans = (
        child.filter(F.col(col).isNotNull())
        .join(keys, F.col(col) == F.col("__pk"), "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
    )
    total = child.agg(F.count(F.lit(1)).cast("long").alias("n_checked"))
    return total.crossJoin(orphans).select(
        F.lit(f"foreign_key({col})").alias("constraint"),
        "n_checked",
        "n_violations",
    )


def run_suite(df: DataFrame, scalar_checks: list[tuple[str, Column]], extra: list[DataFrame] = ()) -> DataFrame:
    """Evaluate all scalar checks in ONE pass (conditional aggregation),
    union in the multi-row checks (uniqueness / FK DataFrames), return
    `(constraint, n_checked, n_violations)` sorted by constraint name.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("__total")]
    for i, (_, viol) in enumerate(scalar_checks):
        # coalesce: zero rows checked = ZERO violations, not NULL (SUM
        # over an empty table is NULL on both engines)
        aggs.append(
            F.coalesce(F.sum(F.when(viol, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(f"__c{i}")
        )
    row = df.agg(*aggs)
    scalar = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("constraint"),
                        F.col("__total").alias("n_checked"),
                        F.col(f"__c{i}").alias("n_violations"),
                    )
                    for i, (name, _) in enumerate(scalar_checks)
                ]
            )
        ).alias("c")
    ).select("c.constraint", "c.n_checked", "c.n_violations")
    out = scalar
    for e in extra:
        out = out.unionByName(e)
    return out.orderBy("constraint")


def observed(df: DataFrame, name: str, checks: list[tuple[str, Column]]):
    """Attach the scalar constraint suite to a DataFrame as zero-cost
    in-flight metrics (`Dataset.observe`): the violation counters are
    accumulated by the SAME job that produces/writes `df` — no second
    scan, no extra shuffle, metrics available the moment the action
    finishes.

    This is the production shape for "validate while exporting" at
    100 TB: `run_suite` costs one dedicated pass; `observed` costs
    nothing beyond the export itself. Returns ``(observed_df,
    observation)``; read ``observation.get`` after any action on
    ``observed_df`` to get ``{'n_rows': ..., '<constraint>': count}``.

    (Reference parity note: this replaces the reference's per-row
    print-and-skip guardrails, e.g. eth-contract.py:114-118, with
    counters that do not interrupt the pipeline.)
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.when(viol, 1).otherwise(0)).alias(cname) for cname, viol in checks
    ]
    return df.observe(obs, *metrics), obs
