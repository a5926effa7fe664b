"""Declarative data-quality checks (SURVEY §5).

The reference configures dbt with a test path but ships zero tests; this
module supplies the checks its schema *should* have declared —
not_null / unique / accepted_values / relationship (referential integrity) —
as composable DataFrame assertions.

Two shapes of the same checks:

- ``check_*``: one check, one action — the reference implementations.
- ``run_checks_fused``: every check declared on a table folded into ONE
  aggregate over ONE build of that table. Each check becomes a per-row
  violation flag summed in a single ``agg``: not_null / accepted_values /
  positive are scan-local; ``unique`` is ``count(*) OVER (PARTITION BY key)
  > 1`` (one exchange per key); ``relationship`` is ``NOT EXISTS`` against
  the parent's broadcast key column, planned as an existence join: a NULL
  or missing key is an orphan and duplicate parent keys cannot multiply
  child rows — the left-anti count, without a second pass over the child.

``run_star_schema_checks`` declares the star-schema suite as three fused
aggregates (fact, dim_product, dim_date), cross-joins their single rows and
collects once: each checked table is built once per suite, instead of once
per check. Results come back as plain records so callers can route them
(fail the pipeline, emit metrics, write an audit table).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Row, Window
from pyspark.sql import functions as F


@dataclass
class CheckResult:
    check: str
    table: str
    column: str
    violations: int

    @property
    def passed(self) -> bool:
        return self.violations == 0


def check_not_null(df: DataFrame, column: str, table: str = "") -> CheckResult:
    n = df.filter(F.col(column).isNull()).count()
    return CheckResult("not_null", table, column, n)


def check_unique(df: DataFrame, column: str, table: str = "") -> CheckResult:
    dup = (
        df.groupBy(column)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("v"))
        .collect()[0]
        .v
    )
    return CheckResult("unique", table, column, int(dup))


def check_accepted_values(
    df: DataFrame, column: str, values: list, table: str = ""
) -> CheckResult:
    """dbt semantics: a NULL is not_null's business, not a violation here
    (``NOT IN`` on NULL is NULL, which the filter drops)."""
    n = df.filter(~F.col(column).isin(values)).count()
    return CheckResult("accepted_values", table, column, n)


def check_relationship(
    child: DataFrame,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
    table: str = "",
) -> CheckResult:
    """Referential integrity: every child FK must exist in the parent —
    violations are the anti-join count (orphan rows)."""
    orphans = child.select(F.col(child_col).alias("__k")).join(
        parent.select(F.col(parent_col).alias("__k")), on="__k", how="left_anti"
    )
    return CheckResult("relationship", table, child_col, orphans.count())


def _violation_row(
    df: DataFrame,
    prefix: str,
    not_null: list[str] | None = None,
    unique: list[str] | None = None,
    accepted_values: dict[str, list] | None = None,
    positive: list[str] | None = None,
    relationship: dict[str, tuple[DataFrame, str]] | None = None,
) -> tuple[DataFrame | None, list[tuple[str, str, str]]]:
    """One lazy single-row aggregate holding every declared check's
    violation count, plus the (output column, check, column) label of
    each; output columns are ``{prefix}{i}``. ``relationship`` maps a child column to its
    (parent, parent_col); the parent key column is broadcast, as an FK's
    parent is a dimension."""
    flags: list[Column] = []
    labels: list[tuple[str, str]] = []
    for c in not_null or []:
        flags.append(F.col(c).isNull())
        labels.append(("not_null", c))
    for c in unique or []:
        flags.append(F.count(F.lit(1)).over(Window.partitionBy(c)) > 1)
        labels.append(("unique", c))
    for c, vals in (accepted_values or {}).items():
        flags.append(F.col(c).isNotNull() & ~F.col(c).isin(vals))
        labels.append(("accepted_values", c))
    for c in positive or []:
        flags.append(F.col(c).isNotNull() & (F.col(c) <= 0))
        labels.append(("positive", c))
    for c, (parent, parent_col) in (relationship or {}).items():
        keys = F.broadcast(parent.select(F.col(parent_col).alias("__parent_key")))
        flags.append(~keys.where(F.col("__parent_key") == F.col(c).outer()).exists())
        labels.append(("relationship", c))
    if not flags:
        return None, []
    names = [f"{prefix}{i}" for i in range(len(flags))]
    row = df.select(
        *[f.cast("bigint").alias(n) for f, n in zip(flags, names)]
    ).agg(*[F.sum(n).alias(n) for n in names])
    return row, [(n, check, col) for n, (check, col) in zip(names, labels)]


def _results(
    values: Row, labels: list[tuple[str, str, str]], table: str
) -> list[CheckResult]:
    return [
        CheckResult(check, table, col, int(values[name] or 0))
        for name, check, col in labels
    ]


def run_checks_fused(
    df: DataFrame,
    not_null: list[str] | None = None,
    accepted_values: dict[str, list] | None = None,
    positive: list[str] | None = None,
    table: str = "",
    unique: list[str] | None = None,
    relationship: dict[str, tuple[DataFrame, str]] | None = None,
) -> list[CheckResult]:
    """Every declared check on ``df`` in ONE aggregate over ONE build of
    it — at 100 TB the difference between a quality gate that costs one
    pass and one that costs one pass per declared check. Results come in
    declaration-group order: not_null, unique, accepted_values, positive,
    relationship."""
    row, labels = _violation_row(
        df, "v", not_null, unique, accepted_values, positive, relationship
    )
    return [] if row is None else _results(row.collect()[0], labels, table)


def run_star_schema_checks(tables: dict[str, DataFrame]) -> list[CheckResult]:
    """The dbt-style suite for the built star schema: key integrity on the
    fact and dims (what dbt/models/*/schema.yml should have declared).
    One fused aggregate per checked table, all collected in one action."""
    from market_flow_spark.operators import dims, star

    fact = star.fact_transactions(tables)
    dim_product = dims.dim_product(tables["part"])
    dim_date = dims.dim_date_scaffold(tables["orders"])

    ft = "fact_transactions"
    suites = {
        ft: _violation_row(
            fact,
            ft,
            not_null=["transaction_id", "price"],
            unique=["transaction_id"],
            relationship={
                "product_id": (tables["part"], "p_partkey"),
                "customer_id": (tables["customer"], "c_custkey"),
                "date_sk": (dim_date, "date_sk"),
            },
        ),
        "dim_product": _violation_row(
            dim_product, "dim_product", unique=["product_sk", "p_partkey"]
        ),
        "dim_date": _violation_row(dim_date, "dim_date", unique=["date_sk"]),
    }
    rows = [row for row, _ in suites.values()]
    values = reduce(DataFrame.crossJoin, rows).collect()[0]
    found = {
        (r.check, r.table, r.column): r
        for table, (_, labels) in suites.items()
        for r in _results(values, labels, table)
    }
    return [
        found[key]
        for key in [
            ("not_null", ft, "transaction_id"),
            ("unique", ft, "transaction_id"),
            ("not_null", ft, "price"),
            ("unique", "dim_product", "product_sk"),
            ("unique", "dim_product", "p_partkey"),
            ("unique", "dim_date", "date_sk"),
            ("relationship", ft, "product_id"),
            ("relationship", ft, "customer_id"),
            ("relationship", ft, "date_sk"),
        ]
    ]
