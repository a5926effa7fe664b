"""The dbt-style data-quality suite over the built star schema, plus checks
that the checks themselves detect violations."""

from __future__ import annotations

from market_flow_spark.quality import (
    check_accepted_values,
    check_not_null,
    check_relationship,
    check_unique,
    run_checks_fused,
    run_star_schema_checks,
)


def test_star_schema_integrity(spark, tables):
    results = run_star_schema_checks(tables)
    failing = [r for r in results if not r.passed]
    assert not failing, f"integrity violations: {failing}"
    assert len(results) == 9


def test_pipeline_quality_gate_fails_on_violation(spark, sf_dir, tmp_path, monkeypatch):
    """run_pipeline must RAISE (not warn) when a check reports violations."""
    import pytest

    from market_flow_spark.plans import pipeline as pl
    from market_flow_spark.quality import CheckResult

    def broken_suite(tables):
        return [CheckResult("unique", "fact_transactions", "transaction_id", 3)]

    monkeypatch.setattr(pl, "run_star_schema_checks", broken_suite)
    with pytest.raises(pl.QualityCheckError) as exc:
        pl.run_pipeline(spark, sf_dir, str(tmp_path / "wh"))
    assert "unique(fact_transactions.transaction_id)=3" in str(exc.value)


def test_checks_detect_violations(spark):
    bad = spark.createDataFrame(
        [(1, "a"), (1, "b"), (None, "c")], "k int, v string"
    )
    parent = spark.createDataFrame([(1,)], "k int")
    assert check_not_null(bad, "k").violations == 1
    assert check_unique(bad, "k").violations == 2  # both rows of the dup key
    assert check_accepted_values(bad, "v", ["a", "b"]).violations == 1
    # orphan: the NULL key and nothing else (1 is present in parent)
    rel = check_relationship(bad, "k", parent, "k")
    assert rel.violations == 1
    assert not rel.passed and check_not_null(bad, "v").passed

    # the fused engine agrees on every kind of violation: NULL keys (which
    # form one duplicate group), a duplicated key, a NULL FK, an orphan FK,
    # and a duplicated parent key that must not multiply child rows
    child = spark.createDataFrame(
        [(1, 10), (1, 10), (None, 20), (None, 30), (2, None), (3, 99), (4, 30)],
        "k int, fk int",
    )
    parent = spark.createDataFrame([(10,), (10,), (20,), (30,)], "pk int")
    fused = run_checks_fused(
        child,
        not_null=["k", "fk"],
        unique=["k"],
        relationship={"fk": (parent, "pk"), "k": (parent, "pk")},
        table="child",
    )
    assert fused == [
        check_not_null(child, "k", "child"),
        check_not_null(child, "fk", "child"),
        check_unique(child, "k", "child"),
        check_relationship(child, "fk", parent, "pk", "child"),
        check_relationship(child, "k", parent, "pk", "child"),
    ]
    assert [r.violations for r in fused] == [2, 1, 4, 2, 7]
    assert run_checks_fused(parent, unique=["pk"], table="parent") == [
        check_unique(parent, "pk", "parent")
    ]


def test_pipeline_run_is_json_serializable_path_mapping(spark, sf_dir, tmp_path):
    """The Makefile pipes run_pipeline's return through json.dumps — the
    PipelineRun must serialize as a plain {table: path} object with the
    quality results out-of-band."""
    import json

    from market_flow_spark.plans.pipeline import run_pipeline

    run = run_pipeline(spark, sf_dir, str(tmp_path / "wh_json"))
    blob = json.loads(json.dumps(run))
    assert blob == dict(run)
    assert all(isinstance(v, str) for v in blob.values())
    assert "quality" not in blob and run.quality


def test_fused_checks_match_individual(spark, tables):
    from pyspark.sql import functions as F

    from market_flow_spark import quality as Q

    # one NULL status: accepted_values leaves it to not_null (dbt semantics)
    orders = tables["orders"].unionByName(
        tables["orders"].limit(1).withColumn(
            "o_orderstatus", F.lit(None).cast("string")
        )
    )
    fused = Q.run_checks_fused(
        orders,
        not_null=["o_orderkey", "o_custkey", "o_orderstatus"],
        accepted_values={"o_orderstatus": ["O", "F", "P"]},
        positive=["o_totalprice"],
        table="orders",
    )
    by_key = {(r.check, r.column): r.violations for r in fused}
    assert by_key[("not_null", "o_orderkey")] == Q.check_not_null(
        orders, "o_orderkey"
    ).violations
    assert by_key[("not_null", "o_orderstatus")] == 1
    assert by_key[("accepted_values", "o_orderstatus")] == Q.check_accepted_values(
        orders, "o_orderstatus", ["O", "F", "P"]
    ).violations == 0
    assert ("positive", "o_totalprice") in by_key


def _per_check_suite(tables):
    """The star-schema suite as one action per check (reference path)."""
    from market_flow_spark import quality as Q
    from market_flow_spark.operators import dims, star

    fact = star.fact_transactions(tables)
    dim_product = dims.dim_product(tables["part"])
    dim_date = dims.dim_date_scaffold(tables["orders"])
    ft = "fact_transactions"
    return [
        Q.check_not_null(fact, "transaction_id", ft),
        Q.check_unique(fact, "transaction_id", ft),
        Q.check_not_null(fact, "price", ft),
        Q.check_unique(dim_product, "product_sk", "dim_product"),
        Q.check_unique(dim_product, "p_partkey", "dim_product"),
        Q.check_unique(dim_date, "date_sk", "dim_date"),
        Q.check_relationship(fact, "product_id", tables["part"], "p_partkey", ft),
        Q.check_relationship(fact, "customer_id", tables["customer"], "c_custkey", ft),
        Q.check_relationship(fact, "date_sk", dim_date, "date_sk", ft),
    ]


def test_star_schema_suite_matches_per_check_on_planted_faults(spark, tables):
    from pyspark.sql import functions as F

    planted = dict(tables)
    li, part = tables["lineitem"], tables["part"]
    planted["lineitem"] = li.withColumn(
        "l_partkey",
        F.when(F.col("l_linenumber") == 1, F.lit(-1)).otherwise(F.col("l_partkey")),
    )
    planted["part"] = part.unionByName(
        part.limit(3).withColumn("p_name", F.concat("p_name", F.lit(" (dup)")))
    )
    fused = run_star_schema_checks(planted)
    assert fused == _per_check_suite(planted)
    by_key = {(r.check, r.table, r.column): r.violations for r in fused}
    assert by_key[("unique", "dim_product", "p_partkey")] == 6
    assert by_key[("relationship", "fact_transactions", "product_id")] > 0
    assert run_star_schema_checks(tables) == _per_check_suite(tables)


def test_star_schema_suite_job_budget(spark, tables):
    """The suite builds each checked table once and collects once: a job
    count (shuffle stages and broadcasts under AQE) that does not drift
    with box load. One action per check took 56 jobs here."""
    sc = spark.sparkContext
    group = "test_star_schema_suite_job_budget"
    sc.setJobGroup(group, group)
    try:
        results = run_star_schema_checks(tables)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(results) == 9
    assert 0 < len(jobs) <= 22, len(jobs)


def test_profile_columns_approx_within_tolerance(spark, tables):
    """The HLL++ scale path tracks the exact profile within its error
    bound; nulls and min/max are exact in both modes."""
    from market_flow_spark.operators.analytics import profile_columns

    orders = tables["orders"]
    cols = ["o_orderkey", "o_orderstatus"]
    exact = {r["column"]: r for r in profile_columns(orders, cols, exact=True).collect()}
    approx = {r["column"]: r for r in profile_columns(orders, cols, exact=False).collect()}
    for c in cols:
        assert approx[c]["n_nulls"] == exact[c]["n_nulls"]
        assert approx[c]["min_value"] == exact[c]["min_value"]
        assert approx[c]["max_value"] == exact[c]["max_value"]
        assert abs(approx[c]["n_distinct"] - exact[c]["n_distinct"]) <= max(
            5, 0.1 * exact[c]["n_distinct"]
        )
