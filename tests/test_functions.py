"""Domain function library: SQL-registered scalar functions and their
Column twins agree with hand-written arithmetic and with each other."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

from makerdao_dw_spark.functions import (
    ilk_name,
    ray_apy,
    register_domain_functions,
    wad,
)


def test_sql_functions_register_and_compute(spark):
    register_domain_functions(spark)
    register_domain_functions(spark)  # idempotent
    row = spark.sql(
        """
        SELECT wad(CAST(1500000000000000000 AS DECIMAL(38,0))) AS w,
               ray(CAST(1000000000000000000000000000 AS DECIMAL(38,0))) AS r,
               rad(CAST(20000000000000000000000000000000000000 AS DECIMAL(38,0))) AS d,
               ray_apy(CAST(1000000001547125957863212448 AS DECIMAL(38,0))) AS apy,
               ilk_name(CAST(concat('ETH-A', repeat(chr(0), 27)) AS BINARY)) AS ilk
        """
    ).first()
    assert row["w"] == Decimal("1.5")
    assert row["r"] == Decimal("1")
    # full-scale rad (10^45) overflows DECIMAL(38,0) storage (SURVEY §1.3:
    # overflow -> null + hex shadow), so the function is exercised at 2e37
    assert abs(row["d"] - 2e-8) < 1e-20
    # duty ~ 5%/yr per-second ray rate -> APY ~ 5.0%
    assert 0.049 < row["apy"] < 0.051
    assert row["ilk"] == "ETH-A"


def test_sql_functions_are_pure_expressions(spark):
    """SQL scalar UDFs must inline into the plan — no Python eval node."""
    register_domain_functions(spark)
    df = spark.range(5).selectExpr("wad(CAST(id * 1e18 AS DECIMAL(38,0))) AS v")
    assert [r["v"] for r in df.collect()] == [Decimal(i) for i in range(5)]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_column_twins_match_sql(spark):
    register_domain_functions(spark)
    df = spark.range(1, 4).select(
        (F.col("id") * F.lit(10**18)).cast("decimal(38,0)").alias("wei")
    )
    a = [r["x"] for r in df.select(wad(F.col("wei")).alias("x")).collect()]
    b = [r["x"] for r in df.selectExpr("wad(wei) AS x").collect()]
    assert a == b
    # ilk round-trip through the ingest fixture padding
    ilk = spark.createDataFrame([(b"WBTC-A".ljust(32, b"\x00"),)], "b binary")
    assert ilk.select(ilk_name(F.col("b")).alias("n")).first()["n"] == "WBTC-A"
    apy = spark.createDataFrame([(Decimal(10**27),)], "d decimal(38,0)")
    assert abs(apy.select(ray_apy(F.col("d")).alias("a")).first()["a"]) < 1e-12


def test_wad_ray_keep_full_precision(spark):
    """The precision-loss regression pins: plain decimal division let
    Spark shrink the quotient scale to 6/9, zeroing small wads and
    collapsing duty rates. The div/mod forms must keep all 18 digits."""
    from decimal import Decimal

    from makerdao_dw_spark.functions import register_domain_functions

    register_domain_functions(spark)
    row = spark.sql(
        """
        SELECT wad(CAST(1 AS DECIMAL(38,0))) AS tiny,
               wad(CAST(1500000000000 AS DECIMAL(38,0))) AS small,
               ray(CAST(1000000001547125957863212448 AS DECIMAL(38,0))) AS duty
        """
    ).first()
    assert row.tiny == Decimal("1E-18"), row.tiny
    assert row.small == Decimal("0.0000015"), row.small
    # the ~5%/yr MakerDAO duty rate, rounded HALF_UP at digit 18
    assert row.duty == Decimal("1.000000001547125958"), row.duty

