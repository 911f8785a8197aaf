"""The reference's flagship analytics query, Spark-native.

Faithful translation of /root/reference/queries/makerdao/
assets_per_type.sql:1-79 (PostgreSQL dialect) into Spark SQL, with the
dialect conversions SURVEY.md §7.4 calls out:

- `10^27` (PG power operator) -> pow(); `^` would be XOR in Spark
- `(block_number/10000)::int` (PG truncating integer division) ->
  `block_number div 10000` (bare `/` in Spark is fractional)
- `generate_series` lateral cross join -> explode(sequence(...))
- `null::numeric` -> cast(null as decimal(38,0)) / double per branch
- `replace(encode(ilk,'escape'), '\\000', '')` -> decode + strip chr(0)
- window ties: `order by block_number` keeps the default RANGE frame on
  BOTH engines — rows sharing a block_number must share cumulative
  values (load-bearing: row_number then picks an arbitrary peer, and
  every selected column is peer-invariant, which is what makes the
  reference query deterministic at all)

Final aggregates are cast to DECIMAL(38,6) pre-sum so the golden test
against DuckDB compares exactly (double summation order is engine-
dependent; decimal summation is not).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..ingest.fixtures import maker_specs
from ..session import configure

TABLES = ("vat_call_frob", "vat_call_grab", "vat_call_fold", "jug_call_file")

SPARK_SQL = """
WITH lending_assets_1 AS (
    SELECT i AS ilk, block_number, dart AS dart, CAST(NULL AS DECIMAL(38,0)) AS rate
    FROM {vat_call_frob} WHERE dart <> 0.0
    UNION ALL
    SELECT i AS ilk, block_number, dart AS dart, CAST(0.0 AS DECIMAL(38,0)) AS rate
    FROM {vat_call_grab} WHERE dart <> 0.0
    UNION ALL
    SELECT i AS ilk, block_number, CAST(NULL AS DECIMAL(38,0)) AS dart, rate AS rate
    FROM {vat_call_fold} WHERE rate <> 0.0
),
ilks AS (
    SELECT ilk, MIN(block_number) AS starting_use, MAX(block_number) AS end_use
    FROM lending_assets_1 GROUP BY ilk
),
ilks_2 AS (
    SELECT ilk, starting_use, MAX(end_use) OVER () AS end_use FROM ilks
),
noop_filling AS (
    SELECT ilk, d AS block_number, CAST(NULL AS DECIMAL(38,0)) AS dart,
           CAST(NULL AS DECIMAL(38,0)) AS rate, CAST(NULL AS DOUBLE) AS sf
    FROM ilks_2
    LATERAL VIEW explode(sequence(starting_use, end_use, 1000)) AS d
),
rates AS (
    SELECT block_number, ilk,
           pow(CAST(data AS DOUBLE) / 1e27, 3600 * 24 * 365) - 1 AS sf
    FROM {jug_call_file}
),
lending_assets_1_with_filling AS (
    SELECT ilk, block_number, dart, rate, CAST(NULL AS DOUBLE) AS sf FROM lending_assets_1
    UNION ALL
    SELECT ilk, block_number, dart, rate, sf FROM noop_filling
    UNION ALL
    SELECT ilk, block_number, CAST(NULL AS DECIMAL(38,0)) AS dart,
           CAST(NULL AS DECIMAL(38,0)) AS rate, sf FROM rates
),
lending_assets_2 AS (
    SELECT ilk, block_number,
        COALESCE(1 + CAST(SUM(rate) OVER w AS DOUBLE) / 1e27, 1) AS rate,
        CAST(SUM(dart) OVER w AS DOUBLE) / 1e18 AS dart,
        SUM(CASE WHEN sf IS NOT NULL THEN 1 ELSE 0 END) OVER w AS sf_grp,
        sf
    FROM lending_assets_1_with_filling
    WINDOW w AS (PARTITION BY ilk ORDER BY block_number ASC)
),
with_rk AS (
    SELECT CAST(block_number div 10000 AS INT) AS dt,
        replace(decode(ilk, 'UTF-8'), chr(0), '') AS collateral,
        dart * rate AS debt,
        MAX(sf) OVER (PARTITION BY ilk, sf_grp) AS sf,
        ROW_NUMBER() OVER (PARTITION BY ilk, CAST(block_number div 10000 AS INT)
                           ORDER BY block_number DESC) AS rk
    FROM lending_assets_2
),
group_by AS (
    SELECT *, sf AS rate, debt * sf AS annual_revenues
    FROM with_rk
    WHERE rk = 1 AND debt <> 0.0
),
group_by_cat AS (
    SELECT dt,
        CASE WHEN collateral LIKE 'PSM%' THEN 'Stablecoins'
             WHEN collateral IN ('USDC-A','USDC-B','USDT-A','TUSD-A','GUSD-A','PAXUSD-A') THEN 'Stablecoins'
             WHEN collateral LIKE 'ETH-%' THEN 'ETH'
             WHEN collateral LIKE 'WBTC-%' THEN 'WBTC'
             WHEN collateral LIKE 'UNIV2%' THEN 'Liquidity Pools'
             WHEN collateral LIKE 'RWA%' THEN 'RWA'
             ELSE 'Others' END AS collateral,
        CAST(debt AS DECIMAL(38,6)) AS asset,
        CAST(annual_revenues AS DECIMAL(38,6)) AS annual_revenues
    FROM group_by
)
SELECT dt AS dt, collateral, SUM(asset) AS asset, SUM(annual_revenues) AS annual_revenues,
       CAST(SUM(annual_revenues) AS DOUBLE) / CAST(SUM(asset) AS DOUBLE) AS blended_rate
FROM group_by_cat
GROUP BY dt, collateral
ORDER BY dt DESC, collateral
"""

# DuckDB golden twin: identical plan, DuckDB dialect (// integer division,
# unnest(generate_series), blob decode).
DUCKDB_SQL = (
    SPARK_SQL.format(**{t: t for t in TABLES}).replace(
        "LATERAL VIEW explode(sequence(starting_use, end_use, 1000)) AS d",
        ", UNNEST(GENERATE_SERIES(starting_use, end_use, 1000)) AS t(d)",
    )
    .replace("CAST(block_number div 10000 AS INT)", "CAST(block_number // 10000 AS INT)")
    .replace("replace(decode(ilk, 'UTF-8'), chr(0), '')", "replace(decode(ilk), chr(0), '')")
    .replace("WINDOW w AS (PARTITION BY ilk ORDER BY block_number ASC)\n),",
             "WINDOW w AS (PARTITION BY ilk ORDER BY block_number ASC)\n),")
)


def assets_per_type(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    """Run the flagship analytics query over an ingested warehouse dir.

    The tables are read with the decoder's schemas (`maker_specs()`): no
    inference job, and a table with no rows yet (an empty dir, or none
    at all) reads as an empty frame instead of failing. Partition
    discovery still appends `block_range`. They are passed as query
    arguments, so the session keeps no temp view of them and two
    warehouses never read each other's."""
    configure(spark)
    vat, jug = maker_specs()  # exactly the four TABLES
    frames = {}
    for spec in vat + jug:
        path = os.path.join(warehouse_dir, "makermcd", spec.table)
        frames[spec.table] = (
            spark.read.schema(spec.schema).parquet(path)
            if os.path.isdir(path)
            else spark.createDataFrame([], spec.schema)
        )
    return spark.sql(SPARK_SQL, **frames)
