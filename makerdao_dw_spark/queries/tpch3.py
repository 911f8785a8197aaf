"""Classic warehouse join/agg shapes, wave 3 (TPC-H Q8/Q9 analogues)
plus multiset set operations and the embeddings⋈metadata zip join.

Q8/Q9 complete the multi-dimensional snowflake rollup family started
in tpch2.py — the reference delegates exactly this kind of SQL to its
external warehouse (`queries/makerdao/assets_per_type.sql` is the
shipped instance; `classes.py:95,136` common columns are the implied
join keys), so a Spark replacement must own these plans natively:

- Q8 — national market share: the SAME fact join feeds a numerator
  (CASE-gated) and denominator in ONE aggregation pass; a naive plan
  scans/joins twice.
- Q9 — profit by nation x year: two independent dimension arms
  (part filter, supplier→nation) hang off one lineitem⋈orders spine.

Determinism contract (driver hash-compare): money math is cast to
DECIMAL(38,6) per row BEFORE SUM; ratios derive from exact decimal
sums with one double division + ROUND(…, 6) at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table
from .registry import query
from .tpch_common import REV

_REV = REV  # single definition: tpch_common.py
# Profit proxy: no partsupp table in the driver schema, so supply cost
# is modeled off p_retailprice. Double math FIRST (identical expression
# order on both engines), one cast to exact decimal per row.
_PROFIT = "CAST(l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.05 AS DECIMAL(38,6))"


# --------------------------------------------------------------------------
# Q8 shape: national market share by year
# --------------------------------------------------------------------------
@query(
    "q8_market_share",
    oracle=f"""
SELECT o_year,
       COALESCE(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev END), 0) AS nation_revenue,
       SUM(rev) AS total_revenue,
       ROUND(CAST(COALESCE(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev END), 0) AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
         {_REV} AS rev,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders    ON l_orderkey = o_orderkey
  JOIN part      ON p_partkey = l_partkey
  JOIN customer  ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region    ON cn.n_regionkey = r_regionkey
  JOIN supplier  ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
)
GROUP BY o_year
ORDER BY o_year
""",
    tags=("join", "tpch-shape", "snowflake", "conditional-agg"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 analogue: NATION_2's share of ECONOMY-part revenue sold
    to ASIA-region customers, by order year.

    Scale shape: every dimension (part/customer/supplier/nation/region)
    broadcasts; lineitem⋈orders is the single shuffle join. nation is
    joined TWICE under different roles (customer region gate vs
    supplier name) — two cheap broadcasts, not a self-join shuffle.
    Numerator and denominator come from ONE aggregation pass (CASE
    inside SUM), so the fact spine is scanned once.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = n.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_regionkey"))
    sn = n.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    rev = F.expr(_REV)
    nation_rev = F.coalesce(
        F.sum(F.when(F.col("supp_nation") == "NATION_2", rev)),
        F.lit(0).cast("decimal(38,6)"),
    ).alias("nation_revenue")
    total_rev = F.sum(rev).alias("total_revenue")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy("o_year")
        .agg(nation_rev, total_rev)
        .withColumn(
            "mkt_share",
            F.round(
                F.col("nation_revenue").cast("double") / F.col("total_revenue").cast("double"),
                6,
            ),
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q9 shape: product-type profit by supplier nation x year
# --------------------------------------------------------------------------
@query(
    "q9_product_profit",
    oracle=f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       SUM({_PROFIT}) AS sum_profit,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
ORDER BY n_name, o_year DESC
""",
    tags=("join", "tpch-shape", "snowflake"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analogue: profit on 'red' parts by supplier nation and
    order year (profit proxy uses p_retailprice — no partsupp table).

    Scale shape: the p_name LIKE filter prunes part BEFORE its
    broadcast, so the selective dimension gates the fact scan early
    (Catalyst pushes the broadcast-hash-join probe-side filter into the
    lineitem scan via runtime filtering at cluster scale); supplier and
    nation broadcast; lineitem⋈orders is the only shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.expr(_PROFIT).alias("profit"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("profit").alias("sum_profit"), F.count(F.lit(1)).alias("n_lines"))
        .orderBy("nation", F.col("o_year").desc())
    )


# --------------------------------------------------------------------------
# Multiset set operations: INTERSECT ALL / EXCEPT ALL
# --------------------------------------------------------------------------
@query(
    "setops_all_multiset",
    oracle="""
SELECT k, 'inter_all' AS tag, COUNT(*) AS n FROM (
  SELECT l_orderkey AS k FROM lineitem WHERE l_discount > 0.08
  INTERSECT ALL
  SELECT l_orderkey AS k FROM lineitem WHERE l_quantity > 30
) GROUP BY k
UNION ALL
SELECT k, 'except_all' AS tag, COUNT(*) AS n FROM (
  SELECT l_orderkey AS k FROM lineitem WHERE l_discount > 0.08
  EXCEPT ALL
  SELECT l_orderkey AS k FROM lineitem WHERE l_quantity > 30
) GROUP BY k
""",
    tags=("intersect", "except", "multiset"),
)
def setops_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL with bag (multiplicity) semantics —
    the duplicate-preserving counterparts of the distinct set ops in
    `intersect_except`. Multiplicities are re-counted per key so the
    hash-compare validates min(m,n) / (m-n) per-key arithmetic, which
    DISTINCT variants can't distinguish from plain semi/anti joins.

    Scale shape: both compile to a single hash-partition exchange on
    the full row (count-per-key on each side, then per-key arithmetic)
    — no sort, no row explosion.
    """
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_discount") > 0.08).select(F.col("l_orderkey").alias("k"))
    b = li.filter(F.col("l_quantity") > 30).select(F.col("l_orderkey").alias("k"))
    inter = (
        a.intersectAll(b)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("k", F.lit("inter_all").alias("tag"), "n")
    )
    exc = (
        a.exceptAll(b)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("k", F.lit("except_all").alias("tag"), "n")
    )
    return inter.unionByName(exc)


# --------------------------------------------------------------------------
# Embeddings ⋈ document metadata: map-side zip + per-group vector stats
# --------------------------------------------------------------------------
_NORM_SPARK = (
    "sqrt(aggregate(zip_with(embedding, embedding, (x, y) -> cast(x as double) * cast(y as double)), "
    "cast(0.0 as double), (acc, v) -> acc + v))"
)
_NORM_DUCK = (
    "SQRT(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))), "
    "(acc, v) -> acc + v))"
)


@query(
    "embedding_metadata_join_stats",
    oracle=f"""
SELECT source, label,
       COUNT(*) AS n_docs,
       ROUND(CAST(SUM(nrm6) AS DOUBLE) / COUNT(*), 6) AS avg_norm,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(CAST(SUM(nrm6 * n_chars) AS DOUBLE) / SUM(CAST(n_chars AS DOUBLE)), 6) AS wavg_norm
FROM (
  SELECT source, label, n_chars,
         CAST(ROUND({_NORM_DUCK}, 6) AS DECIMAL(38,6)) AS nrm6
  FROM embeddings
  JOIN documents ON vec_id = doc_id
)
GROUP BY source, label
ORDER BY source, label
""",
    tags=("similarity", "join", "multimodal", "zip"),
)
def embedding_metadata_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join the embedding store to document metadata and roll up vector
    norms per (source, label) — plain and n_chars-weighted means.

    Scale shape: documents (metadata) broadcasts; the 64-float vectors
    never shuffle — the zip_with/aggregate left-fold reduces each to
    ONE double map-side, so the exchange carries scalars. Determinism:
    the per-row fold is a fixed left-to-right order on both engines,
    and the folded norm is rounded to 6 decimals and cast to
    DECIMAL(38,6) BEFORE the SUMs (the repo's exact-aggregation rule —
    a raw double SUM would depend on partial-aggregate merge order);
    the means derive from the exact sums with one double division +
    ROUND at the end.
    """
    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    nrm6 = F.round(F.expr(_NORM_SPARK), 6).cast("decimal(38,6)")
    return (
        e.join(F.broadcast(d), F.col("vec_id") == F.col("doc_id"))
        .select("source", "label", nrm6.alias("nrm6"), "n_chars")
        .groupBy("source", "label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("nrm6").cast("double") / F.count(F.lit(1)), 6).alias("avg_norm"),
            F.sum("n_chars").alias("total_chars"),
            F.round(
                F.sum(F.col("nrm6") * F.col("n_chars")).cast("double")
                / F.sum(F.col("n_chars").cast("double")),
                6,
            ).alias("wavg_norm"),
        )
        .orderBy("source", "label")
    )


# --------------------------------------------------------------------------
# Text normalization battery
# --------------------------------------------------------------------------
@query(
    "text_normalize_battery",
    oracle="""
SELECT doc_id,
       upper(substr(text, 1, 12)) AS head_upper,
       lower(source) AS source_lower,
       translate(substr(text, 1, 40), 'aeiou', 'AEIOU') AS vowels_folded,
       trim(regexp_replace(substr(text, 1, 60), ' +', ' ', 'g')) AS ws_collapsed,
       ascii(substr(text, 1, 1)) AS first_cp,
       length(replace(substr(text, 1, 60), ' ', '')) AS n_nonspace,
       lpad(CAST(doc_id AS VARCHAR), 6, '0') AS doc_key
FROM documents
WHERE doc_id % 10 = 0
ORDER BY doc_id
""",
    tags=("text", "normalize", "B15"),
)
def text_normalize_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-normalization battery over documents: case folding,
    character-class translate (the Spark analogue of the reference's
    `encode(ilk,'escape')` + null-byte strip, `assets_per_type.sql:51`),
    whitespace collapse, codepoint extraction, padding-normalized keys.

    All eight ops are built-in JVM expressions inside one whole-stage
    codegen span — zero UDFs, zero shuffles (scan → project → filter);
    at 100 TB this runs at parquet-scan speed.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    head60 = F.substring("text", 1, 60)
    return d.select(
        "doc_id",
        F.upper(F.substring("text", 1, 12)).alias("head_upper"),
        F.lower("source").alias("source_lower"),
        F.translate(F.substring("text", 1, 40), "aeiou", "AEIOU").alias("vowels_folded"),
        F.trim(F.regexp_replace(head60, " +", " ")).alias("ws_collapsed"),
        F.ascii(F.substring("text", 1, 1)).alias("first_cp"),
        F.length(F.replace(head60, F.lit(" "), F.lit(""))).alias("n_nonspace"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("doc_key"),
    ).orderBy("doc_id")
