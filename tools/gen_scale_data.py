#!/usr/bin/env python
"""Scale up the driver testdata by deterministic replication — the local
stand-in for bigger scale factors (the driver ships sf<=0.1; the scaling
claim in SCALE.md needs a measured curve, not an asserted one).

Each replica r of the base tables gets key offsets of r * stride(table)
with FK columns offset by the referenced table's stride, so referential
integrity (customer<-orders<-lineitem, part/supplier<-lineitem) holds
within every replica and join fan-outs stay EXACTLY base-shaped — a
query's per-key work is unchanged, only the key count grows. Dimension
tables nation/region stay fixed (TPC-H semantics).

Workload-shape preservation details:
- documents: every word is tagged `_r{r}` (replica 0 untouched), so
  within-replica near-dup structure is preserved verbatim while
  cross-replica shingle overlap is ZERO — the dedup/LSH workload scales
  linearly instead of manufacturing N-clique near-dup blowups that real
  corpora don't have.
- embeddings: vectors are cyclically rotated by r positions (norm
  preserved, direction changed) so cosine near-dup/ANN candidate counts
  scale linearly too; labels keep their distribution (bucket sizes scale
  by the factor, which IS the realistic behavior).
- events: same time range at factor x the rate; user_id offset per
  replica keeps per-user session shapes identical.
- All numeric/value distributions are bit-identical per replica.

Pure Spark DataFrame ops (no UDFs, no driver loops over rows); writes
multi-file splittable parquet — at a real scale factor this job IS the
distributed pipeline that would produce the test corpus.

Usage: python tools/gen_scale_data.py --factor 10 \
    [--base /root/testdata/sf0.1] [--out /tmp/spark_graft_sf1]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

# key column -> table whose stride governs the offset
KEYS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders",
        "l_partkey": "part",
        "l_suppkey": "supplier",
    },
    "events": {"event_id": "events", "user_id": "_user"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}
FIXED_TABLES = ("nation", "region")


def _strides(spark: SparkSession, base: str) -> dict[str, int]:
    """stride(table) = max(primary key) + 1, one tiny agg per table."""
    out: dict[str, int] = {}
    for table, cols in KEYS.items():
        pk = next((c for c, ref in cols.items() if ref == table), None)
        if pk is None:  # lineitem: composite key, no self-referencing stride
            continue
        df = spark.read.parquet(os.path.join(base, f"{table}.parquet"))
        out[table] = int(df.agg(F.max(pk)).first()[0]) + 1
    ev = spark.read.parquet(os.path.join(base, "events.parquet"))
    out["_user"] = int(ev.agg(F.max("user_id")).first()[0]) + 1
    return out


def _replicate(df: DataFrame, table: str, factor: int, strides: dict[str, int]) -> DataFrame:
    """Cross the base rows with replica ids 0..factor-1 and offset keys.

    The replica frame is a broadcast 1-column literal range, so the
    'cross join' is a map-side fan-out of the scan, never a shuffle.
    """
    rep = df.sparkSession.range(factor).select(F.col("id").alias("_r"))
    # spread the base scan first: a small parquet source yields only a
    # few input splits (sf0.1 lineitem = 3 row groups), so at factor
    # 1000 the x1000 fan-out would run on 3 tasks — repartition to the
    # core count so the fan-out parallelizes
    cpus = df.sparkSession.sparkContext.defaultParallelism
    out = df.repartition(cpus).crossJoin(F.broadcast(rep))
    for col, ref in KEYS.get(table, {}).items():
        out = out.withColumn(
            col, (F.col(col) + F.col("_r") * F.lit(strides[ref])).cast(dict(df.dtypes)[col])
        )
    if table == "documents":
        tagged = F.concat_ws(
            " ",
            F.transform(
                F.split(F.col("text"), " "),
                lambda w: F.concat(w, F.lit("_r"), F.col("_r").cast("string")),
            ),
        )
        out = out.withColumn(
            "text", F.when(F.col("_r") == 0, F.col("text")).otherwise(tagged)
        ).withColumn("n_chars", F.length("text").cast("long"))
    if table == "embeddings":
        n = F.size("embedding")
        out = out.withColumn(
            "embedding",
            F.when(F.col("_r") == 0, F.col("embedding")).otherwise(
                F.concat(
                    F.slice(F.col("embedding"), (F.col("_r") % n) + 1, n),
                    F.slice(F.col("embedding"), F.lit(1), F.col("_r") % n),
                )
            ),
        )
    return out.drop("_r")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/spark_graft_sf1")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument(
        "--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    )
    args = ap.parse_args()

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("gen-scale-data")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    strides = _strides(spark, args.base)
    os.makedirs(args.out, exist_ok=True)
    for table in (*FIXED_TABLES, *KEYS):
        src = spark.read.parquet(os.path.join(args.base, f"{table}.parquet"))
        for c, t in src.dtypes:
            if t == "timestamp_ntz":
                src = src.withColumn(c, F.col(c).cast("timestamp"))
        if table in FIXED_TABLES:
            out = src
            parts = 1
        else:
            out = _replicate(src, table, args.factor, strides)
            base_bytes = os.path.getsize(os.path.join(args.base, f"{table}.parquet"))
            # Spark-written parquet defaults to 128 MB row groups, so a
            # file is ONE row group at these sizes and partition
            # granularity = file count. Target ~2 MB files, capped at
            # the core count: big tables scan at full parallelism (the
            # cluster-realistic shape — real deployments have many row
            # groups per table), tiny dims stay few-file.
            parts = max(1, min(args.cpus, (base_bytes * args.factor) // (2 << 20)))
        dest = os.path.join(args.out, f"{table}.parquet")
        out.repartition(int(parts)).write.mode("overwrite").parquet(dest)
        n = spark.read.parquet(dest).count()
        print(f"{table}: {n} rows -> {dest} ({parts} files)")
    spark.stop()


if __name__ == "__main__":
    main()
