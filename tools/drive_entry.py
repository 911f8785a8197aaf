"""Driver-sim: exercise __spark_entry__.py the way the external harness does.

- vanilla SparkSession (no custom confs)
- entry(spark) smoke at sf0.001: >0 rows, stable schema across 2 calls
- every queries()[name] at sf0.01 vs oracle_sql()[name] in DuckDB, under
  two canons in one pass; each compares row count, column-name set, and
  order-insensitive values (sorted columns by name, rows sorted):
  - strict (`canon`): Spark collect() vs DuckDB fetchall(); Decimal keeps
    its scale, float %.12g;
  - pandas (`canon_pandas`): Spark toPandas() vs DuckDB .df(), the other
    plausible driver path. pandas conversion changes cell types (DATE ->
    datetime64, HUGEINT/DECIMAL -> float64, nullable int -> float64), so
    a query can match under fetchall and still diverge here.
  A query matches only when both canons match.

  python tools/drive_entry.py [--no-entry] [name-substring ...]

The __spark_entry__ imported is the one in this file's checkout.
"""

from __future__ import annotations

import math
import os
import sys
import time
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v):
    # STRICT: mirror the external driver — Decimal keeps its scale
    # ("4956.660000" != "4956.66"), int and float stringify differently
    # ("64" != "64.0"), and list/map cells are fatal (the driver's pandas
    # canonicalizer crashes on them).
    if isinstance(v, Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        return f"f:{v:.12g}"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, dict, tuple, set)):
        raise TypeError(
            f"complex cell type {type(v).__name__} — driver canon crashes on these"
        )
    if v is None:
        return "<NULL>"
    return str(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort()
    return sorted(c for c in cols), out


def norm_pandas(v):
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NULL>"
        return f"f:{v:.12g}"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, pd.Timestamp):
        return f"ts:{v.isoformat()}"
    if v is pd.NaT:
        return "<NULL>"
    return str(v)


def canon_pandas(df: pd.DataFrame):
    cols = sorted(df.columns)
    rows = [tuple(norm_pandas(v) for v in row) for row in df[cols].itertuples(index=False)]
    rows.sort()
    return cols, rows


def compare(spark_side, duck_side) -> str | None:
    """None when two canonical (cols, rows) pairs match, else the mismatch."""
    (sc, sr), (dc, dr) = spark_side, duck_side
    if sc != dc:
        return f"schema mismatch: spark={sc} duck={dc}"
    if len(sr) != len(dr):
        return f"rowcount {len(sr)} vs {len(dr)}"
    if sr != dr:
        diff = next((a, b) for a, b in zip(sr, dr) if a != b)
        return f"value mismatch, first diff: {diff}"
    return None


def main(argv: list[str] | None = None) -> int:
    """Optional argv: `--no-entry` skips the entry() smoke; any other
    args are query-name substrings — only matching queries run (the
    quick-iteration / per-commit-gate mode)."""
    import __spark_entry__ as entrymod

    argv = list(sys.argv[1:] if argv is None else argv)
    run_entry = "--no-entry" not in argv
    name_filters = [a for a in argv if not a.startswith("--")]

    spark = SparkSession.builder.master("local[8]").appName("drive-sim").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if run_entry:
        df1 = entrymod.entry(spark)
        schema1 = df1.schema.simpleString()
        n1 = len(df1.collect())
        df2 = entrymod.entry(spark)
        assert n1 > 0, "entry() returned 0 rows"
        assert df2.schema.simpleString() == schema1, "entry() schema unstable"
        print(f"entry() OK: {n1} rows, schema stable")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF01}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if name_filters:
        queries = {
            n: f for n, f in queries.items()
            if any(s in n for s in name_filters)
        }
        if not queries:
            print(f"no queries match filters {name_filters}")
            return 2
    failures = []
    t_start = time.time()
    for i, (name, fn) in enumerate(sorted(queries.items())):
        t0 = time.time()
        tag = f"[{i+1}/{len(queries)}] {name}:"
        try:
            sdf = fn(spark, SF01)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"{tag} SPARK ERROR")
            continue
        if name not in oracles:
            if len(s_rows) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            print(f"{tag} rows-only ({len(s_rows)} rows) {time.time()-t0:.1f}s")
            continue
        try:
            res = con.execute(oracles[name])
            strict = compare(
                canon(s_cols, s_rows), canon([c[0] for c in res.description], res.fetchall())
            )
        except Exception as e:  # noqa: BLE001
            strict = f"{type(e).__name__}: {e}"
        try:
            pandas = compare(
                canon_pandas(sdf.toPandas()), canon_pandas(con.execute(oracles[name]).df())
            )
        except Exception as e:  # noqa: BLE001
            pandas = f"{type(e).__name__}: {e}"
        for canon_name, err in (("strict", strict), ("pandas", pandas)):
            if err:
                failures.append((name, f"{canon_name} canon: {err}"))
                print(f"{tag} {canon_name.upper()} MISMATCH")
        if not (strict or pandas):
            print(f"{tag} OK ({len(s_rows)} rows) {time.time()-t0:.1f}s")
    print(f"total {time.time()-t_start:.1f}s")
    if failures:
        print(f"\n{len(failures)} FAILURES:")
        for name, msg in failures:
            print(f"  {name}: {msg[:300]}")
        return 1
    n_oracled = sum(n in oracles for n in queries)
    print(f"ALL {len(queries)} QUERIES MATCH ({n_oracled} oracled: strict and pandas canons)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
