"""Whale-key bounds (VERDICT r5 item 6): a single pathological user
with 1M events must complete within bounds on BOTH the Spark query and
its DuckDB oracle for the two per-key sequence operators:

- event_pattern_match: the round-6 cap contract — the path string is
  built from the first `cap` events only (row_number pre-guard keeps
  the collect_list buffer bounded), n_events stays exact, `truncated`
  flags the whale. Spark and the oracle agree on the capped output.
- sessionize_events: needs NO cap — the running-sum window is
  streaming over an external sort and the final rollup emits one row
  per session, so a 1M-event user is linear work with O(1) window
  state. The test proves completion and cross-engine agreement, which
  is the documented reason the query ships uncapped.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from .conftest import conf_override

N_WHALE = 1_000_000
WHALE_CAP = 1_000  # small cap so truncation actually triggers


@pytest.fixture(scope="module")
def whale_dir(spark, tmp_path_factory):
    """events table: one 1M-event whale (user 1) + one normal user with
    a converting v->c->p funnel (user 2)."""
    d = tmp_path_factory.mktemp("whale")
    path = os.path.join(str(d), "events.parquet")
    whale = spark.range(N_WHALE).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("ts"),
        F.lit(1).alias("user_id"),
        # deterministic symbol mix with NO purchase for the whale: the
        # capped path must still evaluate the regex over 'v'/'c' runs
        F.when(F.col("id") % 3 == 0, "view")
        .when(F.col("id") % 3 == 1, "click")
        .otherwise("signup")
        .alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    normal = spark.createDataFrame(
        [
            (N_WHALE + 1, 1704067200, 2, "view", 1.0, "{}"),
            (N_WHALE + 2, 1704067260, 2, "click", 1.0, "{}"),
            (N_WHALE + 3, 1704067320, 2, "purchase", 1.0, "{}"),
        ],
        "event_id long, sec long, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_seconds("sec").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    whale.unionByName(normal).coalesce(4).write.parquet(path)
    return str(d)


def test_pattern_match_whale_capped_and_matches_oracle(spark, whale_dir):
    from makerdao_dw_spark.queries.advanced import (
        _pattern_match_frame,
        _pattern_oracle,
    )
    from makerdao_dw_spark.session import load_table

    e = load_table(spark, whale_dir, "events")
    got = {
        r["user_id"]: r
        for r in _pattern_match_frame(e, WHALE_CAP).collect()
    }

    # whale: capped path, exact full count, truncated flag set
    wr = got[1]
    assert wr["n_events"] == N_WHALE
    assert wr["truncated"] is True
    # no purchase in the whale's stream -> no conversion even uncapped
    assert wr["converted"] is False and wr["matched_len"] == 0
    # normal user: untouched semantics
    nr = got[2]
    assert nr["n_events"] == 3 and nr["truncated"] is False
    assert nr["converted"] is True and nr["matched_len"] == 3

    # cross-engine: the oracle (same cap) agrees on every column
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{whale_dir}/events.parquet/*.parquet')"
    )
    want = {r[0]: r for r in con.execute(_pattern_oracle(WHALE_CAP)).fetchall()}
    con.close()
    assert set(want) == set(got)
    for uid, w in want.items():
        g = got[uid]
        assert (
            g["n_events"],
            g["matched_len"],
            g["first_v_pos"],
            g["converted"],
            g["truncated"],
        ) == (w[1], w[2], w[3], w[4], w[5]), uid


def test_sessionize_whale_completes_and_matches_oracle(spark, whale_dir):
    """1-second-spaced events never gap over 4 h: the whale collapses
    into ONE session of 1M events — linear window work, no per-key
    buffer, so no cap is needed (the documented contract)."""
    from makerdao_dw_spark.queries import REGISTRY

    rows = REGISTRY["sessionize_events"].fn(spark, whale_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 1  # one giant session
    assert by_user[1][0]["n_events"] == N_WHALE
    assert len(by_user[2]) == 1 and by_user[2][0]["n_events"] == 3

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{whale_dir}/events.parquet/*.parquet')"
    )
    want = con.execute(REGISTRY["sessionize_events"].oracle).fetchall()
    con.close()
    assert len(want) == len(rows)
    w1 = [r for r in want if r[0] == 1]
    assert len(w1) == 1 and w1[0][2] == N_WHALE


def test_salted_join_spreads_whale_and_matches_unsalted(spark):
    """salted_join (VERDICT r6 item 5): a 1M-row fact table whose
    EVERY row carries the same join key — the pathological case where
    a plain shuffle join puts the entire table in one reducer — must
    (a) spread across many post-shuffle partitions with no partition
    holding more than ~3/16 of the rows, and (b) return exactly the
    unsalted join's rows for inner AND left joins."""
    from makerdao_dw_spark.operators.skew import salted_join

    n = 1_000_000
    fact = spark.range(n).select(
        F.lit(1).alias("k"), F.col("id"), (F.col("id") % 97).alias("v")
    )
    dim = spark.createDataFrame(
        [(1, "whale"), (2, "other")], "k long, label string"
    ).hint("shuffle_hash")

    # 64 shuffle partitions so the 16 salted keys don't stack purely
    # from a tiny local partition count (at scale salt is sized to the
    # cluster's reducer count the same way); AQE coalescing OFF so the
    # observed partitions are the raw shuffle output. Murmur3 of
    # (k, salt) is fixed, so the resulting layout is deterministic.
    overrides = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "64",
    }
    with conf_override(spark, overrides):
        out = salted_join(fact, dim, "k", salt=16, salt_source=F.col("id"))
        pid = out.select(F.spark_partition_id().alias("pid"))
        counts = {r["pid"]: r["count"] for r in pid.groupBy("pid").count().collect()}

    assert sum(counts.values()) == n
    # 16 salts hashed into 64 shuffle partitions: the whale must not
    # funnel — at least 10 distinct partitions, none above 3x the ideal
    # 1/16 share (hash collisions can stack 2 salts on one partition)
    assert len(counts) >= 10, counts
    assert max(counts.values()) <= 3 * n // 16, counts

    # row identity vs the unsalted join (inner)
    got = salted_join(fact, dim, "k", salt=16, salt_source=F.col("id")).agg(
        F.count(F.lit(1)), F.sum("id"), F.sum("v"), F.countDistinct("label")
    ).collect()[0]
    want = fact.join(dim, "k").agg(
        F.count(F.lit(1)), F.sum("id"), F.sum("v"), F.countDistinct("label")
    ).collect()[0]
    assert tuple(got) == tuple(want)

    # left join: unmatched fact rows survive exactly once
    fact2 = fact.withColumn("k", F.when(F.col("id") % 2 == 0, 1).otherwise(3))
    left = salted_join(fact2, dim, "k", salt=16, salt_source=F.col("id"), how="left")
    got2 = left.agg(
        F.count(F.lit(1)),
        F.sum(F.when(F.col("label").isNull(), 1).otherwise(0)),
    ).collect()[0]
    assert tuple(got2) == (n, n // 2)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        salted_join(fact, dim, "k", how="full")
