"""Corpus & behavior insights, wave 20 (round 6): collocation mining,
behavioral temporal statistics, and community detection — three
analysis families a data platform layers over the dedup/graph/text
machinery.

- `pmi_collocations`: top word pairs by pointwise mutual information
  (PMI = ln(p(ab) / p(a)p(b)) over adjacent pairs, min count 5) — THE
  classic collocation miner (phrase detection for tokenizer vocab
  building, a la word2vec phrase pass). Unigram and bigram counts are
  exact integers; PMI derives by one ln over a ratio of integer
  products.
- `user_interarrival_burstiness`: per-user Goh-Barabasi burstiness
  B = (sigma - mu) / (sigma + mu) of inter-event gaps — the standard
  temporal-pattern classifier (B near -1: periodic, 0: Poisson, +1:
  bursty). Gaps in integer seconds; moments from exact integer sums.
- `label_propagation_communities`: two synchronous rounds of label
  propagation over the co-purchase graph (majority neighbor label,
  ties to the smallest), with community sizes — the cheap community
  detector next to connected components (CC finds components, LPA
  splits dense components into communities). Both rounds unroll into
  the DuckDB oracle (the pagerank/kmeans unrolling technique), so the
  vote — including its tie-break — is value-checked.
- `label_propagation_convergence` (round 11): per-round convergence
  telemetry (label churn, community count) for K=4 UNIFORM vote
  rounds against a K-unrolled oracle — the monitoring curve that
  decides when a real LPA job stops, and the value-level proof that
  the bucketed-staging round body is correct for arbitrary K, not
  just the unrolled K=2 above. The fixpoint-bounded operator form is
  `operators/graph.py::label_propagation`.

Determinism: exact integer counts everywhere; every argmax is a
ROW_NUMBER over (count DESC, label ASC); ln carries the accepted
1-ulp class behind ROUND(6); NULL keys excluded at the edge build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import input_bytes, load_table, materialize, materialize_lazy
from .basket_common import basket_ctes_duck, basket_pair_join, frequent_baskets
from .registry import query
from .text_common import bigram_zip_expr, tokens_arr, tokens_arr_duck


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------
_PMI_MIN = 5
_PMI_TOP = 50


@query(
    "pmi_collocations",
    oracle=f"""
WITH toks AS (
    SELECT {tokens_arr_duck('text', 2)} AS ts FROM documents
),
uni AS (
    SELECT t AS w, COUNT(*) AS n_w
    FROM (SELECT UNNEST(ts) AS t FROM toks) GROUP BY t
),
tot AS (SELECT CAST(COALESCE(SUM(n_w), 0) AS BIGINT) AS n_tok FROM uni),
big AS (
    SELECT w1, w2, COUNT(*) AS n_ab
    FROM (
        SELECT UNNEST(list_transform(generate_series(1, len(ts) - 1),
                      i -> struct_pack(w1 := ts[i], w2 := ts[i+1]))) AS p
        FROM toks
    ) t0
    CROSS JOIN LATERAL (SELECT p.w1 AS w1, p.w2 AS w2)
    GROUP BY w1, w2 HAVING COUNT(*) >= {_PMI_MIN}
),
btot AS (
    -- greatest(len-1, 0) instead of a WHERE len >= 2: a filter on the
    -- tokenized array is an optimizer-inferred lambda Filter below
    -- the spread exchange on the Spark side (the round-6 hazard)
    SELECT CAST(COALESCE(SUM(GREATEST(len(ts) - 1, 0)), 0) AS BIGINT) AS n_big
    FROM toks
)
SELECT w1, w2,
       CAST(n_ab AS BIGINT) AS n_ab,
       CAST(a.n_w AS BIGINT) AS n_w1,
       CAST(b.n_w AS BIGINT) AS n_w2,
       ROUND(LN((CAST(n_ab AS DOUBLE) / btot.n_big)
                / ((CAST(a.n_w AS DOUBLE) / tot.n_tok)
                   * (CAST(b.n_w AS DOUBLE) / tot.n_tok))), 6) AS pmi
FROM big
JOIN uni a ON big.w1 = a.w
JOIN uni b ON big.w2 = b.w
CROSS JOIN tot CROSS JOIN btot
ORDER BY pmi DESC, w1, w2
LIMIT {_PMI_TOP}
""",
    tags=("text", "collocations", "pmi", "tokenizer-prep"),
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by PMI over adjacent word pairs (min
    bigram count 5; constants _PMI_TOP/_PMI_MIN) — phrase discovery
    for tokenizer /
    vocab construction. Exact integer unigram and bigram counts; the
    token totals are broadcast 1-row aggregates; the bigram->unigram
    joins key on the word (vocab-sized, AQE broadcasts at small scale
    and hash-joins at vocab scale). The corpus is tokenized twice (one
    pass per gram arity) — the two explodes produce different streams,
    and a corpus-sized token checkpoint measured slower than the
    rescan (the containment-join lesson)."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select(tokens_arr("text", 2).alias("ts"))
    # explode_outer + isNotNull: bare explode() infers size(ts) > 0,
    # which pushes the tokenizer lambda below the spread exchange
    # (split_leakage_audit pattern)
    uni = (
        toks.select(F.explode_outer("ts").alias("w"))
        .filter(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    tot = F.broadcast(
        uni.agg(F.coalesce(F.sum("n_w"), F.lit(0)).alias("n_tok"))
    )
    pairs = (
        toks.select(
            F.explode_outer(
                F.expr(bigram_zip_expr("ts", "named_struct('w1', a, 'w2', b)"))
            ).alias("p")
        )
        .filter(F.col("p").isNotNull())
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN)
    )
    # greatest(size-1, 0), NOT a size>=2 filter: the filter would push
    # the tokenizer lambda below the spread exchange (round-6 hazard)
    btot = F.broadcast(
        toks.select(F.greatest(F.size("ts") - 1, F.lit(0)).alias("nb"))
        .agg(F.coalesce(F.sum("nb"), F.lit(0)).cast("bigint").alias("n_big"))
    )
    a = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1"))
    b = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2"))
    pmi = F.log(
        (F.col("n_ab").cast("double") / F.col("n_big"))
        / (
            (F.col("n_w1").cast("double") / F.col("n_tok"))
            * (F.col("n_w2").cast("double") / F.col("n_tok"))
        )
    )
    return (
        big.join(a, "w1")
        .join(b, "w2")
        .crossJoin(tot)
        .crossJoin(btot)
        .select(
            "w1",
            "w2",
            "n_ab",
            "n_w1",
            "n_w2",
            F.round(pmi, 6).alias("pmi"),
        )
        # rank on the ROUNDED score (both engines): the raw ln value
        # carries the 1-ulp cross-engine class that ROUND(6) absorbs,
        # and the oracle's ORDER BY resolves to its rounded alias — a
        # raw-vs-rounded sort could pick different LIMIT-boundary rows
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(_PMI_TOP)
    )


# ---------------------------------------------------------------------------
# Inter-arrival burstiness
# ---------------------------------------------------------------------------


@query(
    "user_interarrival_burstiness",
    oracle="""
WITH gaps AS (
    SELECT user_id,
           (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) // 1000000 AS g
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
m AS (
    SELECT user_id, COUNT(g) AS n_gaps,
           CAST(SUM(g) AS BIGINT) AS sg,
           CAST(SUM(g * g) AS BIGINT) AS sg2
    FROM gaps WHERE g IS NOT NULL GROUP BY user_id
    HAVING COUNT(g) >= 2
)
SELECT user_id,
       CAST(n_gaps AS BIGINT) AS n_gaps,
       ROUND(CAST(sg AS DOUBLE) / n_gaps, 6) AS mean_gap_s,
       ROUND(SQRT((CAST(sg2 AS DOUBLE) - CAST(sg AS DOUBLE) * sg / n_gaps)
                  / (n_gaps - 1)), 6) AS std_gap_s,
       ROUND((SQRT((CAST(sg2 AS DOUBLE) - CAST(sg AS DOUBLE) * sg / n_gaps)
                   / (n_gaps - 1)) - CAST(sg AS DOUBLE) / n_gaps)
             / NULLIF(SQRT((CAST(sg2 AS DOUBLE) - CAST(sg AS DOUBLE) * sg / n_gaps)
                           / (n_gaps - 1)) + CAST(sg AS DOUBLE) / n_gaps, 0.0),
             6) AS burstiness
FROM m ORDER BY user_id
""",
    tags=("timeseries", "burstiness", "behavior"),
)
def user_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Goh-Barabasi burstiness of inter-event gaps:
    B = (sigma - mu) / (sigma + mu) — near -1 periodic, 0 Poisson,
    +1 bursty; the temporal fingerprint behind bot screening and
    engagement segmentation. Gaps are integer SECONDS (floored from
    integer microseconds — identical integer math both engines; gap
    squares then fit BIGINT exactly); mean/std from exact integer
    moment sums, doubles only in the final expressions; users need
    >= 2 gaps for a sample std. One window pass over (user, ts), one
    rollup — two shuffles on the user key at any scale."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        F.floor(
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
            / 1000000
        ).alias("g"),
    )
    m = (
        gaps.filter(F.col("g").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("g").alias("n_gaps"),
            F.sum("g").alias("sg"),
            F.sum(F.col("g") * F.col("g")).alias("sg2"),
        )
        .filter(F.col("n_gaps") >= 2)
    )
    n = F.col("n_gaps")
    sg = F.col("sg").cast("double")
    sg2 = F.col("sg2").cast("double")
    mu = sg / n
    sigma = F.sqrt((sg2 - sg * sg / n) / (n - 1))
    return m.select(
        "user_id",
        "n_gaps",
        F.round(mu, 6).alias("mean_gap_s"),
        F.round(sigma, 6).alias("std_gap_s"),
        F.round(
            (sigma - mu) / F.expr("nullif(" + _SIG_PLUS_MU + ", 0.0d)"), 6
        ).alias("burstiness"),
    ).orderBy("user_id")


# the sigma+mu denominator as ONE sql string so the NULLIF guard and the
# numerator provably use the same expression tree
_SIG_PLUS_MU = (
    "sqrt((cast(sg2 as double) - cast(sg as double) * cast(sg as double)"
    " / n_gaps) / (n_gaps - 1)) + cast(sg as double) / n_gaps"
)


# ---------------------------------------------------------------------------
# Two-round synchronous label propagation over the co-purchase graph
# ---------------------------------------------------------------------------
_LPA_MIN_ITEM = 5  # frequent-item gate for the pair join (apriori)
# Per-task state bytes for LPA's fused vote stage rows: ~24 B of
# hash-aggregate state per (node, label, count) entry. The rows-per-task
# budget itself is DERIVED from the session's memory config
# (session.rows_per_task_budget — round 11; the former hard-coded
# 8_000_000 literal encoded this node's 48g/32-core harness) so the
# bucket/partition self-scaling is portable to any executor
# memory/core ratio.
_LPA_VOTE_ROW_BYTES = 24

# Above this lineitem file size the small-corpus gate is decided without
# the Σ C(w,2) estimate job: ~1 GiB of lineitem is ~70M rows and ~140M
# candidate pairs — no plausible rows_per_task_budget() (which would
# need ~3.4 GB of per-task execution memory at 24 B/row) calls that
# small, so the estimate aggregate would be a pure waste of a
# fact-sized pass on the very inputs where passes are expensive.
_LPA_EST_INPUT_BYTES = 1 << 30


def _lpa_small_corpus(sf_dir: str, fb: DataFrame, rows_per_task: int) -> bool:
    """True when the WHOLE candidate pair set fits one task's budget —
    the scale gate for the staged-bucketed LPA layout (r11, guide §2:
    derive partitioning strategy from input size, not a constant).

    The bucketed staging pays 2 extra table writes + per-round bucket
    scans to elide edge-sized exchanges; when every vote round's total
    state fits ONE task budget there is no exchange worth eliding and
    the fixed staging cost dominates (measured at sf0.1: 13.1 s staged
    vs 10.4 s unstaged, flat rounds both ways). The gate is the exact
    pre-distinct pair count Σ C(basket_width, 2) — one narrow aggregate
    over fb, strictly cheaper than the pair join it sizes, and an upper
    bound on the staged pair count (cross-order duplicate pairs
    collapse in the join's distinct). Inputs past _LPA_EST_INPUT_BYTES
    skip even the estimate job (see its comment)."""
    size = input_bytes(sf_dir, "lineitem")
    if size is None or size > _LPA_EST_INPUT_BYTES:
        return False
    est = (
        fb.groupBy("o")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.expr("(c * (c - 1)) div 2")).alias("n"))
        .collect()[0]["n"]
    )
    return int(est or 0) <= rows_per_task


@query(
    "label_propagation_communities",
    oracle=f"""
WITH {basket_ctes_duck(_LPA_MIN_ITEM)},
pairs AS (
    SELECT DISTINCT b1.p AS u, b2.p AS v
    FROM fb b1 JOIN fb b2 ON b1.o = b2.o AND b1.p < b2.p
),
edges AS (
    SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
),
l1 AS (
    -- round 1: unique initial labels (node id) make every neighbor
    -- vote a 1-count tie -> the smallest neighbor id wins
    SELECT u AS node, MIN(v) AS label FROM edges GROUP BY u
),
votes AS (
    SELECT e.u AS node, l.label, COUNT(*) AS n_votes
    FROM edges e JOIN l1 l ON e.v = l.node
    GROUP BY e.u, l.label
),
l2 AS (
    SELECT node, label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY node
            ORDER BY n_votes DESC, label) AS rk
        FROM votes
    ) WHERE rk = 1
),
sizes AS (SELECT label, COUNT(*) AS community_size FROM l2 GROUP BY label)
SELECT l2.node, l2.label AS community,
       CAST(s.community_size AS BIGINT) AS community_size
FROM l2 JOIN sizes s ON l2.label = s.label
ORDER BY l2.node
""",
    tags=("graph", "communities", "label-propagation"),
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous label-propagation rounds over the co-purchase
    graph: round 1 collapses the unique-initial-label tie to the
    smallest neighbor id; round 2 is a genuine majority vote over the
    round-1 labels (ties to the smallest label via a max(struct)
    argmax — highest vote count, then smallest label via the negated
    key, a hash aggregate with map-side partials instead of a
    row_number window's partition sort). The cheap community splitter
    next to connected components. Edge build reuses the apriori-gated
    basket pair join (frequent items only, pair expansion bounded by
    basket width; sort-merge hinted — see
    basket_common.basket_pair_join for why the un-hinted plan
    broadcasts the fact side). Only the u<v pair table is
    checkpointed (half the edge volume), as TWO BUCKETED staged
    copies (round 10; round 9 used a plain staged parquet) — not a
    persist: staging releases the entire pair-build working set
    (basket caches + four fact-sized shuffles) MID-QUERY, so peak
    scratch is max-over-stages (the round-9 fix for the sf100
    single-node disk ceiling), and bucketing by each endpoint elides
    the edge-sided exchange from every per-round consumer keyed on
    it, so a vote round moves ONE edge-sized shuffle instead of
    three — O(E) data motion per round with no driver state, the LPA
    shape that scales to any edge count. Both rounds (and the
    tie-breaks) unroll into the DuckDB oracle. The basket build is
    the SHARED scaffold (basket_common.py) — market_basket_lift mines
    the same graph."""
    from ..session import (
        drop_materialized,
        gc_hint,
        rows_per_task_budget,
        stage,
        stage_bucketed,
    )

    li = load_table(spark, sf_dir, "lineitem")
    baskets, freq, fb = frequent_baskets(li, _LPA_MIN_ITEM)
    # stage_bucketed(), not materialize() or plain stage() (round 10):
    # the u<v pair table is the round checkpoint. A persist would keep
    # the whole pair-build lineage (~half the query's shuffle temp)
    # pinned through both vote rounds — the measured single-node
    # ceiling at sf100 (round 8); the staged cut + mid-query release
    # turns peak scratch into max-over-stages (round 9). Round 10
    # stages TWO BUCKETED copies (by u and by v): every per-round
    # consumer keyed on the bucket key — both direction-wise min
    # aggregates and both vote joins — plans with the edge-sided
    # exchange ELIDED, so a vote round's data motion drops from ~three
    # edge-sized shuffles to ONE (the repartition feeding the vote
    # argmax below). That is the iterative-graph idiom at 100 TB: pay
    # the edge partitioning once at stage time, not K times per round.
    pairs_uv = (
        basket_pair_join(fb)
        .select(F.col("b1.p").alias("u"), F.col("b2.p").alias("v"))
        .distinct()
    )
    # plain cut FIRST: it ends the pair-build phase (so its four
    # fact-sized shuffles are reclaimable before anything else runs)
    # and its count sizes the bucket layout — a bucketed scan is one
    # task per bucket, so the BUCKET count must grow with the data
    # exactly like the vote partitions below (measured at sf100:
    # 1.2B pairs / 32 buckets = 37.5M rows/task streaming into the
    # fused sort+SMJ+shuffle-write stage = SparkOutOfMemoryError;
    # /150 buckets completes). Cost: one extra E-row parquet
    # write+read (~1 GB at sf100) — noise next to the shuffles the
    # layout removes.
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rows_per_task = rows_per_task_budget(spark, _LPA_VOTE_ROW_BYTES)
    # r11 scale gate (guide §2, measure-first): when the whole pair set
    # fits ONE task's budget there is no edge-sized exchange worth
    # eliding, and the two bucketed table writes + per-round bucketed
    # scans are pure fixed cost (measured at sf0.1: 13.1 s staged vs
    # 10.4 s with the plain staged parquet reused for both directions).
    # The plain stage() stays on BOTH paths: it is the lineage cut that
    # releases the pair-build shuffles mid-query AND keeps each round's
    # logical plan bottoming out at a 1-node scan (persist-based frames
    # nest the full pair-build subtree twice per round — measured
    # exponential planning blowup, 1.3 -> 14.8 s/round by round 4).
    small = _lpa_small_corpus(sf_dir, fb, rows_per_task)
    pairs0 = stage(pairs_uv, "lpa_pairs_raw")
    drop_materialized(baskets, freq)
    baskets = freq = fb = pairs_uv = None
    gc_hint(spark)
    if small:
        by_u = by_v = pairs0
    else:
        n_pairs = pairs0.count()
        n_buckets = max(shuffle_parts, -(-n_pairs // rows_per_task))
        by_u = stage_bucketed(pairs0, "u", "lpa_pairs_u", n_buckets)
        by_v = stage_bucketed(pairs0, "v", "lpa_pairs_v", n_buckets)
    # round 1: min neighbor over both directions — each directional min
    # is a zero-exchange aggregate on its aligned copy; the full-outer
    # merge is node-cardinality. least() skips NULLs on both engines.
    l1 = (
        by_u.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("mv"))
        .join(
            by_v.groupBy(F.col("v").alias("node")).agg(F.min("u").alias("mu")),
            "node",
            "full",
        )
        .select("node", F.least("mv", "mu").alias("label"))
        # node-cardinality, TWO consumers (both vote joins below) —
        # without the materialization the full-outer merge of the two
        # directional min-aggregates recomputes per consumer: two extra
        # bucketed scans of the edge table per query (ADVICE r10),
        # mirroring the existing materialize of l2
        .transform(materialize)
    )
    # round 2 votes: each pair (u,v) contributes u <- label(v) (from the
    # v-bucketed copy) and v <- label(u) (from the u-bucketed copy) —
    # the pair side of both joins needs no exchange. The explicit
    # repartition on the voter key is the round's ONE edge-sized
    # shuffle: HashPartitioning(u) satisfies the (u,label) grouping AND
    # the argmax's (u) grouping, so both aggregates below it are
    # exchange-free.
    va = by_v.join(l1.withColumnRenamed("node", "v"), "v").select("u", "label")
    vb = by_u.join(l1.withColumnRenamed("node", "u"), "u").select(
        F.col("v").alias("u"), "label"
    )
    # The explicit repartition sizes ITSELF from the edge count instead
    # of inheriting spark.sql.shuffle.partitions: the fused stage below
    # it (SMJ + union + two chained hash aggregates, all exchange-free)
    # holds more per-task state than the old many-exchange plan, and a
    # pinned-low partition count puts a whole-corpus fraction in one
    # task (measured at sf100: 2.4B vote rows / 32 = 75M rows/task =
    # SparkOutOfMemoryError; /256 = 9.4M rows/task completes). This is
    # the per-operator form of AQE's initialPartitionNum: partition
    # count grows with the data, bounded per-task working set. The
    # count() is a cheap columnar count-star on the staged table.
    # r12 (VERDICT r11 item 6), measured REFUTED: replacing this
    # repartition+complete-aggregate with a partial (map-side combined)
    # groupBy(u,label) over pre-sized shuffle partitions — combine
    # before the exchange, but a second votes-cardinality exchange for
    # the argmax — was a WASH at sf1 (interleaved 2x2 fresh-session
    # A/B, warm walls: current 15.15/15.87 s vs combined 14.92/16.75).
    # Two vote rounds leave the (u,label) dedup factor too low for the
    # combine to pay for the extra exchange; the single hash(u)
    # exchange below stays (it serves BOTH aggregates).
    voters = va.unionByName(vb)
    if not small:
        # the large path's ONE edge-sized shuffle, self-sized from the
        # pair count (see the comment above); the small path skips the
        # explicit repartition entirely and lets AQE coalesce the
        # grouping exchanges to the data (sub-task-budget by the gate)
        n_parts = max(shuffle_parts, -(-2 * n_pairs // rows_per_task))
        voters = voters.repartition(n_parts, F.col("u"))
    votes = voters.groupBy(F.col("u").alias("node"), "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    # node-cardinality result, TWO consumers (community sizes + the
    # join-back) — without the checkpoint the whole 24M-edge vote
    # chain runs twice (measured at sf1: 48s -> 18s)
    l2 = (
        votes.groupBy("node")
        .agg(
            F.max(
                F.struct(F.col("n_votes"), (-F.col("label")).alias("neg_label"))
            ).alias("m")
        )
        .select("node", (-F.col("m.neg_label")).alias("label"))
        .transform(materialize)
    )
    sizes = l2.groupBy("label").agg(F.count(F.lit(1)).alias("community_size"))
    return (
        l2.join(sizes, "label")
        .select(
            "node",
            F.col("label").alias("community"),
            "community_size",
        )
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# Label-propagation convergence sweep (K uniform vote rounds, telemetry)
# ---------------------------------------------------------------------------
_LPA_SWEEP_ROUNDS = 4


def _lpa_sweep_round_ctes(k: int) -> str:
    """One (votes{r}, l{r}) CTE pair per round, all uniform vote rounds
    from l0 (label = own id) — the pagerank/kmeans unrolling technique
    applied K deep, so every round's argmax (vote count desc, label
    asc) is value-checked, not just the K=2 prefix."""
    return "".join(
        f""",
votes{r} AS (
    SELECT e.u AS node, l.label, COUNT(*) AS n_votes
    FROM edges e JOIN l{r - 1} l ON e.v = l.node
    GROUP BY e.u, l.label
),
l{r} AS (
    SELECT node, label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY node
            ORDER BY n_votes DESC, label) AS rk
        FROM votes{r}
    ) WHERE rk = 1
)"""
        for r in range(1, k + 1)
    )


def _lpa_sweep_stats_sql(k: int) -> str:
    return "\n    UNION ALL\n    ".join(
        f"""SELECT {r} AS round_no,
        (SELECT COUNT(*) FROM l{r} a JOIN l{r - 1} b USING (node)
         WHERE a.label <> b.label) AS nodes_changed,
        (SELECT COUNT(DISTINCT label) FROM l{r}) AS n_communities"""
        for r in range(1, k + 1)
    )


@query(
    "label_propagation_convergence",
    oracle=f"""
WITH {basket_ctes_duck(_LPA_MIN_ITEM)},
pairs AS (
    SELECT DISTINCT b1.p AS u, b2.p AS v
    FROM fb b1 JOIN fb b2 ON b1.o = b2.o AND b1.p < b2.p
),
edges AS (
    SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
),
l0 AS (SELECT DISTINCT u AS node, u AS label FROM edges){
    _lpa_sweep_round_ctes(_LPA_SWEEP_ROUNDS)},
stats AS (
    {_lpa_sweep_stats_sql(_LPA_SWEEP_ROUNDS)}
)
SELECT CAST(round_no AS INTEGER) AS round_no,
       CAST(nodes_changed AS BIGINT) AS nodes_changed,
       CAST(n_communities AS BIGINT) AS n_communities
FROM stats ORDER BY round_no
""",
    tags=("graph", "communities", "label-propagation", "convergence"),
)
def label_propagation_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round convergence telemetry for K=4 (_LPA_SWEEP_ROUNDS) uniform
    synchronous label-propagation rounds over the co-purchase graph:
    (round_no, nodes_changed, n_communities) — the monitoring curve an
    operator of a 100 TB LPA job actually watches to decide when to
    stop (label churn per round, community-count trajectory).

    Exercises the bucketed-staging idiom BEYOND the unrolled K=2 of
    `label_propagation_communities` through the driver's value oracle:
    the two bucketed edge copies (by u, by v) are staged once, and each
    of the K rounds consumes them with the pair-side exchange elided,
    moving exactly ONE edge-sized shuffle (the vote repartition) — so
    per-round cost is invariant in the round number (the operator-level
    fixpoint variant lives in operators/graph.py::label_propagation;
    its per-round plan constancy is pinned by tests/test_lpa_fixpoint
    .py, and this query pins K-deep VALUE correctness against the
    K-unrolled DuckDB oracle). Unlike the main query, round 1 is not
    special-cased to MIN(v): all K rounds run the identical vote body
    from l0 (label = own id; a unique-label vote IS the min-neighbor
    collapse), which is exactly what makes the loop body reusable K
    times.

    Per round the driver pulls back TWO scalars (label churn + distinct
    labels, one aggregate job on the node-sized join of consecutive
    label frames); the result frame is built from those K scalar rows —
    data never collects. Round frames are materialized (two consumers:
    next round's votes + the telemetry join) and released as soon as
    the next round lands, so steady-state memory is two node-sized
    frames regardless of K."""
    from ..session import (
        drop_materialized,
        gc_hint,
        rows_per_task_budget,
        stage,
        stage_bucketed,
    )

    li = load_table(spark, sf_dir, "lineitem")
    baskets, freq, fb = frequent_baskets(li, _LPA_MIN_ITEM)
    pairs_uv = (
        basket_pair_join(fb)
        .select(F.col("b1.p").alias("u"), F.col("b2.p").alias("v"))
        .distinct()
    )
    # same staged layout as label_propagation_communities (see its
    # docstring for the scratch/exchange rationale): plain cut first to
    # release the pair-build working set and size the bucket layout,
    # then the two bucketed copies every round consumes exchange-free
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rows_per_task = rows_per_task_budget(spark, _LPA_VOTE_ROW_BYTES)
    # same r11 scale gate as label_propagation_communities (see the
    # comment there): staged-bucketed layout only when a vote round's
    # state exceeds one task's budget; small corpora reuse the plain
    # staged parquet for both directions and let AQE size the exchanges
    small = _lpa_small_corpus(sf_dir, fb, rows_per_task)
    pairs0 = stage(pairs_uv, "lpa_sweep_pairs_raw")
    drop_materialized(baskets, freq)
    baskets = freq = fb = pairs_uv = None
    gc_hint(spark)
    if small:
        by_u = by_v = pairs0
        n_parts = None
    else:
        n_pairs = pairs0.count()
        n_buckets = max(shuffle_parts, -(-n_pairs // rows_per_task))
        by_u = stage_bucketed(pairs0, "u", "lpa_sweep_u", n_buckets)
        by_v = stage_bucketed(pairs0, "v", "lpa_sweep_v", n_buckets)
        n_parts = max(shuffle_parts, -(-2 * n_pairs // rows_per_task))
    # l0: every endpoint labeled with its own id — both selects are
    # zero-exchange bucketed scans; the distinct is node-sized
    labels = materialize(
        by_u.select(F.col("u").alias("node"))
        .unionByName(by_v.select(F.col("v").alias("node")))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    rows: list[tuple[int, int, int]] = []
    for r in range(1, _LPA_SWEEP_ROUNDS + 1):
        va = by_v.join(labels.withColumnRenamed("node", "v"), "v").select(
            "u", "label"
        )
        vb = by_u.join(labels.withColumnRenamed("node", "u"), "u").select(
            F.col("v").alias("u"), "label"
        )
        voters = va.unionByName(vb)
        if n_parts is not None:
            voters = voters.repartition(n_parts, F.col("u"))
        # lazy persist (r11): the churn/community aggregate right below
        # is the first consumer and forces the cache in its own job —
        # an eager count here was one extra vote-sized job per round
        new_labels = materialize_lazy(
            voters.groupBy(F.col("u").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("n_votes"))
            .groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        F.col("n_votes"), (-F.col("label")).alias("neg_label")
                    )
                ).alias("m")
            )
            .select("node", (-F.col("m.neg_label")).alias("label"))
        )
        # churn + community count in ONE aggregate job over the
        # node-sized join of consecutive label frames (the node set is
        # identical every round: every node has a neighborhood)
        st = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .agg(
                F.sum(
                    (F.col("n.label") != F.col("o.label")).cast("long")
                ).alias("ch"),
                F.count_distinct(F.col("n.label")).alias("nc"),
            )
            .collect()[0]
        )
        rows.append((r, int(st["ch"] or 0), int(st["nc"])))
        drop_materialized(labels)
        labels = new_labels
    drop_materialized(labels)
    return spark.createDataFrame(
        rows, "round_no int, nodes_changed bigint, n_communities bigint"
    ).orderBy("round_no")
