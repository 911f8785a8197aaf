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
  telemetry (label churn, community count) for K=4 vote rounds
  against a K-unrolled oracle — the monitoring curve that decides
  when a real LPA job stops.

Both LPA queries run `operators/graph.py::label_propagation`, the
engine's one LPA, with max_rounds 2 and 4.

Determinism: exact integer counts everywhere; every argmax is a
ROW_NUMBER over (count DESC, label ASC); ln carries the accepted
1-ulp class behind ROUND(6); NULL keys excluded at the edge build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.graph import label_propagation
from ..session import load_table, materialize
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
# Label propagation over the co-purchase graph (operators/graph.py)
# ---------------------------------------------------------------------------
_LPA_MIN_ITEM = 5  # frequent-item gate for the pair join (apriori)


def _co_purchase_lpa(
    spark: SparkSession, sf_dir: str, max_rounds: int, stats: dict | None = None
) -> DataFrame:
    """operators/graph.py::label_propagation for at most `max_rounds`
    rounds over the co-purchase graph. The edge build is the SHARED
    apriori-gated basket scaffold (basket_common.py — market_basket_lift
    mines the same graph): frequent items only, pair expansion bounded
    by basket width, sort-merge hinted (see basket_pair_join for why
    the un-hinted plan broadcasts the fact side). The operator
    canonicalizes, dedups and stages the pairs, then releases the basket
    caches before its first round."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets, freq, fb = frequent_baskets(li, _LPA_MIN_ITEM)
    edges = basket_pair_join(fb).select(
        F.col("b1.p").alias("src"), F.col("b2.p").alias("dst")
    )
    labels, _ = label_propagation(
        edges, max_rounds=max_rounds, stats=stats, release=(baskets, freq)
    )
    return labels


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
    graph, with community sizes — the cheap community splitter next to
    connected components. Round 1's unique-label vote collapses to the
    smallest neighbor id (the oracle's MIN round); round 2 is a genuine
    majority vote, ties to the smallest label. The result is
    materialized: the node-sized join is computed once, and the
    consuming plan reads only the cache."""
    labels = _co_purchase_lpa(spark, sf_dir, 2)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("community_size"))
    return (
        labels.join(sizes, "label")
        .select("node", F.col("label").alias("community"), "community_size")
        .transform(materialize)
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
    operator of a large LPA job watches to decide when to stop (label
    churn per round, community-count trajectory), value-checked K deep
    against the K-unrolled DuckDB oracle.

    The rows are the operator's per-round stats (two collected scalars
    per round; the labels never collect). If the labels reach a fixpoint before
    round K, the remaining rounds are (r, 0, last n_communities) —
    exact, because a fixpoint of the synchronous update stays one."""
    stats: dict = {}
    _co_purchase_lpa(spark, sf_dir, _LPA_SWEEP_ROUNDS, stats)
    rows = [(r, ch, nc) for r, (ch, nc) in enumerate(stats["rounds"], 1)]
    rows += [(r, 0, rows[-1][2]) for r in range(len(rows) + 1, _LPA_SWEEP_ROUNDS + 1)]
    return spark.createDataFrame(
        rows, "round_no int, nodes_changed bigint, n_communities bigint"
    ).orderBy("round_no")
