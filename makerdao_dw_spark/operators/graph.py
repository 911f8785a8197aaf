"""Iterative graph operator: connected components by min-label
propagation (the transitive-closure step of near-dup clustering: LSH
emits PAIRS, but a dup cluster is a component — {a~b, b~c} must elect
ONE canonical doc for {a,b,c}).

Algorithm: min-label propagation WITH pointer jumping (hash-to-min
family). Every node starts labeled with its own id; each round, every
node takes (a) the min label in its neighborhood (including itself),
then (b) shortcuts through its label's label — L(u) <- L(L(u)) — which
halves pointer-chain depth per round. Pure neighborhood propagation
needs O(diameter) rounds (a 10^6-long near-dup chain = 10^6 shuffles);
the jump step cuts that to O(log diameter), the property that makes CC
viable on arbitrary 100 TB graphs, not just the near-clique clusters
LSH emits. Each round is two joins + one groupBy (uniform keys);
lineage is cut each round so the plan doesn't grow across iterations —
the standard Spark pattern for iterative algorithms (same as PageRank).

Lineage cutting is RELIABLE-checkpoint-aware: localCheckpoint (the
local[*] default) stores blocks on executors, so losing one executor
mid-iteration kills the job on a real cluster. Set a checkpoint dir
(sc.setCheckpointDir or SPARK_GRAFT_CHECKPOINT_DIR) and every cut
becomes a reliable HDFS/object-store checkpoint instead — survivable
across executor loss, which a 100 TB multi-hour CC job requires.

At 100 TB: candidate-pair graphs are sparse (LSH bounds degree), rounds
are data-parallel, and the loop is driver-side control flow only — no
data ever reaches the driver except the 1-row convergence count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import (
    current_scope,
    gc_hint,
    materialize,
    rows_per_task_budget,
    stage,
    stage_bucketed,
)


def _cut_lineage(df: DataFrame) -> DataFrame:
    """Truncate the plan: reliable checkpoint when a checkpoint dir is
    configured (cluster-survivable), localCheckpoint otherwise (fast,
    executor-local — fine for local[*] tests).

    Deliberately NOT session.materialize (the round-7 persist+release
    replacement for query-layer checkpoints): per-iteration frames here
    are FRONTIER-sized, so building the columnar cache each round costs
    more than it saves (measured on dedup_connected_components at
    sf0.1: 1.33s with localCheckpoint vs 2.75s with persist), and the
    small blocks don't meaningfully pile up across a long session the
    way corpus-sized query intermediates did.

    The checkpoint dir itself is configured in `session.configure`
    (SPARK_GRAFT_CHECKPOINT_DIR) — never mutated here; and sessions built
    by `session.get_spark` enable
    spark.cleaner.referenceTracking.cleanCheckpoints so per-round
    checkpoints are GC'd once unreferenced instead of accumulating for
    the lifetime of a multi-hour job."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def bfs_distances(edges: DataFrame, sources: DataFrame, max_hops: int) -> DataFrame:
    """Breadth-first hop distances from `sources` over a directed
    (src, dst) edge list, bounded at `max_hops`. Returns (node, dist)
    with dist = the MINIMUM number of hops (<= max_hops); unreachable
    nodes absent.

    `sources` is a 1-column DataFrame of start nodes (column name free).
    Frontier expansion is one join + one anti-join per level — each level
    shuffles only the frontier (shrinking once the reachable set
    saturates), never the full visited set, and the loop is driver-side
    control flow over localCheckpointed frames (constant-size plans).
    BFS level count is the bound, so at 100 TB cost is
    O(max_hops x frontier-edge joins) — the same plan GraphFrames' BFS
    lowers to.
    """
    edges = _cut_lineage(edges.select("src", "dst"))
    frontier = _cut_lineage(
        sources.toDF("node").distinct().withColumn("dist", F.lit(0))
    )
    visited = frontier
    for hop in range(1, max_hops + 1):
        nxt = _cut_lineage(
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("dist", F.lit(hop))
        )
        if nxt.isEmpty():
            break
        visited = _cut_lineage(visited.unionByName(nxt))
        frontier = nxt
    return visited


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20
) -> DataFrame:
    """Return (node, component) with component = min node id reachable.

    `edges` is an undirected edge list (each pair once is enough).
    Isolated nodes absent from `edges` are absent from the result —
    left-join the node table afterwards and coalesce to the node id.
    """
    sym = edges.selectExpr(f"{src} AS a", f"{dst} AS b").unionByName(
        edges.selectExpr(f"{dst} AS a", f"{src} AS b")
    )
    sym = _cut_lineage(sym.distinct())

    # One-hop min initialization: label = min(self, neighbors). LSH dup
    # clusters are near-cliques, so most components converge here and the
    # loop's first iteration is just the convergence proof.
    labels = _cut_lineage(
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("mn"))
        .select("node", F.least("node", "mn").alias("component"))
    )

    from pyspark.sql import Observation

    for _ in range(max_iter):
        # neighbor labels: for each edge (a,b), b's current label offers
        # itself to a; plus every node keeps its own label. The self-row
        # carries the OLD label in a side column so convergence is
        # measured inside the SAME job (Observation metric collected by
        # the eager lineage cut) — no separate old-vs-new join pass.
        offered = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .select(F.col("a").alias("node"), "component")
            .withColumn("old", F.lit(None).cast(dict(labels.dtypes)["component"]))
            .unionByName(labels.withColumn("old", F.col("component")))
        )
        agg = offered.groupBy("node").agg(
            F.min("component").alias("mid"),
            # exactly one self-row per node => max(old) IS the old label
            F.max("old").alias("old"),
        )
        # pointer jump: follow the candidate label to ITS label.
        # Invariant: every label value is a node id present in `labels`
        # (initial labels are neighbor/self ids; jumped labels are label
        # values of such ids), and labels are monotone non-increasing,
        # so L(L(u)) <= L(u) — the shortcut can only tighten. This is
        # what turns O(diameter) rounds into O(log diameter): a pointer
        # chain of depth d halves every round. LEFT + coalesce keeps
        # the step total even if the invariant were perturbed upstream.
        jump = labels.select(
            F.col("node").alias("mid"), F.col("component").alias("jumped")
        )
        joined = agg.join(jump, "mid", "left").select(
            "node", F.coalesce("jumped", "mid").alias("component"), "old"
        )
        obs = Observation()
        flagged = joined.observe(
            obs,
            F.sum((F.col("component") != F.col("old")).cast("long")).alias("n_changed"),
        )
        new_labels = _cut_lineage(flagged.select("node", "component"))
        labels = new_labels
        if (obs.get["n_changed"] or 0) == 0:
            return labels
    # exhausting max_iter without convergence means some component's
    # labels are WRONG (one real component reported as several) — that
    # must be an explicit failure, never a silent wrong answer. With
    # pointer jumping, 20 rounds cover diameters up to ~2^20, so hitting
    # this indicates a pathology worth failing loudly on.
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations; "
        "raise max_iter (graph diameter exceeds it)"
    )


# PageRank damping factor d
_PR_DAMPING = 0.85


def pagerank(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Fixed-iteration PageRank over a directed (src, dst) edge list,
    damping d = _PR_DAMPING, formulated for EXACT cross-engine
    determinism: every per-edge contribution is rounded to 12 decimals
    and summed as DECIMAL(38,12) (arrival order can never flip a bit),
    and each new rank is re-rounded to 12 decimals — so K iterations
    produce bit-identical doubles in any engine that applies the same
    recurrence (the DuckDB oracle unrolls it as chained CTEs).

        rank_0(n)   = round(1/N, 12)
        rank_k+1(n) = round((1-d)/N
                      + d * SUM_{(m,n)} round(rank_k(m)/outdeg(m), 12), 12)

    No dangling-mass redistribution: callers pass a symmetrized edge
    list for undirected graphs (every node then has outdeg >= 1);
    directed graphs with sinks leak their mass, documented and fine for
    ranking use.

    100 TB shape: the per-iteration work is one hash join of ranks onto
    the (src-partitioned) edge list plus one aggregation shuffled on
    dst — both on uniform node keys; ranks/nodes are node-sized, edges
    edge-sized, nothing ever collects to the driver except the O(1)
    node count. Lineage is cut per round (reliable-checkpoint-aware,
    like connected_components above)."""
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = _cut_lineage(nodes)
    n_nodes = nodes.count()  # O(1) driver scalar, standard for iterative algos
    if n_nodes == 0:
        # empty graph: no ZeroDivisionError at build time, just no rows
        return nodes.select("node", F.lit(0.0).alias("rank"))
    out = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    linked = _cut_lineage(edges.join(out, "src").select("src", "dst", "outdeg"))

    # Spark's ROUND (half-up), not Python's round() (half-even): the
    # oracle rounds with the engine function, so Spark must too
    ranks = nodes.select(
        "node", F.round(F.lit(1.0) / F.lit(float(n_nodes)), 12).alias("rank")
    )
    base = (1 - _PR_DAMPING) / n_nodes
    for _ in range(iterations):
        contrib = linked.join(ranks, linked["src"] == ranks["node"]).select(
            F.col("dst").alias("to_node"),
            F.round(F.col("rank") / F.col("outdeg"), 12)
            .cast("decimal(38,12)")
            .alias("c"),
        )
        sums = contrib.groupBy("to_node").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(sums, nodes["node"] == sums["to_node"], "left")
            .select(
                "node",
                F.round(
                    F.lit(base)
                    + F.lit(_PR_DAMPING) * F.coalesce(F.col("s").cast("double"), F.lit(0.0)),
                    12,
                ).alias("rank"),
            )
        )
        ranks = _cut_lineage(ranks)
    return ranks


# ~24 B of hash-aggregate state per (node, label, count) vote entry: the
# row unit rows_per_task_budget() sizes the vote stage's tasks by
_LPA_VOTE_ROW_BYTES = 24


def label_propagation(
    edges: DataFrame,
    max_rounds: int = 10,
    stats: dict | None = None,
    release: tuple[DataFrame, ...] = (),
) -> tuple[DataFrame, int]:
    """Synchronous majority-vote label propagation, run to FIXPOINT or
    `max_rounds` — the one LPA in the engine (both registered LPA
    queries in queries/insights.py call it).

    Semantics: numeric node ids; `edges` is read as an UNDIRECTED edge
    list — it is canonicalized to one (least, greatest) row per pair
    with self-loops dropped, so a pair listed in both directions (or
    twice) votes once per endpoint; initial label = own node id; each
    round every node adopts the most-voted label among its NEIGHBORS
    (no self-vote), ties to the smallest label (vote count desc, label
    asc — the argmax both queries pin against their DuckDB oracles).
    Round 1 needs no special case: with unique initial labels every
    vote is a 1-count tie, so the smallest neighbor id wins.
    Synchronous updates can 2-cycle on bipartite-ish graphs; max_rounds
    bounds that, and the loop stops the first round no label changes
    (a fixpoint of the synchronous update stays one).

    Layout, decided from the input size, not an option. The pairs are
    staged once (stage(): a hard lineage cut; the count is a
    metadata-level parquet count) and the caller's `release` frames
    (the caches its edge build holds) are dropped right after, before
    any round, so the pre-stage working set is reclaimable while the
    rounds run (peak scratch is max-over-stages). The pairs are read as
    ARCS, one row per direction, laid out once:
      - partition key: the voter when the node-sized labels fit Spark's
        broadcast limit — the labels are broadcast and the join and
        both vote aggregates run on the voter-partitioned arcs, so a
        round moves no edge-sized data (measured at sf0.1 on 4 cores:
        ~1.1 s per round, vs ~2 s with two per-round exchanges over the
        staged parquet); otherwise the neighbor — the label join reads
        the arcs exchange-free and a round moves ONE edge-sized
        shuffle, the vote repartition by voter, so per-round data
        motion stays O(E);
      - storage: cached when all pairs fit one task's vote budget, else
        a BUCKETED staged table. Bucket and partition counts grow with
        the arc count: a bucketed scan is one task per bucket, and the
        fused join + two-aggregate stage holds more per-task state than
        a many-exchange plan, so a count pinned to the core count puts
        a whole-corpus fraction in one task.
    Measured at sf1 of the co-purchase graph (12M pairs, 200k nodes) on
    4 cores with a 4 GB driver, where the pairs exceed the vote budget:
    peak scratch 0.57 GB against 0.77-1.33 GB for the earlier
    two-pair-copy layout; 4 rounds 53-66 s against 76-108 s, 2 rounds
    54-59 s against 48-51 s (the earlier two-round query took a min
    aggregate for round 1 instead of a vote).
    For neighbor-keyed arcs, a partial (map-side combined) vote
    aggregate with a second exchange for the argmax was a wash at sf1
    on the earlier two-pair-copy layout (15.15/15.87 s vs
    14.92/16.75 s), so the one repartition by voter serves both
    aggregates.

    Labels are node-sized and lineage-cut every round (_cut_lineage),
    so each round's plan bottoms out at checkpoint and arc scans and
    never grows with the round number (persist-based frames nest the
    pair build twice per round — measured exponential planning blowup,
    1.3 -> 14.8 s/round by round 4).

    Returns (labels DataFrame (node, label), rounds_run). `stats`, if
    given, collects "plan_lines" (per-round compute-plan line counts —
    their constancy is the per-round invariance a test asserts) and
    "rounds" (per-round (nodes_changed, n_communities)): one node-sized
    aggregate per round yields both numbers and is the fixpoint check
    (skipped after the last round when no stats are asked for).
    """
    spark = edges.sparkSession
    pairs = stage(
        edges.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        "lpa_pairs",
    )
    current_scope(spark).drop(*release)
    gc_hint(spark)
    n_pairs = pairs.count()
    labels = _cut_lineage(
        pairs.select(F.col("u").alias("node"))
        .union(pairs.select("v"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    # node-sized labels (~24 B a row) are broadcast within Spark's own
    # limit; a graph can have up to two nodes per pair
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    bcast = labels.count() * 24 <= limit
    # both directions: row (u, v) is voter u's vote for neighbor v's
    # label. The arcs are partitioned by the key a round would otherwise
    # shuffle: the voter when the labels broadcast, else the neighbor
    key = "u" if bcast else "v"
    arcs = pairs.unionByName(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rows_per_task = rows_per_task_budget(spark, _LPA_VOTE_ROW_BYTES)
    n_parts = max(shuffle_parts, -(-2 * n_pairs // rows_per_task))
    small = n_pairs <= rows_per_task
    if small:
        arcs = materialize(arcs.repartition(n_parts, F.col(key)))
    else:
        arcs = stage_bucketed(arcs, key, "lpa_arcs", n_parts)
    rounds = 0
    for _ in range(max_rounds):
        # broadcast labels: the join and both vote aggregates run on the
        # voter-partitioned arcs, so the round moves no edge-sized data.
        # The hint is load-bearing: a checkpoint carries only the
        # planner's size estimate, and unhinted the join plans as a
        # sort-merge that shuffles the arcs (measured at sf0.1: 2.6 s vs
        # 1.1 s per round). Otherwise the join reads the
        # neighbor-partitioned arcs exchange-free and the vote
        # repartition is the round's one edge-sized shuffle.
        lab = F.broadcast(labels) if bcast else labels
        voters = arcs.join(lab.withColumnRenamed("node", "v"), "v").select("u", "label")
        if not bcast:
            voters = voters.repartition(n_parts, F.col("u"))
        # argmax by max(struct): highest count, then smallest label via
        # the negated key — one aggregate, no row_number window
        new_labels = (
            voters.groupBy(F.col("u").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("n_votes"))
            .groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("n_votes"), (-F.col("label")).alias("neg_label"))
                ).alias("m")
            )
            .select("node", (-F.col("m.neg_label")).alias("label"))
        )
        if stats is not None:
            # the PRE-cut compute plan: label inputs are checkpoint scans
            # and arcs a cached or bucketed scan, so it must not grow
            stats.setdefault("plan_lines", []).append(
                len(
                    new_labels._jdf.queryExecution()
                    .executedPlan()
                    .toString()
                    .splitlines()
                )
            )
        new_labels = _cut_lineage(new_labels)
        rounds += 1
        old, labels = labels, new_labels
        if stats is None and rounds == max_rounds:
            break  # no round left to skip and no stats to report
        # every node has a neighbor, so the node set is the same each round
        st = (
            labels.alias("n")
            .join(old.alias("o"), "node")
            .agg(
                F.sum((F.col("n.label") != F.col("o.label")).cast("long")).alias("ch"),
                F.count_distinct(F.col("n.label")).alias("nc"),
            )
            .collect()[0]
        )
        changed = int(st["ch"] or 0)
        if stats is not None:
            stats.setdefault("rounds", []).append((changed, int(st["nc"])))
        if changed == 0:
            break
    if small:
        current_scope(spark).drop(arcs)
    return labels, rounds
