"""Duplicate-cluster resolution: connected components over near-dup
pair edges + survivor selection.

The dedup families (``dedup.py``, ``similarity.py``) emit *pairs*; a
curation pipeline must then group pairs into clusters and keep one
survivor per cluster. The reference has no such operator (its dedup is
keep-latest-per-key, ``fetch_clickup_data.py:1774-1777``); this is one
of the beyond-reference training-data operators.

Algorithm: iterative min-label propagation ("hash-to-min" style — see
Rastogi et al., "Finding connected components in map-reduce in
logarithmic rounds", ICDE 2013; the large-star/small-star variant of
Kiveris et al., "Connected components in MapReduce and beyond", SoCC
2014 is the drop-in upgrade if cluster diameters ever grow). Each
round every node takes the min component id seen across itself and its
neighbors; convergence needs O(diameter) rounds. Near-dup clusters are
near-cliques (diameter ≤ ~3), so 3-4 rounds settle in practice; a
``max_iter`` guard fails loudly rather than looping forever.

Scale shape: the pair plan is built into the edge list ONCE — one
``explode`` emits both directions of every pair, where a union of the
two orientations put the (possibly expensive) pair-generation plan into
the tree twice and doubled its analysis — and the symmetrized edge list
is ``localCheckpoint``-ed once so no round re-executes it. Only edge
endpoints enter the rounds: a node without an edge is its own
component, added back at the end by one anti-join (``dup_survivors``
skips even that: it anti-joins the nodes against the endpoints that
lost). Round 1 needs no join — each endpoint's first label is the min
over itself and its neighbours' ids, one ``groupBy`` over the edges;
every later round is ONE join (edges ⋈ labels on the neighbour id) +
ONE ``groupBy(node).min``. The convergence test and the label count are
an ``Observation`` on the round's own label checkpoint, so a round
costs no extra job, and the count lets the next join broadcast a label
set the planner cannot size through the checkpoint. Label state is
checkpointed each round to keep lineage flat — the standard Pregel
discipline on Spark.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _sized(labels: DataFrame, rows: int) -> DataFrame:
    """``labels`` with a broadcast hint when ``rows`` of two longs fit the
    session's broadcast threshold. A checkpoint hides its size from the
    planner, which then shuffles both sides of a join with it (AQE
    re-plans to a broadcast only after those shuffles ran); the rounds
    count their labels, so this is the planner's own rule on the true
    size (an UnsafeRow of two longs: 8-byte header + 16)."""
    conf = labels.sparkSession._jsparkSession.sessionState().conf()
    small = rows * 24 <= conf.autoBroadcastJoinThreshold()
    return F.broadcast(labels) if small else labels


def _free_checkpoint(df: DataFrame) -> None:
    """Best-effort release of a superseded localCheckpoint's cached
    blocks (standard Pregel-on-Spark discipline): without it each round
    pins another full label-set copy until context GC — up to max_iter
    copies on the biggest inputs. Reaches the checkpointed RDD through
    the analyzed LogicalRDD and drops its blocks with
    ``SparkContext.unpersistRDD``: ``RDD.unpersist`` makes the same call
    but first logs a WARN that a locally checkpointed RDD cannot be
    recomputed, every round, for an RDD nothing reads again. Swallows
    any reflection miss, since retention is a memory-pressure concern,
    never a correctness one."""
    try:
        rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)
    except Exception:
        pass


def _endpoint_labels(
    universe: DataFrame, edges: DataFrame, src_col: str, dst_col: str, max_iter: int
) -> tuple[DataFrame, int]:
    """``(node, component)`` for every endpoint of an edge whose both ends
    are in ``universe`` (a ``node: long`` column), checkpointed, and its
    row count. See the module docstring for the round structure."""
    src, dst = _c(src_col).cast("long"), _c(dst_col).cast("long")
    sym = (
        # both orientations from ONE plan of the pairs (see module doc)
        edges.select(
            F.explode(
                F.array(
                    F.struct(src.alias("u"), dst.alias("v")),
                    F.struct(dst.alias("u"), src.alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        # restrict to the declared node universe (and drop null ids):
        # an endpoint absent from ``nodes`` used to INVENT output rows
        # the caller never supplied, with labels that may not have
        # converged through the missing node's other edges (review r8)
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .join(universe.withColumnRenamed("node", "u"), "u", "left_semi")
        .join(universe.withColumnRenamed("node", "v"), "v", "left_semi")
        # materialize once: every round re-joins this edge list, and the
        # upstream pair-generation plan (GEMM / LSH) must not re-run
        .localCheckpoint(eager=True)
    )
    # round 1: every endpoint starts as its own label, so the min over
    # {self} ∪ neighbours is min(u, min v) — one groupBy, no join
    step = (
        sym.groupBy("u")
        .agg(F.min("v").alias("m"))
        .select(
            F.col("u").alias("node"),
            F.least("u", "m").alias("component"),
            (F.col("m") < F.col("u")).alias("changed"),
        )
    )
    labels = None
    for _ in range(max_iter):
        # a node changed iff some neighbour label beat its own; that
        # count and the label count ride the checkpoint job
        obs = Observation()
        new_labels = (
            step.observe(
                obs,
                F.count(F.when(F.col("changed"), 1)).alias("changed"),
                F.count(F.lit(1)).alias("rows"),
            )
            .select("node", "component")
            .localCheckpoint(eager=True)
        )
        if labels is not None:
            _free_checkpoint(labels)
        labels, seen = new_labels, obs.get
        if seen["changed"] == 0:
            _free_checkpoint(sym)
            return labels, seen["rows"]
        # neighbour v's current component flows to u …
        small = _sized(labels, seen["rows"])
        msgs = sym.join(small, sym["v"] == small["node"], "inner").select(
            F.col("u").alias("node"),
            F.col("component"),
            F.lit(False).alias("is_self"),
        )
        # … and each node keeps the min over {self} ∪ neighbours; tagging
        # the self row lets the same groupBy flag the nodes that changed
        step = (
            labels.select("node", "component", F.lit(True).alias("is_self"))
            .union(msgs)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                (
                    F.min("component")
                    < F.max(F.when(F.col("is_self"), F.col("component")))
                ).alias("changed"),
            )
        )
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node with the min node id of its connected component.

    ``nodes``: one row per node (isolated nodes keep their own id —
    they form singleton clusters). ``edges``: undirected pair list;
    symmetrized internally, self-loops and duplicates are harmless
    (min() over a multiset).

    Returns ``(node: long, component: long)``.
    """
    universe = nodes.select(_c(node_col).cast("long").alias("node"))
    labels, rows = _endpoint_labels(universe, edges, src_col, dst_col, max_iter)
    # nodes without an edge are their own component
    isolated = universe.distinct().join(_sized(labels, rows), "node", "left_anti")
    return labels.unionByName(isolated.withColumn("component", F.col("node")))


def resolve_dup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    node_col: str,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Cluster near-dup pairs and pick the min-id survivor per cluster.

    Returns ``(<node_col>: long, cluster_id: long, is_survivor: bool)``
    — filter ``is_survivor`` to materialize the deduplicated corpus;
    singletons are their own survivor, so the filter never drops
    documents that had no near-dup.
    """
    comp = connected_components(nodes, pairs, node_col, src_col, dst_col)
    return comp.select(
        F.col("node").alias(node_col),
        F.col("component").alias("cluster_id"),
        (F.col("component") == F.col("node")).alias("is_survivor"),
    )


def dup_survivors(
    nodes: DataFrame,
    pairs: DataFrame,
    node_col: str,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """The rows of ``nodes`` that survive near-dup clustering — the ids
    of ``resolve_dup_clusters(...).filter("is_survivor")``, but as
    ``nodes``' own rows: every row except the non-minimum members of a
    cluster. One anti-join against the endpoints that lost, so a node
    without an edge needs neither a label row nor a distinct."""
    universe = nodes.select(_c(node_col).cast("long").alias("node"))
    labels, rows = _endpoint_labels(universe, pairs, src_col, dst_col, 25)
    losers = labels.filter(F.col("component") != F.col("node")).select(
        F.col("node").alias("__loser")
    )
    return nodes.join(
        _sized(losers, rows),
        _c(node_col).cast("long") == F.col("__loser"),
        "left_anti",
    )
