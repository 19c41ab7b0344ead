"""Iterative graph analytics: PageRank over the co-supplier graph
(suppliers linked when they serve the same order).

Third iterative-algorithm exemplar next to connected components
(dedup.py) and Lloyd k-means (similarity.py), with the same distributed
discipline: set-at-a-time DataFrame rounds, localCheckpoint per
iteration to cut lineage, shuffles keyed on the node id, and NO
driver-side per-node state — the driver only orchestrates rounds.

Scale: the edge list is built from distinct (order, supplier) pairs
self-joined on the order key — co-occurrence fan-out is bounded by
order size (≤7 lineitems in TPC-H shapes), so edges = O(orders · k²),
never all-pairs of suppliers. Each PageRank round is one shuffle
(contributions summed by destination) plus a broadcast of the 1-row
dangling-mass aggregate. Under the driver's value-hash gate: the fixed
round count makes the iteration SQL-expressible after all — the oracle
unrolls the 5 rounds as chained DuckDB CTEs (_pagerank_oracle);
tests/test_graph.py additionally replays the identical algorithm in
numpy on the collected edge list and checks the full rank vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.catalog import register
from ..sources.tables import load_table

PR_ITERS = 5
PR_DAMPING = 0.85


def _pagerank_oracle(iters: int = PR_ITERS, d: float = PR_DAMPING) -> str:
    """DuckDB oracle: the SAME 5 synchronous PageRank rounds, unrolled
    as chained CTEs (one contribution-sum + dangling-mass + update
    layer per round). Both engines do float64 arithmetic with the same
    constants ((1 - d)/n computed in-engine as doubles); summation
    order differs, but accumulated drift over 5 rounds is ~1e-12, far
    inside the round-to-6 output. This puts an ITERATIVE algorithm
    under the driver's value-hash gate — the numpy replica test remains
    the algorithmic cross-check."""
    parts = [f"""WITH li AS (
      SELECT DISTINCT l_orderkey AS k, l_suppkey AS s FROM lineitem),
    edges AS (SELECT DISTINCT a.s AS src, b.s AS dst
              FROM li a JOIN li b ON a.k = b.k AND a.s <> b.s),
    nodes AS (SELECT DISTINCT s_suppkey AS node FROM supplier),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""]
    for i in range(1, iters + 1):
        prev = f"r{i - 1}"
        parts.append(f"""c{i} AS (
      SELECT e.dst AS node, SUM(r.rank / dg.deg) AS m
      FROM edges e JOIN {prev} r ON e.src = r.node
      JOIN deg dg ON e.src = dg.src GROUP BY 1),
    d{i} AS (SELECT COALESCE(SUM(rank), 0) AS dm FROM {prev}
             WHERE node NOT IN (SELECT src FROM deg)),
    r{i} AS (
      SELECT nodes.node,
             (1 - {d}) / (SELECT n FROM nn)
             + {d} * (COALESCE(c{i}.m, 0)
                      + (SELECT dm FROM d{i}) / (SELECT n FROM nn)) AS rank
      FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node)""")
    return (",\n".join(parts)
            + f"\nSELECT node, round(rank, 6) AS rank FROM r{iters}"
            " ORDER BY node")


def supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed co-occurrence edges (src, dst), deduped: s1→s2 iff some
    order contains lineitems from both.

    Shape: ONE groupBy(order) → collect_set(supplier) shuffle, then a
    narrow per-order pair explode, then the edge-level distinct — two
    shuffles total. (The equivalent self-join form pays three: distinct
    on (order, supp), the join re-shuffle on order, and the final edge
    distinct.) Per-order fan-out is bounded by order size (≤7 lineitems
    in TPC-H shapes), so the explode is O(orders · k²), never all-pairs
    of suppliers.

    Width discipline: BOTH heavy stages here scale with the order
    count — the collect_set aggregation carries OBJECT state per group,
    and the explode feeding the edge-distinct fans out ≤k² pair rows
    per order into the map-side dedup hash map. A fixed 32-way shuffle
    hit AGGREGATE_OUT_OF_MEMORY at 64× sf0.1 on the default heap (same
    per-task density wall as the SimHash bit-vote), so the pre-agg
    repartition is sized to ~20k orders/task
    (sources.tables.scaled_partitions) and the explode inherits that
    partitioning — ~1M pair rows per map-side dedup at any scale."""
    from ..sources.tables import scaled_partitions

    li = load_table(spark, sf_dir, "lineitem")
    n_parts = scaled_partitions(spark, sf_dir, "orders",
                                rows_per_partition=20_000, floor=32)
    per_order = (li.repartition(n_parts, "l_orderkey")
                 .groupBy("l_orderkey")
                 .agg(F.collect_set("l_suppkey").alias("ss")))
    return (
        per_order
        .select(F.explode("ss").alias("src"), "ss")
        .select("src", F.explode("ss").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


@register("graph_pagerank_suppliers", oracle=_pagerank_oracle())
def graph_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-supplier graph: PR_ITERS synchronous rounds,
    damping PR_DAMPING, uniform teleport over ALL suppliers (including
    isolated ones, which keep the teleport mass). Per round: rank/out
    contributions shuffle-summed by destination + the dangling mass
    (suppliers with no out-edges) redistributed uniformly via a 1-row
    broadcast. localCheckpoint per round keeps the plan flat."""
    from ..session import private_session, rebind
    from ..sources.tables import scaled_partitions, table_rowcount
    from .dedup import dedup_shuffle_partitions

    # Edge construction is a data-scale stage — leave it at the session's
    # shuffle sizing. The ROUNDS run on a private session sized to EDGE
    # volume with a floor at the pair-scale knob: locally they run at 8 partitions (fixed task
    # cost dominates thousands-row relations), while at 64× the
    # contribution shuffles spread (a fixed 8-way width put 7M rows per
    # reduce task). The materialized edge list is checkpointed DISK_ONLY
    # once it is large: localCheckpoint blocks cannot be dropped, so a
    # memory-resident 58M-row edge cache pins the storage half of the
    # unified pool and starves the round aggregations into
    # AGGREGATE_OUT_OF_MEMORY (measured at 64× sf0.1, default heap).
    big = table_rowcount(spark, sf_dir, "lineitem") > 5_000_000
    if big:
        from pyspark import StorageLevel
        edges = supplier_edges(spark, sf_dir).localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY)
    else:
        edges = supplier_edges(spark, sf_dir).localCheckpoint()
    rounds_width = max(
        dedup_shuffle_partitions(),
        scaled_partitions(spark, sf_dir, "lineitem",
                          rows_per_partition=150_000, floor=1))
    own = private_session(spark, {"spark.sql.shuffle.partitions":
                                  str(rounds_width)})
    return rebind(_pagerank_rounds(own, sf_dir, rebind(edges, own)), spark)


# Conservative serialized-row estimate for the node-sized relations
# below: (long node, double rank/long deg) + UnsafeRow/broadcast-map
# overhead. Used only to GUARD the broadcast hint, so overestimating is
# the safe direction.
_PR_BYTES_PER_NODE = 64


def _broadcast_threshold_bytes(spark: SparkSession) -> int:
    """spark.sql.autoBroadcastJoinThreshold as bytes (handles the bare
    number and the k/m/g-suffixed forms; -1 disables broadcasting)."""
    raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
                             "10485760")).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("b", 1)):
        if raw.endswith(suffix):
            raw = raw[:-len(suffix)]
            mult = m
            break
    try:
        return int(float(raw)) * mult
    except ValueError:
        return 10 << 20


def _pagerank_rounds(spark: SparkSession, sf_dir: str,
                     edges: DataFrame,
                     _first_round_plan: bool = False) -> DataFrame:
    # checkpointed inputs: edges once (passed in), the WEIGHTED edge
    # list once (deg attached up front — joining out-degrees inside
    # every round re-broadcast the degree relation five times), the
    # seeded rank vector once. After localCheckpoint Catalyst loses
    # size stats (LogicalRDD defaults to "huge"), so every node-sized
    # join below carries an EXPLICIT broadcast hint — without them each
    # round silently planned sort-merge shuffles of thousands-row
    # relations (measured ~2x). The hint is GUARDED on the node count
    # (VERDICT r4 item 6: unconditional broadcast of ranks OOMs the
    # driver at web-graph scale): above the session's
    # autoBroadcastJoinThreshold the joins fall back to shuffle joins —
    # correct, since at that cardinality the node relations are data,
    # not dimensions.
    #
    # Round shape (round-15 job-count rework, guide §1.2: 60 jobs/query
    # was ~45% driver gap): each round is ONE aggregation job over a
    # union of (a) per-edge contributions rank/deg keyed by dst and
    # (b) a zero-contribution row per node carrying its static dangling
    # flag — so nodes with no in-edges appear with an EXACT 0.0 sum
    # (x+0.0 == x for the positive partials here, and the oracle's
    # COALESCE(m, 0) is the same value) and the old separate
    # nodes-left-join disappears. The dangling mass is a 1-row
    # aggregate over the checkpointed rank vector (same rows the old
    # left_anti selected — the flag is precomputed once) attached via
    # an always-safe 1-row broadcast. 3 jobs/round (rank broadcast +
    # dangling broadcast + checkpoint) vs 12 before.
    nodes = (load_table(spark, sf_dir, "supplier")
             .select(F.col("s_suppkey").alias("node")).distinct()
             .localCheckpoint())
    n_nodes = nodes.count()  # driver scalar: one distributed count
    outdeg = (edges.groupBy("src").agg(F.count("*").alias("deg"))
              .localCheckpoint())
    may_broadcast = (n_nodes * _PR_BYTES_PER_NODE
                     <= _broadcast_threshold_bytes(spark))

    def node_sized(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if may_broadcast else df

    # deg rides on each edge for the whole loop; out-degree never
    # changes, so the per-round degree join was pure recompute. Same
    # storage discipline as the caller's edge checkpoint: a large
    # memory-resident edge cache pins the storage half of the unified
    # pool and starves the round aggregations (see
    # graph_pagerank_suppliers).
    from ..sources.tables import table_rowcount
    if table_rowcount(spark, sf_dir, "lineitem") > 5_000_000:
        from pyspark import StorageLevel
        edges_w = edges.join(node_sized(outdeg), "src").localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY)
    else:
        edges_w = edges.join(node_sized(outdeg), "src").localCheckpoint()
    # dangling flag is STATIC (a node's out-degree never changes):
    # compute it once on the seed vector instead of per-round anti-joins
    srcs = outdeg.select("src")
    ranks = (nodes.join(node_sized(srcs),
                        nodes.node == srcs.src, "left")
             .select("node", F.lit(1.0 / n_nodes).alias("rank"),
                     F.col("src").isNull().alias("dang"))
             .localCheckpoint())
    for i in range(PR_ITERS):
        r = ranks.alias("r")
        # per round: ONE shuffle job — contributions plus the per-node
        # zero rows summed by destination in a single aggregate
        contribs = (
            edges_w.join(node_sized(r), F.col("src") == F.col("r.node"))
            .select(F.col("dst").alias("node"),
                    (F.col("rank") / F.col("deg")).alias("c"),
                    F.lit(None).cast("boolean").alias("dang"))
        )
        base = ranks.select("node", F.lit(0.0).alias("c"), "dang")
        summed = (contribs.unionByName(base)
                  .groupBy("node")
                  .agg(F.sum("c").alias("in_mass"),
                       F.max("dang").alias("dang")))
        # dangling = rank mass sitting on nodes without out-edges
        dangling = (
            ranks.filter("dang")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        ranks = (
            summed
            .crossJoin(F.broadcast(dangling))  # always 1 row: safe
            .select(
                "node",
                (F.lit((1.0 - PR_DAMPING) / n_nodes)
                 + PR_DAMPING * (F.col("in_mass")
                                 + F.col("dm") / n_nodes)).alias("rank"),
                "dang")
        )
        if _first_round_plan:
            # plan-inspection seam (tests): the per-round joins are
            # otherwise hidden behind the localCheckpoint below
            return ranks
        # one materialization per round: `ranks` feeds BOTH next
        # round's contribution join and the dangling aggregate, so
        # uncheckpointed lineage doubles per round (2^k recompute)
        ranks = ranks.localCheckpoint()
    return (
        ranks.select("node", F.round("rank", 6).alias("rank"))
        .orderBy("node")
    )
