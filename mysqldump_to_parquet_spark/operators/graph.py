"""Iterative graph analytics: PageRank over the customer↔supplier
trade graph.

The third member of the engine's iterative-algorithm family (with
label-propagation connected components in ``llm/dedup.py`` and the
KMeans-style quantizer fit in ``llm/similarity.py``): a fixed number of
synchronous rounds, each one ordinary DataFrame join+aggregate work — the
pattern GraphX/Pregel compiles to, expressed directly so Catalyst/AQE
optimize every superstep.

Scale shape per iteration: contributions = edges ⋈ ranks (shuffle keyed
on the node — the same key every round, so the edge table is partitioned
once and ``persist()``-ed), then one two-phase aggregate on the
destination.  Ranks are re-persisted and the previous round unpersisted:
memory stays O(|V| + |E|) regardless of iteration count.  For deep
iteration counts the lineage is truncated with ``localCheckpoint`` every
K rounds (here the fixed 6 rounds keep plans shallow).  No collect, no
driver-side graph state — |V| and |E| only ever appear as distributed
tables.

No reference counterpart (ingest-only engine); net-new per SURVEY §2.2.
The DuckDB oracle unrolls the same 6 synchronous rounds as chained CTEs
— bit-for-bit the same arithmetic, so the result hash-checks within
float tolerance.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table

#: Damping factor and synchronous round count (fixed — every engine runs
#: the identical computation).
PR_DAMPING = 0.85
PR_ITERS = 6


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected customer↔supplier trade edges: distinct (customer,
    supplier) pairs that traded, as both directions of a random walk.
    Node ids are disjoint by namespace prefix."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # distinct on the INT pair, then build node-id strings: the dedup
    # shuffle moves two 8-byte keys per row instead of two strings, and
    # the concat runs once per surviving pair (1:1 with the string form,
    # so the result set is identical)
    pairs = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("a"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("b"),
        )
    )
    return pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))


def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_pagerank: 6 synchronous PageRank rounds over the trade graph;
    returns every node's rank (no top-k cut — the full vector hash-checks
    without boundary-tie sensitivity)."""
    edges = _edges(spark, sf_dir).persist()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # weighted edges: contribution fraction carried by each edge — joined
    # once, persisted once; every round reuses the same partitioning
    wedges = (
        edges.join(deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w"))
        .persist()
    )
    nodes = edges.select(F.col("src").alias("node")).distinct().persist()
    n_nodes = nodes.count()  # one scalar the driver legitimately needs
    base = (1.0 - PR_DAMPING) / n_nodes

    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank")).persist()
    for _ in range(PR_ITERS):
        contribs = (
            wedges.join(ranks, wedges.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("inflow"))
        )
        # every node has inflow (undirected edges ⇒ indegree ≥ 1), so the
        # update is a plain project over the aggregate — no outer join
        # each round's rank is rounded to 12 decimals in BOTH twins: the
        # inflow sum's accumulation order is engine-dependent, and the
        # per-round re-sync keeps last-ulp drift from compounding across
        # iterations (drift ~1e-17 ≪ the 5e-13 rounding boundary)
        new_ranks = contribs.select(
            F.col("dst").alias("node"),
            F.round(
                F.lit(base) + F.lit(PR_DAMPING) * F.col("inflow"), 12
            ).alias("rank"),
        ).persist()
        ranks.unpersist()
        ranks = new_ranks
    # edges/wedges/nodes stay cached: the returned DataFrame is LAZY, and
    # every iteration's join hangs off wedges — unpersisting here would
    # make the caller's action recompute the edge pipeline once per
    # round.  Repeated calls reuse the same cache entries (the cache
    # manager keys on the canonicalized plan), so entries don't
    # accumulate; memory stays O(|V| + |E|).
    return ranks.orderBy("node")


def _pagerank_sql() -> str:
    """The identical 6 rounds, unrolled as chained CTEs (recursive CTEs
    forbid aggregation in the recursive member)."""
    head = f"""
WITH pairs AS (
  SELECT DISTINCT 'c:' || o_custkey AS a, 's:' || l_suppkey AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL
  SELECT b AS src, a AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
wedges AS (
  SELECT e.src, e.dst, 1.0 / d.outdeg AS w
  FROM edges e JOIN deg d ON e.src = d.src
),
n AS (SELECT COUNT(DISTINCT src) AS n_nodes FROM edges),
pr0 AS (
  SELECT src AS node, 1.0 / (SELECT n_nodes FROM n) AS rank
  FROM (SELECT DISTINCT src FROM edges)
)"""
    steps = []
    for i in range(1, PR_ITERS + 1):
        steps.append(
            f""",
pr{i} AS (
  SELECT e.dst AS node,
         ROUND((1 - {PR_DAMPING}) / (SELECT n_nodes FROM n)
           + {PR_DAMPING} * SUM(p.rank * e.w), 12) AS rank
  FROM pr{i - 1} p JOIN wedges e ON p.node = e.src
  GROUP BY e.dst
)"""
        )
    return (
        head
        + "".join(steps)
        + f"\nSELECT node, rank FROM pr{PR_ITERS} ORDER BY node"
    )


PAGERANK_SQL = _pagerank_sql()

# ----------------------------------------- market-basket association rules

#: Support floor: items (and pairs) below this basket count are pruned.
MB_MIN_SUPPORT = 12
#: Top rules returned (confidence desc, unique pair tie-break).
MB_TOP_K = 25


def assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_assoc_rules: brand-level association rules over order baskets —
    support / confidence / lift for "orders with brand A also contain
    brand B" (the market-basket workload, Apriori-pruned).

    Scale shape: baskets collapse to DISTINCT (order, brand) first; the
    Apriori step filters *items* below min-support **before** any
    pairing (broadcast semi-join), so the pair self-join only sees
    frequent items — the classic trick that keeps candidate generation
    from going quadratic in the catalog.  The pair join is an equi-join
    on the basket key (shuffle, co-partitioned), pair counts aggregate
    two-phase, and the confidence/lift arithmetic is exact integer
    ratios over one broadcast of the (tiny) frequent-item counts.
    """
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # the distinct basket relation feeds three consumers (corpus size,
    # item counts, the pair join's two sides) — persist it once instead
    # of re-shuffling the join per consumer
    baskets = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        .persist()
    )
    n_baskets = baskets.select("l_orderkey").distinct().count()
    freq = (
        baskets.groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_item"))
        .where(F.col("n_item") >= MB_MIN_SUPPORT)
    )
    fb = baskets.join(
        F.broadcast(freq.select("p_brand")), "p_brand", "left_semi"
    ).persist()
    a = fb.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_a"))
    b = fb.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= MB_MIN_SUPPORT)
    )
    na = freq.select(F.col("p_brand").alias("brand_a"), F.col("n_item").alias("n_a"))
    nb = freq.select(F.col("p_brand").alias("brand_b"), F.col("n_item").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            "n_pair",
            (F.col("n_pair").cast("double") / n_baskets).alias("support"),
            (F.col("n_pair").cast("double") / F.col("n_a")).alias("confidence"),
            (
                F.col("n_pair").cast("double")
                * n_baskets
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("lift"),
        )
        .orderBy(F.desc("confidence"), F.asc("brand_a"), F.asc("brand_b"))
        .limit(MB_TOP_K)
    )


ASSOC_RULES_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM baskets),
freq AS (
  SELECT p_brand, COUNT(*) AS n_item
  FROM baskets GROUP BY p_brand
  HAVING COUNT(*) >= {MB_MIN_SUPPORT}
),
fb AS (
  SELECT b.l_orderkey, b.p_brand
  FROM baskets b JOIN freq f ON b.p_brand = f.p_brand
),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS n_pair
  FROM fb a JOIN fb b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
  HAVING COUNT(*) >= {MB_MIN_SUPPORT}
)
SELECT brand_a, brand_b, n_pair,
       CAST(n_pair AS DOUBLE) / (SELECT n_baskets FROM n)  AS support,
       CAST(n_pair AS DOUBLE) / fa.n_item                  AS confidence,
       CAST(n_pair AS DOUBLE) * (SELECT n_baskets FROM n)
         / (CAST(fa.n_item AS DOUBLE) * fb2.n_item)        AS lift
FROM pairs
JOIN freq fa  ON fa.p_brand = brand_a
JOIN freq fb2 ON fb2.p_brand = brand_b
ORDER BY confidence DESC, brand_a ASC, brand_b ASC
LIMIT {MB_TOP_K}
"""


# ------------------------------------------------------- BFS shortest path

#: BFS source node and hop cap (fixed — both engines run the identical
#: bounded exploration).
BFS_SOURCE = "c:1"
BFS_MAX_HOPS = 6


def graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_graph_bfs: unweighted shortest hop distance from a fixed source
    over the trade graph — synchronous frontier BFS, the Pregel
    traversal primitive (reachability / radius / friend-of-friend).

    Per round: frontier ⋈ ADJACENCY LISTS (shuffled-hash, frontier
    build side — the cached adjacency streams with zero exchange and is
    never broadcast), an anti-join against the last two frontiers drops
    already-settled nodes (undirected ⇒ exact, see :func:`_bfs`), and
    the new frontier is ``localCheckpoint``-ed — the MLlib discipline
    for iterative frames.  Plain ``persist`` is NOT
    enough for the *frontier*: its lineage contains the adjacency table
    itself, and Spark's self-join attribute dedup re-aliases that
    embedded subtree so it no longer canonical-matches the cache entry —
    every later hop then recomputes the whole edge pipeline from the raw
    scans (measured 6.4× superlinear wall; checkpointing makes each hop
    O(frontier) against a settled RDD).  The edges fold into one
    ``collect_list`` adjacency row per node, built and cached ONCE: each
    hop's join then scans |V| adjacency rows instead of |E| edge rows
    and emits |frontier| rows BEFORE the explode (measured 28 % faster
    at sf0.1 than the partition-persisted edge-pair join it replaced —
    that variant's SMJ re-scanned all 1.2 M cached edge rows every hop).
    Hub-skewed graphs (a node with millions of neighbors) never build
    one giant array row: :func:`_adjacency` hash-segments any node's
    neighbor list above {BFS_ADJ_SEGMENT} entries into multiple
    (src, seg) rows, so per-row memory is bounded and a hub's expansion
    parallelizes across however many segment rows it owns — the
    frontier join semantics are unchanged because ``distinct`` already
    unions the exploded segments (property-tested with a synthetic
    50k-degree hub).
    ``dist`` is never re-checkpointed: it is a union of the per-hop
    checkpointed frontiers (each already a settled RDD), saving one
    eager materialization job per round.  The hop-0 seed is a JVM-only
    ``spark.range(1)`` projection (no Python-worker job), and each hop's
    emptiness test reads the row count an ``Observation`` collects on
    the checkpoint job itself, so no separate probe job runs (32 → 26
    jobs per call at sf0.01, identical rows).  Settled distances are exact
    integers; no float surface at all.  The DuckDB twin is a recursive
    CTE with the same hop cap — a genuinely independent formulation
    (set-recursive vs frontier-iterative) of the same semantics."""
    return _bfs(
        spark, _edges(spark, sf_dir), BFS_SOURCE, BFS_MAX_HOPS, undirected=True
    )


#: Per-adjacency-row neighbor cap: a node whose degree exceeds this is
#: hash-segmented into ceil(degree / cap) (src, seg) rows, bounding both
#: the collect_list row size and the per-task explode fan-out under hub
#: skew.  Expected segment fill is the cap (hash splitting), tight whp.
BFS_ADJ_SEGMENT = 10_000


def _adjacency(edges: DataFrame, cap: int = BFS_ADJ_SEGMENT) -> DataFrame:
    """Segmented adjacency lists: (src, nbrs) rows with |nbrs| ≈≤ cap.

    The degree count rides the same src-hash exchange the grouping
    needs; segment ids hash the neighbor so no per-node sort happens."""
    from pyspark.sql import Window

    w = Window.partitionBy("src")
    return (
        edges.withColumn(
            "nsegs",
            F.ceil(F.count(F.lit(1)).over(w) / F.lit(cap)).cast("long"),
        )
        .withColumn("seg", F.pmod(F.xxhash64("dst"), F.col("nsegs")))
        .groupBy("src", "seg")
        .agg(F.collect_list("dst").alias("nbrs"))
        .drop("seg")
    )


def _bfs(
    spark: SparkSession,
    edges: DataFrame,
    source: str,
    max_hops: int,
    adj_cap: int = BFS_ADJ_SEGMENT,
    undirected: bool = False,
) -> DataFrame:
    # ``undirected`` DEFAULTS OFF because the last-two-frontier settle it
    # enables is only exact when dist differs by ≤1 across an edge — an
    # undirected-graph property.  On a directed graph a frontier node can
    # re-reach a node settled ≥2 hops earlier, and skipping the full
    # settled union would emit that node twice at two distances.  Callers
    # must opt in per call site (graph_bfs does: _edges emits both
    # directions of every pair by construction).
    # The adjacency table comes out of _adjacency already hash-partitioned
    # on src (the collect_list rides the window's src exchange), so the
    # per-hop join can stream it straight from the cache with ZERO
    # exchange — but only if the planner picks a shuffled join.  Left to
    # itself it broadcasts the adjacency side (its stats sit under the
    # auto-broadcast threshold at test SF), which re-serializes the WHOLE
    # GRAPH to every executor EVERY HOP — tens of MB per hop here,
    # categorically impossible at 100 TB where the adjacency is the
    # data-sized relation.  The shuffle_hash hint on the frontier builds
    # the per-partition hash table from the (bounded) frontier and probes
    # the cached adjacency in place: per-hop data motion is one exchange
    # of the frontier, nothing else.
    adj = _adjacency(edges, adj_cap).persist()
    # the seed is a JVM-only plan: a one-row createDataFrame runs a
    # Python-worker job just to checkpoint it
    d0 = spark.range(1).select(
        F.lit(source).alias("node"), F.lit(0).alias("dist")
    )
    # each hop's row count rides its eager checkpoint job as an observed
    # metric (names must be unique per call: concurrent BFS calls share
    # the session)
    tag = uuid.uuid4().hex
    settled = [d0]
    frontier = d0
    for hop in range(1, max_hops + 1):
        if undirected:
            # Undirected graphs: dist differs by ≤1 across an edge, so a
            # neighbor of a hop-(k) node is settled at k-1 or k if at
            # all — the anti-join only needs the LAST TWO frontiers,
            # O(frontier) instead of O(all settled).  At scale the
            # settled set grows to |V| while recent frontiers stay
            # bounded; re-shuffling and sorting the full union every hop
            # was the plan's other data-sized per-hop cost.
            seen = (
                settled[-1]
                if len(settled) == 1
                else settled[-2].unionByName(settled[-1])
            )
        else:
            seen = settled[0]
            for s in settled[1:]:
                seen = seen.unionByName(s)
        obs = Observation(f"bfs_{tag}_{hop}")
        nxt = (
            frontier.hint("shuffle_hash")
            .join(adj, frontier.node == adj.src)
            .select(F.explode("nbrs").alias("node"))
            .distinct()
            .join(seen.hint("shuffle_hash"), "node", "left_anti")
            .select("node", F.lit(hop).alias("dist"))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()  # eager: settles the hop, truncates lineage
        )
        if obs.get["n"] == 0:
            break
        settled.append(nxt)
        frontier = nxt
    adj.unpersist()
    out = settled[0]
    for s in settled[1:]:
        out = out.unionByName(s)
    return out.select("node", F.col("dist").cast("long").alias("dist"))


GRAPH_BFS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT DISTINCT 'c:' || o_custkey AS a, 's:' || l_suppkey AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL
  SELECT b AS src, a AS dst FROM pairs
),
walk(node, d) AS (
  SELECT '{BFS_SOURCE}', 0
  UNION
  SELECT e.dst, w.d + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.d < {BFS_MAX_HOPS}
)
SELECT node, CAST(MIN(d) AS BIGINT) AS dist
FROM walk
GROUP BY node
"""


QUERIES = {
    "q_pagerank": pagerank,
    "q_assoc_rules": assoc_rules,
    "q_graph_bfs": graph_bfs,
}

ORACLE = {
    "q_pagerank": PAGERANK_SQL,
    "q_assoc_rules": ASSOC_RULES_SQL,
    "q_graph_bfs": GRAPH_BFS_SQL,
}
