"""Graph analytics over a derived co-purchase graph: distributed PageRank.

The graph: parts are nodes; an edge connects two parts that appear in the
same order (distinct part pairs, both directions). At sf0.01 this is
~2,000 nodes / ~230k directed edges with max degree ~200 — a realistic
medium-degree product graph.

Cross-engine determinism for an ITERATIVE float algorithm is the hard
part: a per-node sum of ``rank/outdeg`` contributions in IEEE doubles is
summation-order-dependent, so Spark and DuckDB would drift within a few
iterations. The implementation therefore runs PageRank entirely in
FIXED-POINT BIGINT arithmetic:

* ranks are integers scaled by 1e12 (``r0 = SCALE DIV N``);
* every division is INTEGER division (Spark ``DIV``, DuckDB ``//`` —
  both truncate, and all values are non-negative so truncation == floor);
* per-node contribution sums are exact BIGINT adds (order-independent).

Three unrolled iterations keep the oracle a plain (non-recursive) SQL
expression; the convergence-loop form of the same update (iterate until
the max rank delta is below epsilon, localCheckpoint per round) is the
``dedup_cluster_canonical`` pattern in operators/dedup.py:211.

100 TB story: each iteration is one shuffle join (edges ⋈ ranks on the
source node) plus one partial-agg'd sum keyed by destination — the
standard Pregel-on-dataframes layout. The edge list is the big table and
is iteration-invariant: a production run materializes it once (bucketed
by source node so every iteration's join is co-located and shuffle-free
— see operators/joins.py:bucketed_join) instead of recomputing it per
round as the one-plan oracle form does here. Degree skew (celebrity
nodes) salts the contribution aggregation exactly like join_salted_skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logflow.operators.cache import track
from logflow.queries import register
from logflow.sources.tables import load_table

_SCALE = 1_000_000_000_000  # 1e12 fixed-point rank scale
_D_NUM, _D_DEN = 85, 100  # damping 0.85 as a ratio
_ITERS = 3
_TOPK = 30

#: One task comfortably holds this many node-id rows (a few MB of BIGINTs).
_ROWS_PER_TASK = 250_000


def _size_parts(n_rows: int) -> int:
    """Partition target derived from an actual (or estimated) row count.

    Iteration-loop frames (frontiers, visited sets, label tables) must
    NEVER hardcode ``coalesce(1)``: at sf0.1 one partition is the right
    stage-floor optimization, but at 100x the visited/label set is
    vertex-scale and a single task becomes the straggler (round-5 verdict,
    scale finding #1). Deriving the target from a cheap count keeps the
    local floor win (n < _ROWS_PER_TASK -> 1) while growing linearly with
    the data; the 4096 ceiling bounds tiny-task scheduling overhead on a
    1000-executor cluster."""
    return max(1, min(4096, int(n_rows) // _ROWS_PER_TASK + 1))


def _copurchase_edges(
    spark: SparkSession,
    sf_dir: str,
    *,
    ordered: bool,
    w_min: int = 1,
    weighted: bool = False,
) -> DataFrame:
    """The shared co-purchase edge build (single source of the edge
    contract for PageRank / triangles / recursive walks): ONE shuffle of
    lineitem (groupBy order; collect_set dedupes parts within the order)
    + a map-side pair explosion + the distinct-edge agg — strictly fewer
    shuffles than a self-join on l_orderkey, which ships the table on
    BOTH join sides. Pair fan-out is bounded by parts-per-order (~4).
    ``ordered`` stores each undirected edge once (u < v, the wedge-join
    form); otherwise both directions (u != v, the PageRank form).
    ``w_min`` keeps edges co-purchased in >= w_min distinct orders.
    Returned COALESCED (a few MB at these SFs — without it every
    downstream iteration stage pays 32-task scheduling overhead) and
    PERSISTED (the iteration-invariant table every consumer re-reads)."""
    return _edges_from_parts(
        _parts_per_order(spark, sf_dir), ordered=ordered, w_min=w_min, weighted=weighted
    )


def _parts_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallelize=False: the collect_set groupBy right below provides the
    # downstream parallelism, so load_table's round-robin repartition is a
    # pure extra exchange here (r13 A/B: no-repartition wins every pair,
    # ~2.1 vs ~1.7 s at sf0.1); on a real multi-file 100 TB table the
    # rebalance is a no-op either way (scan splits >> cores).
    li = load_table(spark, "lineitem", sf_dir, parallelize=False)
    return li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("ps"))


def _edges_from_parts(
    ppo: DataFrame, *, ordered: bool, w_min: int = 1, weighted: bool = False
) -> DataFrame:
    """The edge half of ``_copurchase_edges``, over per-order part sets
    (``l_orderkey``, ``ps``)."""
    cond = (F.col("u") < F.col("v")) if ordered else (F.col("u") != F.col("v"))
    e = (
        ppo.select(F.explode("ps").alias("u"), "ps")
        .select("u", F.explode("ps").alias("v"))
        .filter(cond)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    if w_min > 1:
        e = e.filter(F.col("w") >= w_min)
    cols = ["u", "v", "w"] if weighted else ["u", "v"]
    return track(e.select(*cols).coalesce(4).persist())


def _thread_target(spark: SparkSession, fn):
    """``fn`` wrapped to inherit the caller's JVM thread-locals (job
    group, scheduler pool) when py4j pinned-thread mode is on. With
    pinned threads off, ``inheritable_thread_target(spark)`` returns the
    session itself rather than a decorator, and ``fn`` runs unwrapped."""
    from pyspark import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    return wrap(fn) if callable(wrap) else fn


_EDGE_CTES = """
op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
und AS (SELECT a.p AS u, b.p AS v
        FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p
        GROUP BY a.p, b.p),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS outdeg FROM und GROUP BY u),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg)
"""


def _iter_cte(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT d.u, d.outdeg,
         CAST({_SCALE * _D_DEN - _SCALE * _D_NUM} // ({_D_DEN} * nn.n)
              + ({_D_NUM} * COALESCE(s.s, 0)) // {_D_DEN} AS BIGINT) AS r
  FROM deg d CROSS JOIN nn
  LEFT JOIN (SELECT e.v AS u, SUM(r.r // r.outdeg) AS s
             FROM und e JOIN {prev} r ON e.u = r.u
             GROUP BY e.v) s ON d.u = s.u
)"""


_PAGERANK_SQL = (
    "WITH "
    + _EDGE_CTES.strip()
    + f""",
r0 AS (SELECT u, outdeg, CAST({_SCALE} // nn.n AS BIGINT) AS r
       FROM deg CROSS JOIN nn),"""
    + ",".join(_iter_cte(f"r{i}", f"r{i + 1}") for i in range(_ITERS))
    + f"""
SELECT p_partkey, rank_fp, pagerank, pos FROM (
  SELECT u AS p_partkey, r AS rank_fp,
         ROUND(CAST(r AS DOUBLE) / {_SCALE}, 9) AS pagerank,
         CAST(row_number() OVER (ORDER BY r DESC, u) AS BIGINT) AS pos
  FROM r{_ITERS}
) WHERE pos <= {_TOPK}
"""
)


@register(
    "graph_pagerank_parts",
    _PAGERANK_SQL,
    doc=f"Distributed PageRank ({_ITERS} unrolled iterations, damping 0.85) "
    "over the part co-purchase graph, in fixed-point BIGINT arithmetic "
    "so the iterative update is bit-identical cross-engine (integer "
    "truncating division + exact integer contribution sums — float "
    "PageRank diverges between engines within a few iterations from "
    "summation order alone). Each iteration = one edges⋈ranks shuffle "
    "join + one partial-agg'd sum keyed by destination (the Pregel-on-"
    "dataframes layout); at 100 TB the iteration-invariant edge list is "
    "bucketed by source node once so every round's join is co-located. "
    f"Top-{_TOPK} by exact integer rank, part-key tiebreak.",
)
def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = _copurchase_edges(spark, sf_dir, ordered=False)
    # Iteration lives in operators/graph.py:pagerank_fixed_point (shared
    # with the hypothesis property suite, which drives it with random
    # graphs against a pure-Python integer reference). Rank table is
    # broadcast per iteration — one row per node, small by construction;
    # Catalyst can't infer that itself through the join+agg lineage. At
    # node counts past broadcast size the bucketed-join layout in the
    # module doc replaces the hint.
    from logflow.operators.graph import pagerank_fixed_point

    # edges are already distinct (the groupBy("u","v") above) — skip the
    # operator's safety dedup shuffle
    r = pagerank_fixed_point(und, iters=_ITERS, assume_distinct=True)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("r"), "u")
    top = r.orderBy(F.desc("r"), "u").limit(_TOPK)
    return top.select(
        F.col("u").alias("p_partkey"),
        F.col("r").alias("rank_fp"),
        F.round(F.col("r").cast("double") / _SCALE, 9).alias("pagerank"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


_W_MIN = 2  # edge weight floor: parts co-purchased in >= 2 distinct orders

#: the ordered weight-floored edge CTEs — ONE copy shared by the triangle,
#: BFS-walk and k-core oracles so the edge contract can never desynchronize
#: between them (the Spark side shares _copurchase_edges the same way).
_ORDERED_EDGE_CTES = f"""op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p
      HAVING COUNT(*) >= {_W_MIN})"""

_TRIANGLE_SQL = f"""
WITH {_ORDERED_EDGE_CTES},
tri AS (
  SELECT ab.u AS a, ab.v AS b, bc.v AS c
  FROM e ab
  JOIN e bc ON ab.v = bc.u
  JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
),
nodes AS (
  SELECT a AS p_partkey FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT p_partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM nodes
GROUP BY p_partkey
"""


@register(
    "graph_triangle_count",
    _TRIANGLE_SQL,
    doc="Per-node triangle counting over the strong co-purchase graph "
    f"(edges kept only when two parts share >= {_W_MIN} distinct orders — "
    "the weight floor is what bounds the wedge join; the unfiltered "
    "graph has ~30x more edges). Classic ordered-wedge formulation: "
    "edges stored once with u < v, so each triangle a<b<c is generated "
    "exactly once by joining (a,b)⋈(b,c) and closing with (a,c) — two "
    "self-equi-joins on a persisted edge list, no direction blow-up. "
    "At 100 TB the standard refinement orders endpoints by DEGREE "
    "instead of id (caps wedge counts at O(m^1.5) regardless of skew) "
    "and the weight floor becomes the application-level support "
    "threshold. Exact integer counts — deterministic cross-engine with "
    "no rounding rules at all.",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.graph import triangle_counts_ordered

    # shared edge contract; persisted because the wedge + closure joins
    # read it three times
    e = _copurchase_edges(spark, sf_dir, ordered=True, w_min=_W_MIN)
    return triangle_counts_ordered(e).select(
        F.col("n").alias("p_partkey"), "n_triangles"
    )


@register(
    "graph_triangle_degree_ordered",
    _TRIANGLE_SQL,
    doc="Degree-ordered triangle counting (Latapy 2008 compact-forward) — "
    "the O(m^1.5) refinement graph_triangle_count's docstring names as "
    "the 100 TB form: edges re-oriented low→high under rank=(degree,id), "
    "wedges built only from each triangle's lowest-RANK corner, so a "
    "skewed hub (which ranks above almost all its neighbors) contributes "
    "almost no wedges and total wedge work is O(m^1.5) regardless of "
    "degree skew. Output is provably identical to the id-ordered form "
    "(unique rank-lowest corner per triangle; hypothesis-tested against "
    "both the id-ordered operator and a brute-force reference on random "
    "graphs), so both share one oracle. Exact integer counts — "
    "deterministic cross-engine with no rounding rules at all.",
)
def graph_triangle_degree_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.graph import triangle_counts_degree_ordered

    e = _copurchase_edges(spark, sf_dir, ordered=True, w_min=_W_MIN)
    return triangle_counts_degree_ordered(e).select(
        F.col("n").alias("p_partkey"), "n_triangles"
    )


_BFS_SQL = f"""
WITH RECURSIVE
{_ORDERED_EDGE_CTES},
und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
seeds AS (SELECT u AS node FROM und GROUP BY u ORDER BY u LIMIT 3),
reach AS (
  SELECT node, 0 AS hops FROM seeds
  UNION ALL
  SELECT und.v AS node, reach.hops + 1 AS hops
  FROM reach JOIN und ON und.u = reach.node
  WHERE reach.hops < 3
)
SELECT node AS p_partkey,
       CAST(MIN(hops) AS BIGINT) AS min_hops,
       CAST(COUNT(*) AS BIGINT) AS n_walks
FROM reach
GROUP BY node
"""


@register(
    "graph_walks_recursive_cte",
    _BFS_SQL,
    doc="Recursive CTE surface (Spark 4 WITH RECURSIVE): hop-capped walk "
    "enumeration from the 3 smallest co-purchase nodes — min_hops is the "
    "BFS distance, n_walks the number of distinct <=3-hop walks (an exact "
    "integer graph metric, deterministic with no rounding at all). Spark "
    "executes the recursion natively (UNION ALL loop; UNION-distinct "
    "recursion is not yet supported, so the frontier is NOT deduped "
    "between steps). Scale honesty: walk enumeration is exponential in "
    "the hop cap on dense graphs — the cap and the weight-floored edge "
    "set are what bound it here, and the scalable unbounded-depth "
    "traversal in this repo is the iterative frontier-dedup loop of "
    "operators/dedup.py:connected_components. Spark materializes the "
    "iteration-invariant edge list BEFORE the recursion (Spark re-runs "
    "CTEs referenced from the recursive member on every iteration — "
    "inline edges measured 12.8 s vs 1.9 s at sf0.1); DuckDB plans its "
    "inline CTE once, so the oracle stays self-contained.",
)
def graph_walks_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize the edge list BEFORE the recursion: Spark re-executes
    # every CTE referenced from the recursive member on EACH iteration,
    # so an inline edge build re-runs the lineitem groupBy per hop
    # (measured 12.8 s vs ~1.9 s at sf0.1). The persisted frame is the
    # same "materialize the iteration-invariant table once" rule the
    # PageRank query follows; the oracle recomputes its edges inline
    # (DuckDB plans the CTE once).
    e = _copurchase_edges(spark, sf_dir, ordered=True, w_min=_W_MIN)
    e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).createOrReplaceTempView(
        "bfs_und"
    )
    return spark.sql(
        """
        WITH RECURSIVE
        seeds AS (SELECT u AS node FROM bfs_und GROUP BY u ORDER BY u LIMIT 3),
        reach AS (
          SELECT node, 0 AS hops FROM seeds
          UNION ALL
          SELECT bfs_und.v AS node, reach.hops + 1 AS hops
          FROM reach JOIN bfs_und ON bfs_und.u = reach.node
          WHERE reach.hops < 3
        )
        SELECT node AS p_partkey,
               CAST(MIN(hops) AS BIGINT) AS min_hops,
               CAST(COUNT(*) AS BIGINT) AS n_walks
        FROM reach
        GROUP BY node
        """
    )


_KCORE_K = 2
_KCORE_ROUNDS = 3


@register(
    "graph_kcore_peel",
    f"""
WITH {_ORDERED_EDGE_CTES},
und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
d0 AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS c FROM und GROUP BY u),
s1 AS (SELECT u FROM d0 WHERE c >= {_KCORE_K}),
e1 AS (SELECT und.u, und.v FROM und
       JOIN s1 a ON und.u = a.u JOIN s1 b ON und.v = b.u),
d1 AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS c FROM e1 GROUP BY u),
s2 AS (SELECT u FROM d1 WHERE c >= {_KCORE_K}),
e2 AS (SELECT e1.u, e1.v FROM e1
       JOIN s2 a ON e1.u = a.u JOIN s2 b ON e1.v = b.u),
d2 AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS c FROM e2 GROUP BY u),
s3 AS (SELECT u FROM d2 WHERE c >= {_KCORE_K}),
e3 AS (SELECT e2.u, e2.v FROM e2
       JOIN s3 a ON e2.u = a.u JOIN s3 b ON e2.v = b.u)
SELECT u AS p_partkey, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM e3 GROUP BY u
""",
    doc=f"k-core peeling ({_KCORE_ROUNDS} unrolled rounds at k={_KCORE_K}) "
    "over the weight-floored co-purchase graph: each round drops nodes "
    "whose induced degree fell below k, then recomputes degrees on the "
    "induced subgraph — the standard dense-community extraction that "
    "PageRank/triangles don't give you (a node's neighbors must THEMSELVES "
    "be well-connected). Each round is two node-keyed semi-joins + one "
    "partial-agg'd count on a monotonically SHRINKING edge set; exact "
    "integers, no tiebreaks needed. Fixed unrolling keeps the whole peel "
    "one Catalyst plan with a plain nested-CTE oracle; the run-to-"
    "convergence form at 100 TB is the dedup_cluster_canonical loop "
    "(localCheckpoint per round, stop when no node drops).",
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir, ordered=True, w_min=_W_MIN)
    und = e.select("u", "v").unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    cur = und
    for step in range(_KCORE_ROUNDS):
        s = (
            cur.groupBy("u")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= _KCORE_K)
            .select("u")
        )
        cur = cur.join(s, "u", "left_semi").join(
            s.select(F.col("u").alias("v")), "v", "left_semi"
        )
        if step < _KCORE_ROUNDS - 1:
            # each round consumes `cur` twice (degree agg + the filter
            # join), so the un-truncated lineage doubles per round — the
            # CLAUDE.md iterative rule: lazy localCheckpoint, edge-sized,
            # materialized by the next round's first action.
            cur = cur.localCheckpoint(eager=False)
    return cur.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("core_deg")).select(
        F.col("u").alias("p_partkey"), "core_deg"
    )


@register(
    "graph_link_prediction",
    f"""
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p
      HAVING COUNT(*) >= {_W_MIN}),
adj AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u),
cand AS (
  SELECT a.u AS x, b.v AS y, CAST(COUNT(*) AS BIGINT) AS cn
  FROM adj a JOIN adj b ON a.v = b.u AND a.u < b.v
  GROUP BY a.u, b.v),
nonedge AS (
  SELECT c.x, c.y, c.cn FROM cand c
  LEFT JOIN e ON e.u = c.x AND e.v = c.y
  WHERE e.u IS NULL)
SELECT x AS part_a, y AS part_b, cn AS common_neighbors,
       da.d AS deg_a, db.d AS deg_b,
       ROUND(CAST(cn AS DOUBLE) / CAST(da.d + db.d - cn AS DOUBLE), 6) AS jaccard
FROM nonedge JOIN deg da ON da.u = x JOIN deg db ON db.u = y
ORDER BY jaccard DESC, part_a, part_b
LIMIT 100
""",
    doc="Link prediction over the weight-floored co-purchase graph: "
    "candidate part pairs at distance 2 (wedge join on the shared "
    "neighbor), scored by common-neighbor count and neighborhood "
    "Jaccard cn/(deg_a+deg_b-cn), existing edges anti-joined away — "
    "the 'customers who bought X also bought Y' recommender primitive. "
    "Exact BIGINT counts; the one division is an identical IEEE op. At "
    "100 TB: wedge fan-out is bounded by the same per-middle-vertex "
    "degree the triangle operators manage (degree-cap or rank-orient "
    "hubs before the wedge join); candidates, not all pairs, flow into "
    "the anti-join, and the degree table is vertex-sized (broadcast).",
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir, ordered=True, w_min=_W_MIN)
    adj = track(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).persist()
    )
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    cand = (
        adj.select(F.col("u").alias("x"), F.col("v").alias("mid"))
        .join(adj.select(F.col("u").alias("mid"), F.col("v").alias("y")), "mid")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    nonedge = cand.join(
        e.select(F.col("u").alias("x"), F.col("v").alias("y")), ["x", "y"], "left_anti"
    )
    scored = (
        nonedge.join(F.broadcast(deg.select(F.col("u").alias("x"), F.col("d").alias("deg_a"))), "x")
        .join(F.broadcast(deg.select(F.col("u").alias("y"), F.col("d").alias("deg_b"))), "y")
        .select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            F.col("cn").cast("long").alias("common_neighbors"),
            F.col("deg_a").cast("long").alias("deg_a"),
            F.col("deg_b").cast("long").alias("deg_b"),
            F.round(
                F.col("cn").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(F.desc("jaccard"), "part_a", "part_b").limit(100)


@register(
    "graph_cc_two_phase",
    """
WITH RECURSIVE op AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS w
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p),
s AS (SELECT u, v FROM e WHERE w >= 2 AND u % 2 = 0 AND v % 2 = 0),
bid AS (SELECT u, v FROM s UNION ALL SELECT v, u FROM s),
nodes AS (SELECT DISTINCT u AS id FROM bid),
lab AS (
  SELECT id, id AS comp FROM nodes
  UNION
  SELECT bid.v AS id, lab.comp FROM lab JOIN bid ON bid.u = lab.id
)
SELECT CAST(id AS BIGINT) AS p_partkey, CAST(MIN(comp) AS BIGINT) AS comp
FROM lab GROUP BY id
ORDER BY p_partkey
""",
    doc="Connected components of the (sampled, weight>=2) co-purchase "
    "graph via the alternating large-star/small-star rewrite "
    "(operators/graph.py:two_phase_connected_components — Kiveris et "
    "al. 2014): O(log²n) rounds regardless of component DIAMETER, the "
    "published 100 TB-scale CC algorithm, complementing the min-label "
    "propagation of dedup_cluster_canonical (O(diameter) rounds — "
    "fine for shallow near-dup clusters, hopeless for path-shaped "
    "graphs). Each round is two groupBy+join passes over an edge set "
    "that only SHRINKS toward the star forest; every label is an "
    "integer min (order-independent — no float drift possible), so "
    "the converged output equals the oracle's recursive-CTE "
    "transitive-min EXACTLY, independent of round count. The mod-2 "
    "node sample bounds the oracle's reachability closure (CLAUDE.md "
    "output-explosion rule); the Spark side scales to the full graph "
    "unchanged. Convergence is an exact edge-set fixpoint check, "
    "never a checksum.",
)
def graph_cc_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.graph import two_phase_connected_components

    edges = _copurchase_edges(spark, sf_dir, ordered=True, w_min=2).filter(
        (F.col("u") % 2 == 0) & (F.col("v") % 2 == 0)
    )
    return (
        two_phase_connected_components(edges)
        .select(
            F.col("node").cast("long").alias("p_partkey"),
            F.col("comp").cast("long").alias("comp"),
        )
        .orderBy("p_partkey")
    )


_LPA_ITERS = 3


def _lpa_iter_sql(prev: str, cur: str) -> str:
    """One synchronous LPA step: each node adopts its neighbors' most
    frequent label (count DESC, then smallest label); isolated-in-theory
    nodes keep their label via the left join."""
    return f"""
c_{cur} AS (
  SELECT e.u AS id, l.lab, CAST(COUNT(*) AS BIGINT) AS c
  FROM bid e JOIN {prev} l ON l.id = e.v GROUP BY e.u, l.lab),
p_{cur} AS (
  SELECT id, lab FROM (
    SELECT id, lab,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
    FROM c_{cur}) WHERE rn = 1),
{cur} AS (
  SELECT n.id, COALESCE(p.lab, n.id) AS lab
  FROM nodes n LEFT JOIN p_{cur} p ON p.id = n.id)"""


_LPA_SQL = (
    """WITH op AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS w
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p),
s AS (SELECT u, v FROM e WHERE w >= 2),
bid AS (SELECT u, v FROM s UNION ALL SELECT v, u FROM s),
nodes AS (SELECT DISTINCT u AS id FROM bid),
l0 AS (SELECT id, id AS lab FROM nodes),"""
    + ",".join(_lpa_iter_sql(f"l{i}", f"l{i + 1}") for i in range(_LPA_ITERS))
    + f"""
SELECT CAST(lab AS BIGINT) AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(id) AS BIGINT) AS min_member,
       CAST(MAX(id) AS BIGINT) AS max_member
FROM l{_LPA_ITERS}
GROUP BY lab
HAVING COUNT(*) >= 2
ORDER BY n_members DESC, community
LIMIT 50
"""
)


@register(
    "graph_label_prop_communities",
    _LPA_SQL,
    doc="Community detection by synchronous label propagation (Raghavan "
    "et al. 2007), 3 unrolled rounds over the weight>=2 co-purchase "
    "graph: every node adopts its neighbors' PLURALITY label with a "
    "fully deterministic (count DESC, smallest-label) tiebreak — the "
    "rule that makes sync-LPA reproducible cross-engine where the "
    "textbook random tiebreak is not; labels are integer node ids, so "
    "no float exists anywhere. Unlike connected components "
    "(graph_cc_two_phase — one label per connected region), LPA splits "
    "dense regions into communities denser inside than out. Fixed "
    "iteration count keeps the oracle non-recursive (the PageRank "
    "unroll pattern) and bounds cost predictably at scale. Plan per "
    "round: one shuffle join of the (persisted, iteration-invariant) "
    "bidirectional edge list against the current vocabulary-sized "
    "label frame + one plurality window — Pregel-on-DataFrames. "
    "Reports communities with >=2 members (singletons are noise at "
    "every SF). The node frame's partition count is SIZE-DERIVED from "
    "its materializing count (_size_parts: max(1, n // 250k)) — one "
    "partition at sf0.1, vertex-scale at 100x, never a hardcoded 1.",
)
def graph_label_prop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir, ordered=True, w_min=2)
    bid = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # nodes feeds every iteration's keep-own-label left join AND the
    # final rollup (4 plan branches): eager-persist the one distinct
    # shuffle or each branch re-runs it (CLAUDE.md multi-consumer rule)
    # Partition target is size-derived (_size_parts), not hardcoded: the
    # count() both materializes the cache and supplies the derivation.
    base = track(bid.select(F.col("u").alias("id")).distinct().persist())
    nodes = base.coalesce(_size_parts(base.count()))
    labels = nodes.select("id", F.col("id").alias("lab"))
    for _ in range(_LPA_ITERS):
        cand = (
            bid.join(labels.select(F.col("id").alias("v"), "lab"), "v")
            .groupBy(F.col("u").alias("id"), "lab")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        # plurality pick as a max_by hash aggregate (partial-agg'd,
        # no sort) instead of a row_number window: struct(c, -lab)
        # lexicographic max == (count DESC, smallest label) — identical
        # ranking to the oracle's window, one fewer sort per round
        pick = cand.groupBy("id").agg(
            F.expr("max_by(lab, struct(c, -lab))").alias("new_lab")
        )
        labels = nodes.join(pick, "id", "left").select(
            "id", F.coalesce("new_lab", F.col("id")).alias("lab")
        )
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("id").cast("long").alias("min_member"),
            F.max("id").cast("long").alias("max_member"),
        )
        .filter(F.col("n_members") >= 2)
        .orderBy(F.desc("n_members"), "community")
        .limit(50)
    )


# --------------------------------------------------------------------------
# BFS frontier levels — the missing traversal primitive next to PageRank
# (global propagation), CC/LPA (label convergence) and walks (path
# enumeration): exact hop-distance layers from a seed set.
# --------------------------------------------------------------------------

_BFS_HOPS = 3
_BFS_SEEDS = 5
#: Bytes per row of BFS's visited set (one bigint key) once built into the
#: broadcast hashed relation. Measured as the BroadcastExchange "data size"
#: metric of a left anti join on pyspark 4.1: 4.8 MiB at 100k and 39.6 MiB
#: at 1M dense keys, 8.0 MiB at 100k and 64.0 MiB at 1M sparse keys (ids
#: 7919 apart); this is the largest, 100k sparse. Not measured above 1M rows.
_BFS_VISITED_ROW_BYTES = 84


def _bfs_visited_broadcastable(spark: SparkSession, n_visited: int) -> bool:
    """Whether a visited set of ``n_visited`` rows fits the session's own
    broadcast policy: its estimated hashed-relation size is at most
    spark.sql.autoBroadcastJoinThreshold (never, when that is negative)."""
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return 0 <= n_visited * _BFS_VISITED_ROW_BYTES <= threshold


def _bfs_level_ctes() -> str:
    """Unrolled frontier/visited CTE chain (l0..l3, v0..v2) on ``und``."""
    parts = [
        f"seeds AS (SELECT u FROM deg ORDER BY u LIMIT {_BFS_SEEDS})",
        "l0 AS (SELECT u FROM seeds)",
        "v0 AS (SELECT u FROM l0)",
    ]
    for h in range(1, _BFS_HOPS + 1):
        parts.append(
            f"l{h} AS (SELECT DISTINCT e.v AS u FROM und e "
            f"JOIN l{h - 1} f ON e.u = f.u "
            f"WHERE e.v NOT IN (SELECT u FROM v{h - 1}))"
        )
        if h < _BFS_HOPS:
            parts.append(
                f"v{h} AS (SELECT u FROM v{h - 1} UNION SELECT u FROM l{h})"
            )
    return ",\n".join(parts)


_BFS_LEVELS_SQL = (
    "WITH "
    + _EDGE_CTES.strip()
    + ",\n"
    + _bfs_level_ctes()
    + "\nSELECT hop, n_nodes, checksum FROM (\n"
    + "\n  UNION ALL ".join(
        f"SELECT CAST({h} AS BIGINT) AS hop, CAST(COUNT(*) AS BIGINT) AS n_nodes,"
        f" CAST(SUM(u) AS BIGINT) AS checksum FROM l{h}"
        for h in range(_BFS_HOPS + 1)
    )
    + "\n) WHERE n_nodes > 0 ORDER BY hop"
)


@register(
    "graph_bfs_levels",
    _BFS_LEVELS_SQL,
    doc=f"Single-source-set BFS: exact hop-distance layers (0..{_BFS_HOPS}) "
    f"from the {_BFS_SEEDS} smallest part keys over the symmetric "
    "co-purchase graph — the iterative FRONTIER-expansion primitive "
    "(Pregel superstep with a visited set) that PageRank/LPA's "
    "fixed-fanout updates don't exercise. Each hop is one edges⋈frontier "
    "equi-join + distinct + an anti join against the visited set; "
    "frontiers are localCheckpointed per round (lineage would otherwise "
    "double per hop) and the iteration-invariant edge list is built once "
    "(operators/cache.py-tracked persist). Levels report exact node "
    "counts and a BIGINT id-checksum — order-independent integer sums, "
    "so the unrolled-CTE oracle is hash-identical. At 100 TB the "
    "frontier join is the standard BSP layout: edges bucketed by source "
    "node make every superstep's join co-located, and the anti join is "
    "a broadcast while the visited set stays small relative to edges. "
    "Loop-frame partition counts are SIZE-DERIVED (_size_parts: "
    "max(1, n // 250k rows-per-task), n from the per-hop frontier count "
    "that also drives early exit) — one partition at sf0.1's stage "
    "floor, vertex-scale task counts at 100x, never a hardcoded 1.",
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir, ordered=False)
    seeds = (
        # coalesce(1) here is constant-bounded (<= _BFS_SEEDS rows by the
        # LIMIT), not data-dependent — a literal 1 is the honest target
        edges.select("u").distinct().orderBy("u").limit(_BFS_SEEDS).coalesce(1)
    )
    frontier = track(seeds.persist())
    visited = frontier
    n_frontier = n_visited = _BFS_SEEDS
    levels: list[tuple[int, DataFrame]] = [(0, frontier)]
    for hop in range(1, _BFS_HOPS + 1):
        # broadcast the frontier/visited sets so the persisted edge table
        # streams map-side instead of shuffling per hop (r13 A/B: wins
        # every interleaved pair, ~3.9 -> ~3.3 s at sf0.1; the
        # betweenness lesson). The visited set only grows, so it keeps its
        # hint only while its exact running count fits the broadcast
        # threshold; above it Spark picks the anti join's strategy itself.
        seen = F.broadcast(visited) if _bfs_visited_broadcastable(spark, n_visited) else visited
        nxt = (
            edges.join(F.broadcast(frontier), "u")
            .select(F.col("v").alias("u"))
            .distinct()
            .join(seen, "u", "left_anti")
            # size-derived (never a hardcoded 1): the next frontier is at
            # most the edges incident to the current one; estimate with a
            # fan-out factor of 8 over the (exactly counted) current size
            # — _ROWS_PER_TASK's margin absorbs estimate error, and the
            # exact count below re-anchors the estimate every hop
            .coalesce(_size_parts(n_frontier * 8))
        )
        # materialize the frontier before it feeds BOTH the next round's
        # expansion and the level stats (two consumers, one computation);
        # localCheckpoint cuts the per-hop doubling of the anti-join lineage
        nxt = nxt.localCheckpoint(eager=True)
        n_frontier = nxt.count()  # cheap: counts the checkpointed partitions
        levels.append((hop, nxt))
        if n_frontier == 0:
            break  # exhausted component: remaining levels are empty anyway
        n_visited += n_frontier
        visited = track(
            visited.union(nxt).coalesce(_size_parts(n_visited)).persist()
        )
        frontier = nxt
    stats = [
        lvl.agg(
            F.lit(hop).cast("long").alias("hop"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("u").cast("long").alias("checksum"),
        )
        for hop, lvl in levels
    ]
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out.filter(F.col("n_nodes") > 0).orderBy("hop")


# --------------------------------------------------------------------------
# Weighted single-source shortest paths (Bellman-Ford relaxation) — the
# last classic Pregel shape next to PageRank (global propagation), CC/LPA
# (label convergence), BFS (unweighted frontiers) and walks (paths).
# --------------------------------------------------------------------------

_SSSP_ROUNDS = 4
_SSSP_SCALE = 1_000_000  # fixed-point edge-cost scale (cost = SCALE DIV w)
_SSSP_TOPK = 50


def _sssp_iter_sql(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM {prev}
    UNION ALL
    SELECT e.v AS node, d.dist + e.cost AS dist
    FROM we e JOIN {prev} d ON e.u = d.node
  ) GROUP BY node
)"""


_SSSP_SQL = (
    f"""
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
we AS (SELECT a.p AS u, b.p AS v,
              CAST({_SSSP_SCALE} // COUNT(*) AS BIGINT) AS cost
       FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p
       GROUP BY a.p, b.p),
seed AS (SELECT CAST(MIN(u) AS BIGINT) AS node FROM we),
d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM seed),"""
    + ",".join(_sssp_iter_sql(f"d{i}", f"d{i + 1}") for i in range(_SSSP_ROUNDS))
    + f"""
SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist_fp,
       CAST(ROUND(dist / {_SSSP_SCALE}.0, 6) AS DOUBLE) AS path_cost
FROM d{_SSSP_ROUNDS}
ORDER BY dist, node
LIMIT {_SSSP_TOPK}
"""
)


@register(
    "graph_sssp_weighted",
    _SSSP_SQL,
    doc=f"Weighted single-source shortest paths by {_SSSP_ROUNDS} unrolled "
    "Bellman-Ford relaxation rounds over the co-purchase graph "
    "(reference tie-in: the dependency-graph analytics plane, "
    "README.adoc:140-145, generalized to weighted edges). Edge cost is "
    "the fixed-point INTEGER association distance SCALE DIV w (strong "
    "co-purchase = short edge; Spark DIV == DuckDB //, both truncate), "
    "so every relaxation is an exact BIGINT add + MIN — fully "
    "deterministic cross-engine where float path sums would drift by "
    "summation order (the PageRank fixed-point rule, queries/graph.py "
    "module doc). Per round: one broadcast join of the node-scale "
    "distance frame against the (persisted, iteration-invariant) edge "
    "list + one min-agg; the distance frame is eager-localCheckpointed "
    "per round (fixed-iteration loop, single terminal action — "
    "CLAUDE.md) with SIZE-DERIVED partitioning (_size_parts on the "
    "materializing count, never a hardcoded 1). At 100 TB the edge list "
    "is bucketed by source node (co-located relaxation joins) and the "
    "distance table outgrows broadcast into the same bucketed shuffle — "
    "the standard Pregel SSSP layout. Returns the 50 nearest nodes with "
    "exact fixed-point distances and the rounded double cost.",
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _copurchase_edges(spark, sf_dir, ordered=False, weighted=True)
    we = raw.select(
        "u", "v", F.expr(f"CAST({_SSSP_SCALE} DIV w AS BIGINT)").alias("cost")
    )
    seed = we.agg(F.min("u").cast("long").alias("node"))
    dist = seed.select("node", F.lit(0).cast("long").alias("dist"))
    n_nodes = 1
    for _ in range(_SSSP_ROUNDS):
        relaxed = we.join(
            F.broadcast(
                dist.select(F.col("node").alias("u"), F.col("dist").alias("du"))
            ),
            "u",
        ).select(F.col("v").alias("node"), (F.col("du") + F.col("cost")).alias("dist"))
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .coalesce(_size_parts(n_nodes * 8))
            .localCheckpoint(eager=True)
        )
        n_nodes = dist.count()  # cheap (checkpointed); re-anchors the estimate
    return (
        dist.select(
            F.col("node").cast("long").alias("node"),
            F.col("dist").cast("long").alias("dist_fp"),
            F.round(F.col("dist") / F.lit(float(_SSSP_SCALE)), 6)
            .cast("double")
            .alias("path_cost"),
        )
        .orderBy("dist_fp", "node")
        .limit(_SSSP_TOPK)
    )


@register(
    "temporal_reachability_hops",
    """
WITH e AS (
  SELECT user_id AS u, ts, event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events),
contacts AS (
  SELECT a.u AS su, a.ts AS st, b.u AS du, b.ts AS dt
  FROM e a JOIN e b
    ON a.k = b.k AND b.ts > a.ts
   AND b.ts <= a.ts + INTERVAL 1 HOUR AND a.u <> b.u),
s0 AS (SELECT u, MIN(ts) AS arr FROM e WHERE event_type = 'error' GROUP BY u),
h1 AS (SELECT du AS u, MIN(dt) AS arr FROM s0
       JOIN contacts ON contacts.su = s0.u AND contacts.st >= s0.arr
       GROUP BY du),
s1 AS (SELECT u, MIN(arr) AS arr
       FROM (SELECT * FROM s0 UNION ALL SELECT * FROM h1) GROUP BY u),
h2 AS (SELECT du AS u, MIN(dt) AS arr FROM s1
       JOIN contacts ON contacts.su = s1.u AND contacts.st >= s1.arr
       GROUP BY du),
s2 AS (SELECT u, MIN(arr) AS arr
       FROM (SELECT * FROM s1 UNION ALL SELECT * FROM h2) GROUP BY u),
h3 AS (SELECT du AS u, MIN(dt) AS arr FROM s2
       JOIN contacts ON contacts.su = s2.u AND contacts.st >= s2.arr
       GROUP BY du),
s3 AS (SELECT u, MIN(arr) AS arr
       FROM (SELECT * FROM s2 UNION ALL SELECT * FROM h3) GROUP BY u)
SELECT hop, n_users FROM (
  SELECT CAST(0 AS BIGINT) AS hop, CAST(COUNT(*) AS BIGINT) AS n_users FROM s0
  UNION ALL
  SELECT 1, CAST(COUNT(*) AS BIGINT) FROM s1
  UNION ALL
  SELECT 2, CAST(COUNT(*) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, CAST(COUNT(*) AS BIGINT) FROM s3)
ORDER BY hop
""",
    doc="TIME-RESPECTING reachability over a temporal contact graph — the "
    "temporal twin of graph_walks_recursive_cte: how far does an "
    "incident propagate when every hop must happen AFTER the previous "
    "one arrived? Contacts: u→v if u touched page k (events.props) and "
    "v touched the SAME page within the following hour. Seeds: each "
    "user's first 'error' event. Three unrolled earliest-arrival "
    "Bellman-Ford rounds (state = min arrival per user; the earliest "
    "arrival dominates — any hop feasible from a later arrival is "
    "feasible from an earlier one), reporting cumulative users reached "
    "per hop. All joins are equi (page key / user key) with a 1-hour "
    "band predicate; arrival timestamps are exact data values and MIN "
    "is order-independent, so the oracle unrolls the same rounds as "
    "plain CTEs. At 100 TB: the contact join is the bounded-window "
    "interval join (the streaming twin holds watermarked state), built "
    "ONCE and persisted across rounds; frontier state is one row per "
    "reached user; each round is one user-keyed shuffle — the Pregel "
    "layout of graph_pagerank_parts with time as the frontier filter.",
)
def temporal_reachability_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    e = ev.select(
        F.col("user_id").alias("u"),
        "ts",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    # The contact join keyed on the page key ALONE explodes: k is a
    # ~100-value domain here, so join(k) builds |per-key|² candidate pairs
    # (~100M at sf0.1) only to filter them down to the 1-hour band
    # (~139k survivors — measured 4.1 s for the build alone).  Standard
    # interval-join bucketing fixes the key: dt ∈ (st, st+1h] pins
    # floor(dt/1h) to floor(st/1h) or floor(st/1h)+1, so joining on
    # (k, hour_bucket) with the source side exploded into its two
    # reachable buckets is LOSSLESS (each dt lands in exactly one bucket —
    # no dedup needed) while the join key domain grows to k × hours,
    # killing both the quadratic blowup and the 100-key shuffle skew.
    hour_us = 3600 * 1000 * 1000
    st_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', st)"
    )
    dt_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', dt)"
    )
    a = e.select(F.col("u").alias("su"), F.col("ts").alias("st"), "k").withColumn(
        "bkt", F.explode(F.array(st_us - st_us % hour_us, st_us - st_us % hour_us + hour_us))
    )
    b = e.select(
        F.col("u").alias("du"), F.col("ts").alias("dt"), F.col("k").alias("k2")
    ).withColumn("bkt2", dt_us - dt_us % hour_us)
    contacts = (
        a.join(b, (F.col("k") == F.col("k2")) & (F.col("bkt") == F.col("bkt2")))
        .filter(
            (F.col("dt") > F.col("st"))
            & (F.col("dt") <= F.col("st") + F.expr("INTERVAL 1 HOUR"))
            & (F.col("su") != F.col("du"))
        )
        .select("su", "st", "du", "dt")
    )
    # iteration-invariant edge table feeding 3 frontier joins — coalesced
    # (contact-scale, a few MB at these SFs) so each round's scan doesn't
    # pay the 32-task floor
    contacts = track(contacts.coalesce(4).persist())
    contacts.count()
    s = (
        e.filter(F.col("event_type") == "error")
        .groupBy("u")
        .agg(F.min("ts").alias("arr"))
    )
    # each round's state is user-scale (bounded) and feeds the next
    # round's join, the min-merge union, AND its count branch — eager
    # localCheckpoint per the r10 bounded-frame rule (lazy persist left
    # the static plan at 104 Exchange nodes; checkpoint truncates it)
    s = s.coalesce(1).localCheckpoint(eager=True)
    states = [s]
    for _ in range(3):
        # frontier state is user-scale: broadcast it into the persisted
        # contact table so no round ever shuffles the contacts
        h = (
            contacts.join(
                F.broadcast(s),
                (s["u"] == contacts["su"]) & (contacts["st"] >= s["arr"]),
            )
            .groupBy("du")
            .agg(F.min("dt").alias("arr"))
            .select(F.col("du").alias("u"), "arr")
        )
        s = s.unionByName(h).groupBy("u").agg(F.min("arr").alias("arr"))
        s = s.coalesce(1).localCheckpoint(eager=True)
        states.append(s)
    counts = None
    for hop, st in enumerate(states):
        c = st.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit(hop).cast("long").alias("hop"), "n_users"
        )
        counts = c if counts is None else counts.unionByName(c)
    return counts.orderBy("hop")


def _ppr_iter_cte(prev: str, cur: str) -> str:
    base = _SCALE * _D_DEN - _SCALE * _D_NUM
    return f"""
{cur} AS (
  SELECT d.u, d.outdeg,
         CAST(CASE WHEN sd.u IS NOT NULL
                   THEN {base} // ({_D_DEN} * sn.ns) ELSE 0 END
              + ({_D_NUM} * COALESCE(s.s, 0)) // {_D_DEN} AS BIGINT) AS r
  FROM deg d CROSS JOIN sn
  LEFT JOIN seeds sd ON sd.u = d.u
  LEFT JOIN (SELECT e.v AS u, SUM(r.r // r.outdeg) AS s
             FROM und e JOIN {prev} r ON e.u = r.u
             GROUP BY e.v) s ON d.u = s.u
)"""


_PPR_SQL = (
    "WITH "
    + _EDGE_CTES.strip()
    + f""",
seed_o AS (SELECT MIN(o) AS o FROM
           (SELECT o FROM op GROUP BY o HAVING COUNT(*) >= 2)),
seeds AS (SELECT DISTINCT p AS u FROM op JOIN seed_o USING (o)),
sn AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM seeds),
r0 AS (SELECT d.u, d.outdeg,
              CAST(CASE WHEN sd.u IS NOT NULL THEN {_SCALE} // sn.ns
                        ELSE 0 END AS BIGINT) AS r
       FROM deg d CROSS JOIN sn
       LEFT JOIN seeds sd ON sd.u = d.u),"""
    + ",".join(_ppr_iter_cte(f"r{i}", f"r{i + 1}") for i in range(_ITERS))
    + f"""
SELECT p_partkey, rank_fp, ppr, pos FROM (
  SELECT r.u AS p_partkey, r.r AS rank_fp,
         ROUND(CAST(r.r AS DOUBLE) / {_SCALE}, 9) AS ppr,
         CAST(row_number() OVER (ORDER BY r.r DESC, r.u) AS BIGINT) AS pos
  FROM r{_ITERS} r
  LEFT JOIN seeds sd ON sd.u = r.u
  WHERE sd.u IS NULL
) WHERE pos <= {_TOPK}
"""
)


@register(
    "graph_ppr_seed",
    _PPR_SQL,
    doc=f"PERSONALIZED PageRank ({_ITERS} unrolled iterations, damping "
    "0.85) — the 'customers who bought this basket also end up at...' "
    "recommender primitive: the (1-d) restart mass teleports to the "
    "SEED basket (the parts of the earliest multi-part order — an "
    "in-data, seed-robust choice) instead of all nodes, so rank mass "
    "measures proximity to the basket rather than global centrality. "
    "Seeds themselves are excluded from the ranked output "
    f"(recommendation, not retrieval); top-{_TOPK} by exact fixed-point "
    "rank with part-key tiebreak. Same BIGINT arithmetic and "
    "Pregel-on-dataframes layout as graph_pagerank_parts "
    "(operators/graph.py:pagerank_fixed_point, seeds=...): exact "
    "integer teleport/contribution sums, truncating division, "
    "bit-identical cross-engine. At 100 TB the seed marker is a "
    "broadcast and everything else is the shared PageRank machinery.",
)
def graph_ppr_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.graph import pagerank_fixed_point

    # the per-order part sets are persisted so the seed-order pick reuses
    # the edge build's own shuffle instead of a second lineitem pass (r13,
    # ~0.9 s at sf0.1; the old op-distinct formulation referenced the
    # 600k-row distinct twice and an r12 fix folded it to one extra
    # groupBy — this removes even that). collect_set dedups parts within
    # the order, so size(ps) is the distinct-part count the HAVING >= 2
    # filter needs; min_by picks the earliest such order.
    ppo = track(_parts_per_order(spark, sf_dir).persist())
    und = _edges_from_parts(ppo, ordered=False)
    ops = (
        ppo.filter(F.size("ps") >= 2)
        .agg(F.min_by("ps", "l_orderkey").alias("ps"))
        .select(F.explode("ps").alias("u"))
    )
    # a handful of rows (parts of one order) — checkpoint truncates the
    # lineitem lineage out of every downstream reference
    seeds = ops.coalesce(1).localCheckpoint(eager=True)
    r = pagerank_fixed_point(und, iters=_ITERS, assume_distinct=True, seeds=seeds)
    nonseed = r.join(seeds, "u", "left_anti")
    w = Window.orderBy(F.desc("r"), "u")
    top = nonseed.orderBy(F.desc("r"), "u").limit(_TOPK)
    return top.select(
        F.col("u").alias("p_partkey"),
        F.col("r").alias("rank_fp"),
        F.round(F.col("r").cast("double") / _SCALE, 9).alias("ppr"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


# --------------------------------------------------------------------------
# Directed strongly-connected component (forward-backward / FW-BW) — the
# classic distributed SCC primitive (Fleischer-Hendrickson-Pinar 2000):
# the SCC containing a pivot is exactly FW(pivot) ∩ BW(pivot). The digraph
# is the TEMPORAL co-purchase graph: u → v if, in >= 2 distinct orders,
# part u's (earliest) line shipped strictly before part v's.
# --------------------------------------------------------------------------

_SCC_HOPS = 8


def _scc_edges_sql() -> str:
    return """
op2 AS (SELECT l_orderkey AS o, l_partkey AS p, MIN(l_shipdate) AS d
        FROM lineitem GROUP BY l_orderkey, l_partkey),
de AS MATERIALIZED (SELECT a.p AS u, b.p AS v
       FROM op2 a JOIN op2 b ON a.o = b.o AND a.d < b.d AND a.p <> b.p
       GROUP BY a.p, b.p HAVING COUNT(*) >= 2),
piv AS (SELECT MIN(u) AS pu FROM de)
"""


def _scc_reach_ctes(pfx: str, fwd: bool) -> str:
    """Unrolled cumulative reachable-set CTEs pfx0..pfx{_SCC_HOPS}."""
    src, dst = ("u", "v") if fwd else ("v", "u")
    parts = [f"{pfx}0 AS (SELECT pu AS u FROM piv WHERE pu IS NOT NULL)"]
    for h in range(1, _SCC_HOPS + 1):
        # MATERIALIZED is load-bearing: each hop references the previous
        # CTE twice, so an inlining engine would otherwise expand the
        # chain 2^hops times (measured: 8 unrolled hops never finished
        # inlined, sub-second materialized).
        parts.append(
            f"{pfx}{h} AS MATERIALIZED (SELECT u FROM {pfx}{h - 1} "
            f"UNION "
            f"SELECT e.{dst} AS u FROM de e JOIN {pfx}{h - 1} r ON e.{src} = r.u)"
        )
    return ",\n".join(parts)


_SCC_SQL = (
    "WITH "
    + _scc_edges_sql().strip()
    + ",\n"
    + _scc_reach_ctes("f", fwd=True)
    + ",\n"
    + _scc_reach_ctes("b", fwd=False)
    + f""",
scc AS (SELECT u FROM f{_SCC_HOPS} INTERSECT SELECT u FROM b{_SCC_HOPS}),
conv AS (SELECT CASE WHEN (SELECT COUNT(*) FROM f{_SCC_HOPS})
                        = (SELECT COUNT(*) FROM f{_SCC_HOPS - 1})
                      AND (SELECT COUNT(*) FROM b{_SCC_HOPS})
                        = (SELECT COUNT(*) FROM b{_SCC_HOPS - 1})
                     THEN 1 ELSE 0 END AS c)
SELECT metric, n_nodes, checksum, converged FROM (
  SELECT 'forward' AS metric, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(u) AS BIGINT) AS checksum,
         (SELECT CAST(c AS BIGINT) FROM conv) AS converged
  FROM f{_SCC_HOPS}
  UNION ALL
  SELECT 'backward', CAST(COUNT(*) AS BIGINT), CAST(SUM(u) AS BIGINT),
         (SELECT CAST(c AS BIGINT) FROM conv)
  FROM b{_SCC_HOPS}
  UNION ALL
  SELECT 'scc', CAST(COUNT(*) AS BIGINT), CAST(SUM(u) AS BIGINT),
         (SELECT CAST(c AS BIGINT) FROM conv)
  FROM scc
) ORDER BY metric
"""
)


def _temporal_copurchase_digraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edge list (u, v): u's earliest line in an order shipped
    strictly before v's, in >= 2 distinct orders. Built like
    _copurchase_edges (ONE lineitem shuffle + map-side pair explosion,
    never a self-join shipping the fact twice); pair fan-out bounded by
    parts-per-order. Persisted: it feeds both BFS directions."""
    li = load_table(spark, "lineitem", sf_dir)
    op = li.groupBy("l_orderkey", "l_partkey").agg(F.min("l_shipdate").alias("d"))
    ppo = op.groupBy("l_orderkey").agg(
        F.collect_list(F.struct("l_partkey", "d")).alias("ps")
    )
    e = (
        ppo.select(F.explode("ps").alias("a"), "ps")
        .select("a", F.explode("ps").alias("b"))
        .filter(
            (F.col("a.d") < F.col("b.d"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey"))
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
    )
    e = track(e.coalesce(4).persist())
    e.count()
    return e


@register(
    "graph_scc_forward_backward",
    _SCC_SQL,
    doc="Directed STRONGLY-connected component by forward-backward "
    "reachability (Fleischer-Hendrickson-Pinar 2000) — the classic "
    "distributed SCC primitive the undirected CC/LPA family cannot "
    "express: SCC(pivot) = FW(pivot) ∩ BW(pivot). The digraph is the "
    "temporal co-purchase graph (u→v iff u's earliest line shipped "
    "strictly before v's in >= 2 distinct orders); the pivot is the "
    f"smallest source node. {_SCC_HOPS} unrolled cumulative-frontier "
    "hops per direction (the graph_bfs_levels superstep), a `converged` "
    "flag reporting whether BOTH reachable sets closed before the hop "
    "cap (the operator's contract is hop-capped reachability, exact "
    "when converged=1 — asserted by the pytest invariant at test SFs). "
    "Counts and BIGINT id-checksums are order-independent integer sums. "
    "At 100 TB: the iteration-invariant edge list is built once with "
    "ONE fact shuffle + map-side pair explosion and persisted (bucketed "
    "by source node in a production run so every superstep joins "
    "co-located); each hop is one edges⋈frontier equi-join + distinct; "
    "full SCC decomposition iterates this exact kernel (peel the found "
    "SCC, re-pivot), so one kernel invocation is the honest unit.",
)
def graph_scc_forward_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    de = _temporal_copurchase_digraph(spark, sf_dir)
    piv = de.agg(F.min("u").alias("u")).filter(F.col("u").isNotNull())
    piv = track(piv.coalesce(1).persist())

    def reach(fwd: bool) -> tuple[DataFrame, bool]:
        src, dst = ("u", "v") if fwd else ("v", "u")
        r = piv
        n_prev = r.count()
        converged = False
        for _ in range(_SCC_HOPS):
            step = (
                de.select(F.col(src).alias("s"), F.col(dst).alias("t"))
                .join(r, F.col("s") == F.col("u"))
                .select(F.col("t").alias("u"))
            )
            r = (
                r.union(step)
                .distinct()
                .coalesce(_size_parts(n_prev * 8))
                .localCheckpoint(eager=True)
            )
            n = r.count()
            converged = n == n_prev
            n_prev = n
            if converged:
                # fixpoint: the remaining unrolled hops are no-ops (the
                # oracle's extra CTEs are idempotent on a converged set)
                break
        return r, converged

    fw, cf = reach(True)
    bw, cb = reach(False)
    scc = fw.intersect(bw)
    conv = F.lit(1 if (cf and cb) else 0).cast("long")
    rows = [
        ("forward", fw),
        ("backward", bw),
        ("scc", scc),
    ]
    out = None
    for metric, frame in rows:
        s = frame.agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("u").cast("long").alias("checksum"),
        ).select(
            F.lit(metric).alias("metric"),
            "n_nodes",
            "checksum",
            conv.alias("converged"),
        )
        out = s if out is None else out.unionByName(s)
    return out.orderBy("metric")


@register(
    "graph_degree_assortativity",
    "WITH "
    + _EDGE_CTES.strip()
    + """,
ed AS (
  SELECT du.outdeg AS x, dv.outdeg AS y
  FROM und e JOIN deg du ON e.u = du.u JOIN deg dv ON e.v = dv.u),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS ne,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy,
         CAST(SUM(x*y) AS BIGINT) AS sxy
  FROM ed)
SELECT m.ne AS n_edges, nn.n AS n_nodes,
       ROUND(CAST(m.ne*m.sxy - m.sx*m.sy AS DOUBLE)
             / NULLIF(sqrt(CAST(m.ne*m.sxx - m.sx*m.sx AS DOUBLE))
                      * sqrt(CAST(m.ne*m.syy - m.sy*m.sy AS DOUBLE)), 0.0), 6)
         AS assortativity
FROM m CROSS JOIN nn
""",
    doc="Degree assortativity coefficient (Newman 2002) of the co-purchase "
    "graph: the Pearson correlation of endpoint degrees over all "
    "directed edges — positive means hubs attach to hubs (social-style "
    "mixing), negative means hub-and-spoke (typical for product "
    "catalogs). One number that predicts how skew-robust every "
    "downstream graph operator (triangles, k-core, PageRank) will be. "
    "Degrees are exact BIGINTs from the shared edge build; the two "
    "degree-table joins are node-scale broadcasts against the edge "
    "list; all Pearson moments are exact integer sums (deg² × edges "
    "bounds int64 to ~1e5 max-degree graphs; DECIMAL(38,0) past that) "
    "and the coefficient is one NULLIF-guarded IEEE expression. At "
    "100 TB: one edge-list pass + two broadcast joins + a 1-row "
    "aggregate — no shuffle beyond the edge build itself.",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = _copurchase_edges(spark, sf_dir, ordered=False)
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("outdeg"))
    deg = track(deg.persist())
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ed = (
        und.join(
            F.broadcast(deg.select(F.col("u").alias("eu"), F.col("outdeg").alias("x"))),
            F.col("u") == F.col("eu"),
        )
        .join(
            F.broadcast(deg.select(F.col("u").alias("ev"), F.col("outdeg").alias("y"))),
            F.col("v") == F.col("ev"),
        )
        .select("x", "y")
    )
    m = ed.agg(
        F.count(F.lit(1)).cast("long").alias("ne"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = (F.col("ne") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("ne") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt((F.col("ne") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return m.crossJoin(F.broadcast(nn)).select(
        F.col("ne").alias("n_edges"),
        F.col("n").alias("n_nodes"),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg 1999) on the temporal co-purchase
# digraph — the dual-score centrality PageRank's single score cannot
# express: hubs POINT AT good authorities, authorities ARE POINTED AT by
# good hubs.
# --------------------------------------------------------------------------

_HITS_ITERS = 2
_HITS_WS = 1_000_000  # fixed-point score scale
_HITS_TOPK = 10


def _hits_iter_sql(prev_h: str, idx: int) -> str:
    """One HITS round: authority pull, max-normalize, hub push,
    max-normalize — all exact BIGINT sums + truncating integer division
    (power iteration converges under any positive rescaling; integer
    max-normalization keeps it bit-stable, the ml_pca recipe)."""
    a, h = f"a{idx}", f"h{idx}"
    return f"""
{a}_raw AS MATERIALIZED (
  SELECT e.v AS u, CAST(SUM(p.s) AS BIGINT) AS raw
  FROM de e JOIN {prev_h} p ON e.u = p.u GROUP BY e.v),
{a} AS MATERIALIZED (
  SELECT u, (raw * {_HITS_WS}) // (SELECT MAX(raw) FROM {a}_raw) AS s
  FROM {a}_raw),
{h}_raw AS MATERIALIZED (
  SELECT e.u, CAST(SUM(p.s) AS BIGINT) AS raw
  FROM de e JOIN {a} p ON e.v = p.u GROUP BY e.u),
{h} AS MATERIALIZED (
  SELECT u, (raw * {_HITS_WS}) // (SELECT MAX(raw) FROM {h}_raw) AS s
  FROM {h}_raw)"""


_HITS_SQL = (
    "WITH "
    + _scc_edges_sql().strip().rstrip(",")
    + f""",
nodes AS MATERIALIZED (SELECT u FROM de UNION SELECT v FROM de),
h0 AS (SELECT u, CAST({_HITS_WS} AS BIGINT) AS s FROM nodes),"""
    + ",".join(_hits_iter_sql(f"h{i}", i + 1) for i in range(_HITS_ITERS))
    + f"""
SELECT kind, p_partkey, score_fp, pos FROM (
  SELECT 'authority' AS kind, u AS p_partkey, s AS score_fp,
         CAST(row_number() OVER (ORDER BY s DESC, u) AS BIGINT) AS pos
  FROM a{_HITS_ITERS}
  UNION ALL
  SELECT 'hub', u, s,
         CAST(row_number() OVER (ORDER BY s DESC, u) AS BIGINT)
  FROM h{_HITS_ITERS}
) WHERE pos <= {_HITS_TOPK}
ORDER BY kind, pos
"""
)


@register(
    "graph_hits_hubs_authorities",
    _HITS_SQL,
    doc=f"HITS (Kleinberg 1999), {_HITS_ITERS} unrolled rounds on the "
    "temporal co-purchase digraph (u→v iff u ships strictly before v in "
    ">= 2 orders, shared with graph_scc_forward_backward): authority "
    "scores pull from in-edges, hub scores push to out-edges, each "
    "round max-normalized in TRUNCATING integer division at 1e6 fixed "
    "point — power iteration converges under any positive rescaling, "
    "and integer normalization makes the iteration bit-identical "
    "cross-engine (the ml_pca_power_iteration recipe; a float L2 "
    "normalization would drift from summation order alone). Top-10 "
    "hubs and authorities with exact-integer ordering and unique "
    "tiebreaks. At 100 TB: each half-round is one edges⋈scores shuffle "
    "join + a partial-agg'd sum — the Pregel layout, edge list built "
    "once and persisted (bucket by the join side's key in production); "
    "the max-normalizer is a 1-row broadcast.",
)
def graph_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    de = _temporal_copurchase_digraph(spark, sf_dir)
    nodes = de.select("u").union(de.select("v")).distinct()
    h = track(
        nodes.select("u", F.lit(_HITS_WS).cast("long").alias("s")).coalesce(1).persist()
    )
    a = None

    def half_round(scores: DataFrame, src: str, dst: str) -> DataFrame:
        # checkpoint the RAW pull/push aggregate, not the normalized
        # projection: the raw frame feeds TWO consumers (the max-
        # normalizer aggregate and the normalized scores), so cutting
        # downstream of the fork would evaluate the join+agg twice.
        # EAGER localCheckpoint, not persist (the r10 bounded-frame rule):
        # the frame is node-scale, and under lazy persist the static plan
        # re-expanded the whole previous rounds' lineage per consumer —
        # 844 Exchange nodes by the final window (measured r12; louvain
        # hit the same wall in r11)
        raw = (
            de.select(F.col(src).alias("j"), F.col(dst).alias("u"))
            .join(scores.select(F.col("u").alias("j"), "s"), "j")
            .groupBy("u")
            .agg(F.sum("s").cast("long").alias("raw"))
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
        mx = raw.agg(F.max("raw").alias("m"))
        return raw.crossJoin(F.broadcast(mx)).select(
            "u", F.expr(f"(raw * {_HITS_WS}) DIV m").alias("s")
        )

    for _ in range(_HITS_ITERS):
        a = half_round(h, "u", "v")
        h = half_round(a, "v", "u")
    wk = Window.orderBy(F.desc("s"), "u")
    auth = a.select(
        F.lit("authority").alias("kind"),
        F.col("u").alias("p_partkey"),
        F.col("s").alias("score_fp"),
        F.row_number().over(wk).cast("long").alias("pos"),
    ).filter(F.col("pos") <= _HITS_TOPK)
    hub = h.select(
        F.lit("hub").alias("kind"),
        F.col("u").alias("p_partkey"),
        F.col("s").alias("score_fp"),
        F.row_number().over(wk).cast("long").alias("pos"),
    ).filter(F.col("pos") <= _HITS_TOPK)
    return auth.unionByName(hub).orderBy("kind", "pos")


# --------------------------------------------------------------------------
# Modularity of the LPA communities — the quality score that says whether
# a community assignment is better than chance.
# --------------------------------------------------------------------------

_LPA_CTES = (
    """op AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS w
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p),
s AS MATERIALIZED (SELECT u, v FROM e WHERE w >= 2),
bid AS MATERIALIZED (SELECT u, v FROM s UNION ALL SELECT v, u FROM s),
nodes AS (SELECT DISTINCT u AS id FROM bid),
l0 AS (SELECT id, id AS lab FROM nodes),"""
    + ",".join(_lpa_iter_sql(f"l{i}", f"l{i + 1}") for i in range(_LPA_ITERS))
)


_MODULARITY_SQL = (
    "WITH "
    + _LPA_CTES
    + f""",
labs AS MATERIALIZED (SELECT id, lab FROM l{_LPA_ITERS}),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM s),
deg AS (SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS d FROM bid GROUP BY u),
ec AS (SELECT la.lab, CAST(COUNT(*) AS BIGINT) AS e_c
       FROM s JOIN labs la ON s.u = la.id JOIN labs lb ON s.v = lb.id
       WHERE la.lab = lb.lab GROUP BY la.lab),
dc AS (SELECT labs.lab, CAST(SUM(deg.d) AS BIGINT) AS d_c
       FROM deg JOIN labs ON deg.id = labs.id GROUP BY labs.lab),
terms AS (
  SELECT CAST(ROUND(CAST(COALESCE(ec.e_c, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
              - (CAST(dc.d_c AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
                * (CAST(dc.d_c AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE))), 9)
         AS DECIMAL(18,9)) AS t
  FROM dc LEFT JOIN ec ON dc.lab = ec.lab CROSS JOIN m)
SELECT (SELECT CAST(COUNT(DISTINCT lab) AS BIGINT) FROM labs) AS n_communities,
       m.m AS m_edges,
       ROUND(CAST((SELECT SUM(t) FROM terms) AS DOUBLE), 6) AS modularity
FROM m
""",
)[0]


@register(
    "graph_modularity_lpa",
    _MODULARITY_SQL,
    doc="Newman modularity Q = Σ_c [e_c/m − (d_c/2m)²] of the deterministic "
    "LPA community assignment (graph_label_prop_communities' exact "
    "3-round labels, re-derived in-plan) over the weight>=2 co-purchase "
    "graph — the standard score for whether detected communities beat "
    "a random graph with the same degree sequence (Q>0.3 ≈ real "
    "structure). Intra-community edge counts and degree sums are exact "
    "BIGINTs; each community's term is ONE identical IEEE expression "
    "rounded once at 9dp and DECIMAL-summed (order-independent across "
    "communities — the diag_kruskal_wallis recipe). At 100 TB: the LPA "
    "rounds are the usual Pregel joins; the modularity itself is two "
    "broadcast label joins + community-scale arithmetic. Composes with "
    "any labeling — swap in CC or Louvain levels unchanged.",
)
def graph_modularity_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir, ordered=True, w_min=2)
    bid = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    base = track(bid.select(F.col("u").alias("id")).distinct().persist())
    nodes = base.coalesce(_size_parts(base.count()))
    labels = nodes.select("id", F.col("id").alias("lab"))
    for _ in range(_LPA_ITERS):
        # NO broadcast hints here, deliberately: interleaved A/Bs at
        # sf0.1 (r12) measured the forced per-round broadcast neutral to
        # slightly slower than letting AQE plan the tiny label-side
        # shuffles on this w>=2-floored graph — unlike katz, whose
        # unfloored 2.4M-edge join genuinely saves a shuffle per round;
        # here the hint only adds a driver collect per iteration
        cand = (
            bid.join(labels.select(F.col("id").alias("v"), "lab"), "v")
            .groupBy(F.col("u").alias("id"), "lab")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        pick = cand.groupBy("id").agg(
            F.expr("max_by(lab, struct(c, -lab))").alias("new_lab")
        )
        labels = nodes.join(pick, "id", "left").select(
            "id", F.coalesce("new_lab", F.col("id")).alias("lab")
        )
        # node-scale and bounded — eager localCheckpoint per round (the
        # r11 Louvain rule): un-truncated, the label lineage re-expanded
        # every prior round's join+agg into each consumer branch (static
        # plan measured 1260 Exchange nodes at _LPA_ITERS rounds)
        labels = labels.coalesce(_size_parts(base.count())).localCheckpoint(
            eager=True
        )
    m = edges.agg(F.count(F.lit(1)).cast("long").alias("m"))
    deg = bid.groupBy(F.col("u").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    la = labels.select(F.col("id").alias("u"), F.col("lab").alias("lab_u"))
    lb = labels.select(F.col("id").alias("v"), F.col("lab").alias("lab_v"))
    ec = (
        edges.join(F.broadcast(la), "u")
        .join(F.broadcast(lb), "v")
        .filter(F.col("lab_u") == F.col("lab_v"))
        .groupBy(F.col("lab_u").alias("lab"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
    )
    dc = (
        deg.join(F.broadcast(labels), "id")
        .groupBy("lab")
        .agg(F.sum("d").cast("long").alias("d_c"))
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    half = dd("d_c") / (F.lit(2.0) * dd("m"))
    term = F.round(
        F.coalesce(F.col("e_c"), F.lit(0)).cast("double") / dd("m") - half * half, 9
    ).cast("decimal(18,9)")
    terms = (
        dc.join(ec, "lab", "left")
        .crossJoin(F.broadcast(m))
        .select(term.alias("t"))
        .agg(F.sum("t").cast("double").alias("q"))
    )
    ncomm = labels.agg(F.countDistinct("lab").cast("long").alias("n_communities"))
    return (
        m.crossJoin(F.broadcast(ncomm))
        .crossJoin(F.broadcast(terms))
        .select(
            "n_communities",
            F.col("m").alias("m_edges"),
            F.round(F.col("q"), 6).alias("modularity"),
        )
    )


_CC_MIN_DEG = 3


@register(
    "graph_clustering_coefficient",
    "WITH "
    + _ORDERED_EDGE_CTES
    + f""",
tri AS (
  SELECT ab.u AS a, ab.v AS b, bc.v AS c
  FROM e ab
  JOIN e bc ON ab.v = bc.u
  JOIN e ac ON ac.u = ab.u AND ac.v = bc.v),
tn AS (
  SELECT p_partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS p_partkey FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri) GROUP BY p_partkey),
und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
deg AS (SELECT u AS p_partkey, CAST(COUNT(*) AS BIGINT) AS degree
        FROM und GROUP BY u)
SELECT p_partkey, degree, n_triangles, clustering_coeff FROM (
  SELECT d.p_partkey, d.degree,
         CAST(COALESCE(tn.n_triangles, 0) AS BIGINT) AS n_triangles,
         ROUND(2.0 * CAST(COALESCE(tn.n_triangles, 0) AS DOUBLE)
               / (CAST(d.degree AS DOUBLE) * CAST(d.degree - 1 AS DOUBLE)),
               6) AS clustering_coeff,
         row_number() OVER (
           ORDER BY ROUND(2.0 * CAST(COALESCE(tn.n_triangles, 0) AS DOUBLE)
                    / (CAST(d.degree AS DOUBLE) * CAST(d.degree - 1 AS DOUBLE)),
                    6) DESC, d.p_partkey) AS pos
  FROM deg d LEFT JOIN tn ON d.p_partkey = tn.p_partkey
  WHERE d.degree >= {_CC_MIN_DEG})
WHERE pos <= 20
ORDER BY clustering_coeff DESC, p_partkey
""",
    doc="Local clustering coefficient (Watts-Strogatz 1998): per node, "
    "2T/(d(d-1)) — the fraction of a node's neighbor pairs that are "
    "themselves connected, THE egocentric density measure behind "
    "small-world analysis and community seeding. Reuses the ordered-"
    "wedge triangle machinery (graph_triangle_count's exact per-node "
    f"counts) and the weight>={_W_MIN} co-purchase graph; nodes below "
    f"degree {_CC_MIN_DEG} are excluded (their coefficient is "
    "degenerate). The coefficient is ONE identical IEEE expression "
    "over exact integers and the top-20 ordering ties break on the "
    "unique part key (identical doubles cross-engine → identical "
    "order). At 100 TB: the triangle join is the O(m^1.5) degree-"
    "ordered form; degrees are one edge-list aggregate; everything "
    "else is node-scale.",
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logflow.operators.graph import triangle_counts_ordered

    e = _copurchase_edges(spark, sf_dir, ordered=True, w_min=_W_MIN)
    tn = triangle_counts_ordered(e).select(
        F.col("n").alias("p_partkey"), "n_triangles"
    )
    und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy(F.col("u").alias("p_partkey")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    cc = (
        F.lit(2.0)
        * F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
        / (F.col("degree").cast("double") * (F.col("degree") - 1).cast("double"))
    )
    w = Window.orderBy(F.desc("clustering_coeff"), "p_partkey")
    return (
        deg.join(tn, "p_partkey", "left")
        .filter(F.col("degree") >= _CC_MIN_DEG)
        .select(
            "p_partkey",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
            F.round(cc, 6).alias("clustering_coeff"),
        )
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= 20)
        .drop("pos")
        .orderBy(F.desc("clustering_coeff"), "p_partkey")
    )


# --------------------------------------------------------------------------
# Sampled closeness centrality via one MULTI-SOURCE BFS (Eppstein-Wang) —
# the k-seed generalization of graph_bfs_levels: every wave carries its
# seed id, so one frontier frame computes a k x V distance matrix.
# --------------------------------------------------------------------------

_CLOSE_SEEDS = 6
_CLOSE_HOPS = 3
_CLOSE_SCALE = 1_000_000  # fixed-point closeness scale
_CLOSE_TOPK = 30


def _closeness_ctes() -> str:
    """Unrolled multi-source frontier/visited chain on ``und``.

    Every step CTE is ``AS MATERIALIZED``: f_h is referenced by both
    d_h and f_{h+1}, and d_h by both f_{h+1} and d_{h+1} — without the
    hint DuckDB's CTE inlining re-executes each step per reference and
    the chain goes exponential (the round-8 cumulative-reachability
    lesson, CLAUDE.md)."""
    parts = [
        "sd AS (SELECT DISTINCT u FROM und)",
        f"seeds AS (SELECT u AS s FROM sd ORDER BY u LIMIT {_CLOSE_SEEDS})",
        "d0 AS MATERIALIZED (SELECT s, s AS u, CAST(0 AS BIGINT) AS dist"
        " FROM seeds)",
    ]
    for h in range(1, _CLOSE_HOPS + 1):
        prev_f = "d0" if h == 1 else f"f{h - 1}"
        parts.append(
            f"f{h} AS MATERIALIZED (SELECT DISTINCT d.s, e.v AS u "
            f"FROM und e JOIN {prev_f} d ON e.u = d.u "
            f"WHERE NOT EXISTS (SELECT 1 FROM d{h - 1} x "
            f"WHERE x.s = d.s AND x.u = e.v))"
        )
        parts.append(
            f"d{h} AS MATERIALIZED (SELECT s, u, dist FROM d{h - 1} "
            f"UNION ALL SELECT s, u, CAST({h} AS BIGINT) AS dist FROM f{h})"
        )
    return ",\n".join(parts)


_CLOSENESS_SQL = (
    "WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),\n"
    "und AS (SELECT a.p AS u, b.p AS v\n"
    "        FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p\n"
    "        GROUP BY a.p, b.p),\n"
    + _closeness_ctes()
    + f"""
SELECT p_partkey, sum_dist, closeness_fp, closeness FROM (
  SELECT u AS p_partkey,
         CAST(SUM(dist) AS BIGINT) AS sum_dist,
         CAST(({_CLOSE_SEEDS - 1} * {_CLOSE_SCALE}) // SUM(dist) AS BIGINT)
           AS closeness_fp,
         CAST(ROUND({_CLOSE_SEEDS - 1}.0 / CAST(SUM(dist) AS DOUBLE), 9)
           AS DOUBLE) AS closeness
  FROM d{_CLOSE_HOPS}
  GROUP BY u
  HAVING COUNT(*) = {_CLOSE_SEEDS})
ORDER BY closeness_fp DESC, p_partkey
LIMIT {_CLOSE_TOPK}
"""
)


@register(
    "graph_closeness_sampled",
    _CLOSENESS_SQL,
    doc=f"Sampled closeness centrality (Eppstein-Wang 2001): ONE multi-"
    f"source BFS from the {_CLOSE_SEEDS} smallest part keys carries "
    "(seed, node) pairs per frontier, so k waves cost one frame — the "
    "k-seed generalization of graph_bfs_levels' frontier loop. "
    f"Closeness(u) = (k-1)/sum_s dist(s,u) over nodes ALL {_CLOSE_SEEDS} "
    f"seeds reach within {_CLOSE_HOPS} hops (bounded-hop harmonic "
    "variant; requiring full reach removes sample bias and makes "
    "sum_dist >= k-1, so the fixed-point division never sees zero). "
    "All distances are exact BIGINTs; closeness_fp = (k-1)*1e6 DIV "
    "sum_dist is a pure integer function (Spark DIV == DuckDB // on "
    "non-negatives) and the double is ONE identical IEEE division of "
    "exact ints — hash-exact both engines. Oracle: unrolled frontier/"
    "visited CTE chain with AS MATERIALIZED on every step (each step "
    "is referenced twice; inlining would go exponential — the round-8 "
    "cumulative-reachability lesson). Spark side: the k waves live in "
    "ONE node-scale bitmask frame (seed i = bit i of a BIGINT lane, "
    "k << 32 so lanes stay below the sign bit) — per hop, one edges-"
    "to-frontier equi-join whose bit_or aggregate dedups (seed, node) "
    "pairs for free (the join fans out one row per edge, never per "
    "edge x seed), newly-set bits accrue hop*bit_count into the exact "
    "distance sum, and the (s,u) distinct + left_anti shuffles of the "
    "pair formulation disappear outright; the state frame is eager-"
    "localCheckpointed per round (bounded, the r10 rule). "
    "At 100 TB: Eppstein-Wang bounds the error of k-sample closeness "
    "at O(log n / eps^2) seeds; the frontier join is the standard BSP "
    "layout (edges bucketed by source node -> co-located supersteps), "
    "and wider seed sets shard into ceil(k/32) bitmask lanes.",
)
def graph_closeness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir, ordered=False)
    nodes = edges.select("u").distinct()
    sw = Window.orderBy("u")
    seeds = (
        nodes.orderBy("u")
        .limit(_CLOSE_SEEDS)
        .withColumn("i", F.row_number().over(sw) - 1)
        .select("u", F.expr("shiftleft(1L, CAST(i AS INT))").alias("bit"))
    )
    # state: per node, visited-seed bitmask, this round's frontier bits,
    # and the exact BIGINT distance sum accrued so far
    state = (
        nodes.join(F.broadcast(seeds), "u", "left")
        .select(
            "u",
            F.coalesce("bit", F.lit(0)).cast("long").alias("vis"),
            F.coalesce("bit", F.lit(0)).cast("long").alias("frt"),
            F.lit(0).cast("long").alias("sd"),
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    for hop in range(1, _CLOSE_HOPS + 1):
        reach = (
            edges.join(
                F.broadcast(state.filter(F.col("frt") != 0).select("u", "frt")),
                "u",
            )
            .groupBy(F.col("v").alias("u"))
            .agg(F.bit_or("frt").alias("rmask"))
        )
        state = (
            state.join(F.broadcast(reach), "u", "left")
            .select(
                "u",
                "vis",
                "sd",
                F.expr("COALESCE(rmask, 0L) & ~vis").alias("new_bits"),
            )
            .select(
                "u",
                F.expr("vis | new_bits").cast("long").alias("vis"),
                F.col("new_bits").cast("long").alias("frt"),
                (F.col("sd") + hop * F.bit_count("new_bits"))
                .cast("long")
                .alias("sd"),
            )
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
    return (
        state.filter(F.bit_count("vis") == _CLOSE_SEEDS)
        .select(
            F.col("u").alias("p_partkey"),
            F.col("sd").alias("sum_dist"),
            F.expr(
                f"CAST(({_CLOSE_SEEDS - 1} * {_CLOSE_SCALE}) DIV sd"
                " AS BIGINT)"
            ).alias("closeness_fp"),
            F.round(
                F.lit(float(_CLOSE_SEEDS - 1)) / F.col("sd").cast("double"),
                9,
            ).alias("closeness"),
        )
        .orderBy(F.desc("closeness_fp"), "p_partkey")
        .limit(_CLOSE_TOPK)
    )


# --------------------------------------------------------------------------
# Katz centrality — attenuated walk counting: the third centrality family
# next to PageRank (random surfer) and closeness (geodesics). No degree
# normalization, additive base score, so it rewards raw reachable volume.
# --------------------------------------------------------------------------

_KATZ_ITERS = 3
_KATZ_SCALE = 1_000_000_000_000  # 1e12 fixed-point score scale
_KATZ_ADEN = 4096  # attenuation alpha = 1/4096 as a truncating DIV
_KATZ_TOPK = 30


def _katz_iter_cte(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT n.u, CAST({_KATZ_SCALE} + COALESCE(s.s, 0) AS BIGINT) AS x
  FROM nodes n LEFT JOIN (
    SELECT e.v AS u, CAST(SUM(x.x // {_KATZ_ADEN}) AS BIGINT) AS s
    FROM und e JOIN {prev} x ON e.u = x.u GROUP BY e.v) s ON n.u = s.u
)"""


_KATZ_SQL = (
    "WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),\n"
    "und AS (SELECT a.p AS u, b.p AS v\n"
    "        FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p\n"
    "        GROUP BY a.p, b.p),\n"
    "nodes AS (SELECT DISTINCT u FROM und),\n"
    f"k0 AS (SELECT u, CAST({_KATZ_SCALE} AS BIGINT) AS x FROM nodes),"
    + ",".join(_katz_iter_cte(f"k{i}", f"k{i + 1}") for i in range(_KATZ_ITERS))
    + f"""
SELECT u AS p_partkey, x AS katz_fp,
       ROUND(CAST(x AS DOUBLE) / {_KATZ_SCALE}, 6) AS katz
FROM k{_KATZ_ITERS}
ORDER BY katz_fp DESC, p_partkey
LIMIT {_KATZ_TOPK}
"""
)


@register(
    "graph_katz_centrality",
    _KATZ_SQL,
    doc=f"Katz centrality by {_KATZ_ITERS} unrolled fixed-point iterations "
    f"x_(k+1)(v) = beta + alpha*sum over in-neighbors x_k(u), with "
    f"beta = 1 (scaled 1e12) and alpha = 1/{_KATZ_ADEN} applied as a "
    "truncating per-edge integer DIV before the exact BIGINT sum "
    "(Spark DIV == DuckDB //, order-independent adds — the PageRank "
    "recipe without the out-degree normalization, so it measures "
    "attenuated walk VOLUME, the third centrality family next to the "
    "random-surfer and geodesic ones). alpha far below 1/max-degree "
    "keeps the series contractive and the 3-step scores bounded "
    "~1e15 << int64. Single-reference CTE chain (each k_i feeds only "
    "k_(i+1)) — the PageRank/GD shape that needs no MATERIALIZED "
    "hint. At 100 TB: per iteration ONE edges-to-scores equi-join + "
    "one partial-agg'd sum keyed by destination (standard Pregel-on-"
    "dataframes); the edge list is iteration-invariant and persisted "
    "once (bucketed by source in production so every superstep "
    "co-locates); node-scale score frames coalesce by _size_parts.",
)
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir, ordered=False)
    nodes = edges.select("u").distinct()
    nodes = track(nodes.coalesce(_size_parts(nodes.count())).persist())
    x = nodes.select("u", F.lit(_KATZ_SCALE).cast("long").alias("x"))
    # score and contribution frames are one row per node, small by
    # construction — broadcast them into the edge join and the node
    # realignment exactly like pagerank_fixed_point does (Catalyst can't
    # infer the size through the join+agg lineage; the static plan ran
    # both joins as SortMergeJoin with an edge-side shuffle per
    # iteration). At node counts past broadcast size the bucketed-join
    # layout in the module doc replaces the hint.
    for _ in range(_KATZ_ITERS):
        contrib = (
            edges.join(F.broadcast(x), "u")
            .select(F.col("v").alias("u"), F.expr(f"x DIV {_KATZ_ADEN}").alias("c"))
            .groupBy("u")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        x = nodes.join(F.broadcast(contrib), "u", "left").select(
            "u",
            (F.lit(_KATZ_SCALE) + F.coalesce(F.col("s"), F.lit(0)))
            .cast("long")
            .alias("x"),
        )
    return (
        x.select(
            F.col("u").alias("p_partkey"),
            F.col("x").alias("katz_fp"),
            F.round(F.col("x").cast("double") / F.lit(float(_KATZ_SCALE)), 6).alias(
                "katz"
            ),
        )
        .orderBy(F.desc("katz_fp"), "p_partkey")
        .limit(_KATZ_TOPK)
    )


# --------------------------------------------------------------------------
# Rich-club coefficient — do high-degree hubs preferentially connect to
# EACH OTHER? The hub-interconnection density phi(k) at rising degree
# thresholds, the global complement to the local clustering coefficient.
# --------------------------------------------------------------------------

_RC_KS = (2, 4, 8, 16)


@register(
    "graph_rich_club",
    "WITH "
    + _ORDERED_EDGE_CTES
    + """,
und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY u),
ed AS (SELECT du.d AS du, dv.d AS dv
       FROM e JOIN deg du ON e.u = du.u JOIN deg dv ON e.v = dv.u),
ks AS (SELECT CAST(unnest(["""
    + ", ".join(str(k) for k in _RC_KS)
    + """]) AS BIGINT) AS k),
nk AS (SELECT k, CAST(COALESCE(SUM(CASE WHEN d > k THEN 1 END), 0) AS BIGINT)
              AS n_rich
       FROM deg CROSS JOIN ks GROUP BY k),
ek AS (SELECT k, CAST(COALESCE(SUM(CASE WHEN du > k AND dv > k THEN 1 END), 0)
              AS BIGINT) AS e_rich
       FROM ed CROSS JOIN ks GROUP BY k)
SELECT nk.k, nk.n_rich, ek.e_rich,
       ROUND(2.0 * CAST(ek.e_rich AS DOUBLE)
             / NULLIF(CAST(nk.n_rich AS DOUBLE)
                      * CAST(nk.n_rich - 1 AS DOUBLE), 0.0), 6) AS phi
FROM nk JOIN ek ON nk.k = ek.k
ORDER BY nk.k
""",
    doc=f"Rich-club coefficient phi(k) = 2*E_k/(N_k*(N_k-1)) at degree "
    f"thresholds {list(_RC_KS)} over the weight>={_W_MIN} co-purchase "
    "graph: the fraction of possible edges that actually exist among "
    "nodes of degree > k — rising phi with k means hubs form a "
    "preferentially-wired club (supply-chain cores, celebrity "
    "cliques), the GLOBAL complement to graph_clustering_coefficient's "
    "egocentric density. Degrees are one edge-list aggregate; each "
    "edge is annotated with both endpoint degrees via two node-scale "
    "joins; the k-grid is 4 conditional sums over that one annotated "
    "edge list (never a per-k subgraph rebuild). Exact BIGINT counts, "
    "one NULLIF-guarded identical division. At 100 TB: two broadcast-"
    "able degree joins + one pass of conditional aggregation — the "
    "same shape at any scale; a dense k-grid costs only more "
    "conditional sums in the same pass.",
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir, ordered=True, w_min=_W_MIN)
    und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    deg = track(deg.coalesce(1).persist())
    ed = (
        e.join(deg.select(F.col("u"), F.col("d").alias("du")), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("d").alias("dv")), "v"
        )
        .select("du", "dv")
    )
    nk_aggs = [
        F.coalesce(F.sum(F.when(F.col("d") > k, 1)), F.lit(0))
        .cast("long")
        .alias(f"n{k}")
        for k in _RC_KS
    ]
    ek_aggs = [
        F.coalesce(
            F.sum(F.when((F.col("du") > k) & (F.col("dv") > k), 1)), F.lit(0)
        )
        .cast("long")
        .alias(f"e{k}")
        for k in _RC_KS
    ]
    nk = deg.agg(*nk_aggs)
    ek = ed.agg(*ek_aggs)
    stack_args = ", ".join(f"{k}L, n{k}, e{k}" for k in _RC_KS)
    wide = nk.crossJoin(F.broadcast(ek))
    return (
        wide.select(
            F.expr(
                f"stack({len(_RC_KS)}, {stack_args}) AS (k, n_rich, e_rich)"
            )
        )
        .select(
            "k",
            "n_rich",
            "e_rich",
            F.round(
                F.lit(2.0)
                * F.col("e_rich").cast("double")
                / F.nullif(
                    F.col("n_rich").cast("double")
                    * (F.col("n_rich") - 1).cast("double"),
                    F.lit(0.0),
                ),
                6,
            ).alias("phi"),
        )
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# Sampled betweenness centrality (Brandes 2001, source-sampled, hop-capped)
# — the fourth centrality family: how much shortest-path TRAFFIC crosses a
# node. Forward pass = the multi-source BFS frame with exact path COUNTS;
# backward pass = pair-dependency accumulation in truncating fixed point,
# so the whole thing stays hash-checkable.
# --------------------------------------------------------------------------

_BC_SEEDS = 4
_BC_HOPS = 3
_BC_SCALE = 1_000_000  # fixed-point dependency scale
_BC_TOPK = 20


def _bc_ctes() -> str:
    """Forward sigma chain + backward delta chain, every step
    AS MATERIALIZED (each p_h is referenced by v_h, p_{h+1}, del_h and
    the final union — unmaterialized, DuckDB's CTE inlining re-executes
    each step per reference; the round-8 lesson)."""
    parts = [
        "sd AS (SELECT DISTINCT u FROM und)",
        f"seeds AS (SELECT u AS s FROM sd ORDER BY u LIMIT {_BC_SEEDS})",
        "p0 AS MATERIALIZED (SELECT s, s AS u, CAST(1 AS BIGINT) AS sigma"
        " FROM seeds)",
        "v0 AS MATERIALIZED (SELECT s, u FROM p0)",
    ]
    for h in range(1, _BC_HOPS + 1):
        parts.append(
            f"p{h} AS MATERIALIZED ("
            f"SELECT d.s, e.v AS u, CAST(SUM(d.sigma) AS BIGINT) AS sigma "
            f"FROM und e JOIN p{h - 1} d ON e.u = d.u "
            f"WHERE NOT EXISTS (SELECT 1 FROM v{h - 1} x "
            f"WHERE x.s = d.s AND x.u = e.v) "
            f"GROUP BY d.s, e.v)"
        )
        if h < _BC_HOPS:
            parts.append(
                f"v{h} AS MATERIALIZED (SELECT s, u FROM v{h - 1} "
                f"UNION ALL SELECT s, u FROM p{h})"
            )
    parts.append(
        f"del{_BC_HOPS} AS MATERIALIZED (SELECT s, u, sigma, "
        f"CAST(0 AS BIGINT) AS delta FROM p{_BC_HOPS})"
    )
    for h in range(_BC_HOPS - 1, 0, -1):
        parts.append(
            f"del{h} AS MATERIALIZED ("
            f"SELECT p.s, p.u, p.sigma, "
            f"CAST(COALESCE(SUM((p.sigma * ({_BC_SCALE} + q.delta)) // q.sigma), 0)"
            f" AS BIGINT) AS delta "
            f"FROM p{h} p "
            f"LEFT JOIN und e ON e.u = p.u "
            f"LEFT JOIN del{h + 1} q ON q.s = p.s AND q.u = e.v "
            f"GROUP BY p.s, p.u, p.sigma)"
        )
    return ",\n".join(parts)


_BC_SQL = (
    "WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),\n"
    "und AS (SELECT a.p AS u, b.p AS v\n"
    "        FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p\n"
    "        GROUP BY a.p, b.p),\n"
    + _bc_ctes()
    + f""",
alld AS ({" UNION ALL ".join(f"SELECT s, u, delta FROM del{h}" for h in range(1, _BC_HOPS + 1))})
SELECT p_partkey, bc_fp, betweenness FROM (
  SELECT u AS p_partkey,
         CAST(SUM(delta) AS BIGINT) AS bc_fp,
         ROUND(CAST(SUM(delta) AS DOUBLE) / {_BC_SCALE}.0 / {_BC_SEEDS}.0, 6)
           AS betweenness
  FROM alld GROUP BY u)
WHERE bc_fp > 0
ORDER BY bc_fp DESC, p_partkey
LIMIT {_BC_TOPK}
"""
)


@register(
    "graph_betweenness_sampled",
    _BC_SQL,
    doc=f"Source-sampled betweenness centrality (Brandes 2001): forward "
    f"multi-source BFS from the {_BC_SEEDS} smallest part keys with "
    f"EXACT shortest-path counts sigma (integer sums over the level "
    f"transition — the graph_closeness_sampled frame plus path "
    f"counting), then the backward pair-dependency accumulation "
    f"delta(v) = sum_w sigma(v)*(1+delta(w))/sigma(w) over successors, "
    f"hop-capped at {_BC_HOPS} (k-betweenness). The division is "
    f"TRUNCATING fixed point at 1e6 scale — (sigma*(SCALE+delta)) DIV "
    f"sigma_w, Spark DIV == DuckDB // — and every per-level delta is "
    f"derived from the NEXT level's already-truncated integers, so the "
    f"whole backward recursion is exact integer arithmetic: the classic "
    f"float-accumulation objection to distributed betweenness (and the "
    f"reason the r9 scoping note expected rows-only) dissolves, and the "
    f"oracle is the same unrolled chain AS MATERIALIZED. Dependency "
    f"terms bound |sigma*(SCALE+delta)| well under int64 at 3 hops on "
    f"degree-bounded co-purchase graphs (~1e16 worst case here; widen "
    f"to DECIMAL(38,0) for deeper horizons). At 100 TB: each forward "
    f"hop is one edges-frontier equi-join keyed for co-location, each "
    f"backward level one join against the NEXT level only; state is "
    f"(source x frontier)-scale, never all-pairs. Top-{_BC_TOPK} by the "
    f"exact integer score, unique-key tiebreak.",
)
def graph_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir, ordered=False)
    seeds = (
        # constant-bounded coalesce(1): <= _BC_SEEDS rows by the LIMIT
        edges.select("u").distinct().orderBy("u").limit(_BC_SEEDS)
        .select(
            F.col("u").alias("s"),
            F.col("u").alias("u"),
            F.lit(1).cast("long").alias("sigma"),
        )
        .coalesce(1)
    )
    levels: list[DataFrame] = [track(seeds.persist())]
    visited = levels[0].select("s", "u")
    for hop in range(1, _BC_HOPS + 1):
        # frontier and visited are (seeds x frontier)-scale — broadcast
        # both so the persisted edge table streams map-side (r13 A/B:
        # wins every interleaved pair vs letting AQE shuffle-plan it; at
        # node counts past broadcast size the module-doc bucketed layout
        # replaces the hint, as for katz)
        nxt = (
            edges.join(F.broadcast(levels[-1].select("s", "u", "sigma")), "u")
            .select("s", F.col("v").alias("u"), "sigma")
            .join(F.broadcast(visited), ["s", "u"], "left_anti")
            .groupBy("s", "u")
            .agg(F.sum("sigma").cast("long").alias("sigma"))
            # static fan-out estimate (seeds x 8^hop): the fixed unroll
            # needs no per-hop count action — exact counts bought nothing
            # but a job per hop here (empty frontiers propagate through
            # the remaining joins at trivial cost), and 10 jobs of stage
            # floor were the measured cost of this operator at sf0.1
            .coalesce(_size_parts(_BC_SEEDS * 8**hop))
        )
        nxt = nxt.localCheckpoint(eager=True)
        levels.append(nxt)
        # plain union of CHECKPOINTED leaves: single consumer per hop and
        # flat lineage — needs neither persist nor its own checkpoint
        visited = visited.union(nxt.select("s", "u"))
    # backward pair-dependency: deepest level seeds delta = 0, each level
    # is one join against the NEXT level's (already integer) deltas
    deltas: list[DataFrame] = []
    delta = levels[-1].select(
        "s", "u", "sigma", F.lit(0).cast("long").alias("delta")
    )
    deltas.append(delta)
    for h in range(len(levels) - 2, 0, -1):
        succ = delta.select(
            "s",
            F.col("u").alias("w"),
            F.col("sigma").alias("wsig"),
            F.col("delta").alias("wdelta"),
        )
        # The old form (levels[h] LEFT JOIN edges LEFT JOIN succ) cannot
        # broadcast its small left side, so every backward level shuffled
        # the full 2.4M-row edge table (probed ~2.7-3.0 s per level at
        # sf0.1). Equivalent restructure (guide §3.1/§2.3): stream the
        # persisted edges through INNER broadcast joins against the tiny
        # successor and level frames (sigma attaches map-side — the DIV
        # is per-successor, so the term can't pre-aggregate without it),
        # partial-agg the term before its only (tiny) shuffle, then
        # left-join the sums back so no-successor rows keep delta = 0 —
        # row-for-row the same values as the double left join.
        term = F.expr(f"(sigma * ({_BC_SCALE} + wdelta)) DIV wsig")
        contrib = (
            edges.select("u", F.col("v").alias("w"))
            .join(F.broadcast(succ), "w")
            .join(F.broadcast(levels[h].select("s", "u", "sigma")), ["s", "u"])
            .groupBy("s", "u")
            .agg(F.sum(term).cast("long").alias("dsum"))
        )
        delta = (
            levels[h]
            .join(F.broadcast(contrib), ["s", "u"], "left")
            .select(
                "s",
                "u",
                "sigma",
                F.coalesce("dsum", F.lit(0)).cast("long").alias("delta"),
            )
            .coalesce(_size_parts(_BC_SEEDS * 8**_BC_HOPS))
        )
        if h > 1:
            # two consumers (next backward level + final union): materialize.
            # The LAST round (h == 1) feeds only the final union — skipping
            # its checkpoint saves one whole job of stage floor (measured
            # ~1 s at sf0.1 on this 8-job operator).
            delta = delta.localCheckpoint(eager=True)
        deltas.append(delta)
    alld = deltas[0].select("s", "u", "delta")
    for d in deltas[1:]:
        alld = alld.unionByName(d.select("s", "u", "delta"))
    return (
        alld.groupBy(F.col("u").alias("p_partkey"))
        .agg(F.sum("delta").cast("long").alias("bc_fp"))
        .filter(F.col("bc_fp") > 0)
        .select(
            "p_partkey",
            "bc_fp",
            F.round(
                F.col("bc_fp").cast("double") / float(_BC_SCALE) / float(_BC_SEEDS),
                6,
            ).alias("betweenness"),
        )
        .orderBy(F.desc("bc_fp"), "p_partkey")
        .limit(_BC_TOPK)
    )


# --------------------------------------------------------------------------
# k-truss peeling — the EDGE-level cohesion refinement of k-core: keep an
# edge only while it closes >= k-2 triangles in the surviving subgraph.
# Denser-than-core community extraction (Cohen 2008).
# --------------------------------------------------------------------------

_TRUSS_K = 3  # every surviving edge sits in >= 1 triangle (the regenerated
# testdata's weight-floored graph is too sparse for 4-trusses at sf>=0.01 —
# k=3 keeps the driver-gate attestation non-degenerate while the peel
# mechanics are k-independent)
_TRUSS_ROUNDS = 2
_TRUSS_TOPK = 30


def _truss_ctes() -> str:
    parts = ["e0 AS MATERIALIZED (SELECT u, v FROM e)"]
    for i in range(_TRUSS_ROUNDS):
        parts.append(
            f"u{i} AS MATERIALIZED (SELECT u, v FROM e{i} "
            f"UNION ALL SELECT v, u FROM e{i})"
        )
        parts.append(
            f"sup{i} AS MATERIALIZED ("
            f"SELECT t.u, t.v, CAST(COUNT(*) AS BIGINT) AS s "
            f"FROM e{i} t JOIN u{i} a ON a.u = t.u "
            f"JOIN u{i} b ON b.u = t.v AND b.v = a.v "
            f"GROUP BY t.u, t.v)"
        )
        parts.append(
            f"e{i + 1} AS MATERIALIZED (SELECT u, v FROM sup{i} "
            f"WHERE s >= {_TRUSS_K - 2})"
        )
    return ",\n".join(parts)


_TRUSS_SQL = (
    f"WITH {_ORDERED_EDGE_CTES},\n"
    + _truss_ctes()
    + f""",
undf AS (SELECT u, v FROM e{_TRUSS_ROUNDS}
         UNION ALL SELECT v, u FROM e{_TRUSS_ROUNDS})
SELECT u AS p_partkey, CAST(COUNT(*) AS BIGINT) AS truss_degree
FROM undf GROUP BY u
ORDER BY truss_degree DESC, p_partkey
LIMIT {_TRUSS_TOPK}
"""
)


@register(
    "graph_ktruss",
    _TRUSS_SQL,
    doc=f"k-truss peeling (k={_TRUSS_K}, {_TRUSS_ROUNDS} unrolled rounds) "
    "over the weight-floored co-purchase graph: per round, count each "
    "surviving edge's triangle SUPPORT (common neighbors in the current "
    "subgraph — the triangle-count wedge join re-run on a shrinking "
    "edge set) and drop edges below k-2. Edge-level cohesion strictly "
    "refines k-core's node degrees (a high-degree node whose edges "
    "close no triangles peels out here but survives k-core) — the "
    "community-core extraction of Cohen 2008. Exact integer supports, "
    "no ranking floats anywhere; edges with ZERO support vanish from "
    "the count join in both engines identically. Every oracle step CTE "
    "is AS MATERIALIZED (each e_i feeds the wedge join twice plus the "
    "filter — the round-8 CTE-inlining-explosion rule). Fixed rounds "
    "keep one Catalyst plan (the run-to-convergence form is the "
    "dedup_cluster_canonical loop shape); eager localCheckpoint per "
    "round since the loop's only action is terminal (CLAUDE.md rule). "
    "At 100 TB: support counting is the O(m^1.5)-style wedge join on "
    "edges bucketed by endpoint; each round strictly shrinks the edge "
    "set, so round cost is monotone decreasing.",
)
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir, ordered=True, w_min=_W_MIN).select("u", "v")
    cur = e
    for _ in range(_TRUSS_ROUNDS):
        und = cur.unionAll(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        a = und.select(F.col("u").alias("au"), F.col("v").alias("w"))
        b = und.select(F.col("u").alias("bu"), F.col("v").alias("bw"))
        sup = (
            cur.join(a, cur["u"] == a["au"])
            .join(b, (cur["v"] == b["bu"]) & (a["w"] == b["bw"]))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).cast("long").alias("s"))
        )
        # fixed-iteration loop with one terminal action -> eager
        # checkpoint (lazy would re-expand the wedge join per consumer)
        cur = (
            sup.filter(F.col("s") >= _TRUSS_K - 2)
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    undf = cur.unionAll(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (
        undf.groupBy(F.col("u").alias("p_partkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("truss_degree"))
        .orderBy(F.desc("truss_degree"), "p_partkey")
        .limit(_TRUSS_TOPK)
    )


# --------------------------------------------------------------------------
# One Louvain refinement sweep over the LPA labels — exact integer
# modularity gains, synchronous moves (deterministic, unlike sequential
# Louvain), before/after modularity in exact 4m² fixed point.
# --------------------------------------------------------------------------

_LOUVAIN_SQL = (
    "WITH "
    + _LPA_CTES
    + f""",
labs AS MATERIALIZED (SELECT id, lab FROM l{_LPA_ITERS}),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM s),
deg AS MATERIALIZED (
  SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS d FROM bid GROUP BY u),
tot AS MATERIALIZED (
  SELECT labs.lab, CAST(SUM(deg.d) AS BIGINT) AS t
  FROM deg JOIN labs ON deg.id = labs.id GROUP BY labs.lab),
k AS MATERIALIZED (
  SELECT e.u AS id, lv.lab AS c, CAST(COUNT(*) AS BIGINT) AS k
  FROM bid e JOIN labs lv ON lv.id = e.v GROUP BY e.u, lv.lab),
base AS MATERIALIZED (
  SELECT n.id, lo.lab AS own, deg.d,
         COALESCE(ko.k, 0) AS k_own, to_.t AS t_own
  FROM nodes n
  JOIN labs lo ON lo.id = n.id
  JOIN deg ON deg.id = n.id
  JOIN tot to_ ON to_.lab = lo.lab
  LEFT JOIN k ko ON ko.id = n.id AND ko.c = lo.lab),
gains AS (
  SELECT b.id, b.own, k.c,
         2 * m.m * (k.k - b.k_own) - b.d * (tc.t - b.t_own + b.d) AS gain
  FROM base b
  JOIN k ON k.id = b.id AND k.c <> b.own
  JOIN tot tc ON tc.lab = k.c
  CROSS JOIN m),
best AS (
  SELECT id, c AS new_lab FROM (
    SELECT id, c, gain,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY gain DESC, c) AS rn
    FROM gains WHERE gain > 0) WHERE rn = 1),
after AS MATERIALIZED (
  SELECT b.id, b.own AS old_lab, COALESCE(best.new_lab, b.own) AS lab
  FROM base b LEFT JOIN best ON best.id = b.id),
q_before AS (
  SELECT CAST(SUM(x) AS BIGINT) AS q FROM (
    SELECT 4 * m.m * CAST(COUNT(*) AS BIGINT) AS x
    FROM s JOIN labs la ON s.u = la.id JOIN labs lb ON s.v = lb.id
    CROSS JOIN m WHERE la.lab = lb.lab GROUP BY m.m
    UNION ALL
    SELECT -SUM(t * t) FROM tot)),
tot2 AS (
  SELECT a.lab, CAST(SUM(deg.d) AS BIGINT) AS t
  FROM deg JOIN after a ON deg.id = a.id GROUP BY a.lab),
q_after AS (
  SELECT CAST(SUM(x) AS BIGINT) AS q FROM (
    SELECT 4 * m.m * CAST(COUNT(*) AS BIGINT) AS x
    FROM s JOIN after la ON s.u = la.id JOIN after lb ON s.v = lb.id
    CROSS JOIN m WHERE la.lab = lb.lab GROUP BY m.m
    UNION ALL
    SELECT -SUM(t * t) FROM tot2))
SELECT m.m AS m_edges,
       (SELECT CAST(COUNT(DISTINCT lab) AS BIGINT) FROM labs) AS n_comm_before,
       (SELECT CAST(COUNT(DISTINCT lab) AS BIGINT) FROM after) AS n_comm_after,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM after WHERE lab <> old_lab) AS n_moves,
       (SELECT q FROM q_before) AS q4m2_before,
       (SELECT q FROM q_after) AS q4m2_after,
       ROUND(CAST((SELECT q FROM q_before) AS DOUBLE)
             / (4.0 * CAST(m.m AS DOUBLE) * CAST(m.m AS DOUBLE)), 6) AS q_before,
       ROUND(CAST((SELECT q FROM q_after) AS DOUBLE)
             / (4.0 * CAST(m.m AS DOUBLE) * CAST(m.m AS DOUBLE)), 6) AS q_after
FROM m
"""
)


@register(
    "graph_louvain_refine",
    _LOUVAIN_SQL,
    doc="One synchronous Louvain refinement sweep over the deterministic "
    "3-round LPA labels (graph_modularity_lpa's partition) on the "
    "weight>=2 co-purchase graph: every node evaluates the standard "
    "Louvain modularity gain of moving to each NEIGHBOR community — "
    "gain x 2m² = 2m(k_iC − k_i,own) − d_i(Σtot_C − Σtot_own + d_i), "
    "an exact BIGINT — and moves iff the best gain is strictly "
    "positive (tiebreak: smallest community id). All nodes move "
    "simultaneously against the pre-sweep configuration, which makes "
    "the sweep deterministic and cross-engine reproducible where "
    "sequential Louvain's visit order is not (documented semantic "
    "difference; a synchronous sweep can overshoot, so the after-"
    "modularity is reported, not assumed improved). Modularity is "
    "exact fixed point: Q·4m² = Σ_c(4m·e_c − d_c²), a pure BIGINT "
    "hash-checkable in both engines, divided by 4m² only at the final "
    "projection. At 100 TB: degree/total/neighbor-community frames "
    "are the standard Pregel joins (one shuffle each); gains are one "
    "join of the node-community edge counts against community totals; "
    "no iteration beyond the fixed LPA rounds.",
)
def graph_louvain_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir, ordered=True, w_min=2)
    bid = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    base_n = track(bid.select(F.col("u").alias("id")).distinct().persist())
    nodes = base_n.coalesce(_size_parts(base_n.count()))
    labels = nodes.select("id", F.col("id").alias("lab"))
    for _ in range(_LPA_ITERS):
        # NO broadcast hints here, deliberately: interleaved A/Bs at
        # sf0.1 (r12) measured the forced per-round broadcast neutral to
        # slightly slower than letting AQE plan the tiny label-side
        # shuffles on this w>=2-floored graph — unlike katz, whose
        # unfloored 2.4M-edge join genuinely saves a shuffle per round;
        # here the hint only adds a driver collect per iteration
        cand = (
            bid.join(labels.select(F.col("id").alias("v"), "lab"), "v")
            .groupBy(F.col("u").alias("id"), "lab")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        pick = cand.groupBy("id").agg(
            F.expr("max_by(lab, struct(c, -lab))").alias("new_lab")
        )
        labels = nodes.join(pick, "id", "left").select(
            "id", F.coalesce("new_lab", F.col("id")).alias("lab")
        )
    # Every frame below feeds MANY downstream branches (gains, before/
    # after modularity, counts): eager localCheckpoint TRUNCATES the
    # logical plan where persist alone leaves the whole LPA lineage
    # re-expanding per branch — unchecked this query planned 13,413
    # Exchange nodes (the ml_class_prf1_report lesson). All checkpointed
    # frames are node/community-scale, i.e. bounded.
    labels = labels.coalesce(_size_parts(base_n.count())).localCheckpoint(eager=True)
    # m and deg are independent given the persisted edges: submit both
    # eager checkpoints from a small thread pool so the second job
    # back-fills the first one's straggler tail instead of queuing
    # behind it (guide §2.6 overlap; r13 A/B wins every pair). Results
    # are deterministic — concurrency only changes job scheduling.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fm = pool.submit(
            _thread_target(
                spark,
                lambda: edges.agg(
                    F.count(F.lit(1)).cast("long").alias("m")
                ).localCheckpoint(eager=True),
            )
        )
        fdeg = pool.submit(
            _thread_target(
                spark,
                lambda: bid.groupBy(F.col("u").alias("id"))
                .agg(F.count(F.lit(1)).cast("long").alias("d"))
                .coalesce(1)
                .localCheckpoint(eager=True),
            )
        )
        m = fm.result()
        deg = fdeg.result()
    tot = (
        deg.join(labels, "id")
        .groupBy("lab")
        .agg(F.sum("d").cast("long").alias("t"))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    k = (
        bid.join(labels.select(F.col("id").alias("v"), F.col("lab").alias("c")), "v")
        .groupBy(F.col("u").alias("id"), "c")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    base = (
        labels.select("id", F.col("lab").alias("own"))
        .join(deg, "id")
        .join(tot.select(F.col("lab").alias("own"), F.col("t").alias("t_own")), "own")
        .join(
            k.select("id", F.col("c").alias("own"), F.col("k").alias("k_own")),
            ["id", "own"],
            "left",
        )
        .select(
            "id", "own", "d", F.coalesce("k_own", F.lit(0)).alias("k_own"), "t_own"
        )
    )
    gains = (
        base.join(k, "id")
        .filter(F.col("c") != F.col("own"))
        .join(tot.select(F.col("lab").alias("c"), F.col("t").alias("t_c")), "c")
        .crossJoin(F.broadcast(m))
        .select(
            "id",
            "own",
            "c",
            (
                2 * F.col("m") * (F.col("k") - F.col("k_own"))
                - F.col("d") * (F.col("t_c") - F.col("t_own") + F.col("d"))
            ).alias("gain"),
        )
        .filter(F.col("gain") > 0)
    )
    best = gains.groupBy("id").agg(
        F.expr("max_by(c, struct(gain, -c))").alias("new_lab")
    )
    after = (
        labels.join(best, "id", "left")
        .select(
            "id",
            F.col("lab").alias("old_lab"),
            F.coalesce("new_lab", F.col("lab")).alias("lab"),
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )

    def _q4m2(lab_df: DataFrame, tot_df: DataFrame):
        la = lab_df.select(F.col("id").alias("u"), F.col("lab").alias("lab_u"))
        lb = lab_df.select(F.col("id").alias("v"), F.col("lab").alias("lab_v"))
        intra = (
            edges.join(F.broadcast(la), "u")
            .join(F.broadcast(lb), "v")
            .filter(F.col("lab_u") == F.col("lab_v"))
            .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
        )
        dsq = tot_df.agg(F.sum(F.col("t") * F.col("t")).cast("long").alias("dsq"))
        return (
            intra.crossJoin(F.broadcast(dsq))
            .crossJoin(F.broadcast(m))
            .select(
                (4 * F.col("m") * F.col("e_in") - F.col("dsq")).alias("q")
            )
        )

    tot2 = deg.join(after.select("id", "lab"), "id").groupBy("lab").agg(
        F.sum("d").cast("long").alias("t")
    )
    # qb and qa are independent of each other — same §2.6 overlap
    with ThreadPoolExecutor(max_workers=2) as pool:
        fqb = pool.submit(
            _thread_target(
                spark, lambda: _q4m2(labels, tot).localCheckpoint(eager=True)
            )
        )
        fqa = pool.submit(
            _thread_target(
                spark,
                lambda: _q4m2(after.select("id", "lab"), tot2).localCheckpoint(eager=True),
            )
        )
        qb = fqb.result()
        qa = fqa.result()
    ncb = labels.agg(F.countDistinct("lab").cast("long").alias("n_comm_before"))
    nca = after.agg(F.countDistinct("lab").cast("long").alias("n_comm_after"))
    nmv = after.filter(F.col("lab") != F.col("old_lab")).agg(
        F.count(F.lit(1)).cast("long").alias("n_moves")
    )
    mm = F.col("m").cast("double")
    return (
        m.crossJoin(F.broadcast(ncb))
        .crossJoin(F.broadcast(nca))
        .crossJoin(F.broadcast(nmv))
        .crossJoin(F.broadcast(qb.select(F.col("q").alias("q4m2_before"))))
        .crossJoin(F.broadcast(qa.select(F.col("q").alias("q4m2_after"))))
        .select(
            F.col("m").alias("m_edges"),
            "n_comm_before",
            "n_comm_after",
            "n_moves",
            "q4m2_before",
            "q4m2_after",
            F.round(F.col("q4m2_before").cast("double") / (4.0 * mm * mm), 6).alias(
                "q_before"
            ),
            F.round(F.col("q4m2_after").cast("double") / (4.0 * mm * mm), 6).alias(
                "q_after"
            ),
        )
    )


# --------------------------------------------------------------------------
# Adamic-Adar link prediction (r12): common-neighbor score with inverse-
# log-degree weighting over the co-purchase graph.
# --------------------------------------------------------------------------

_AA_TOPK = 50
_AA_WSCALE = 1_000_000_000_000  # fixed-point scale of 1/ln(deg)

_AA_ORACLE = f"""
WITH {_ORDERED_EDGE_CTES},
sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
deg AS (
  SELECT u AS z, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
wz AS (
  SELECT z, d,
         {_AA_WSCALE} // CAST(ROUND(ln(CAST(d AS DOUBLE)) * 1000000, 0)
                              AS BIGINT) AS w
  FROM deg WHERE d >= 2),
wed AS (
  SELECT s1.v AS a, s2.v AS b, s1.u AS z
  FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v),
pairs AS (
  SELECT wed.a, wed.b,
         CAST(count(*) AS BIGINT) AS n_common,
         CAST(SUM(wz.w) AS BIGINT) AS aa_fp
  FROM wed JOIN wz ON wed.z = wz.z
  GROUP BY wed.a, wed.b),
nonadj AS (
  SELECT p.* FROM pairs p
  LEFT JOIN e ON e.u = p.a AND e.v = p.b
  WHERE e.u IS NULL)
SELECT a AS part_a, b AS part_b, n_common, aa_fp,
       ROUND(CAST(aa_fp AS DOUBLE) / {_AA_WSCALE}, 4) AS aa_score, pos
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY aa_fp DESC, a, b) AS BIGINT)
              AS pos
  FROM nonadj)
WHERE pos <= {_AA_TOPK}
ORDER BY pos
"""


@register(
    "graph_adamic_adar",
    _AA_ORACLE,
    doc="Adamic-Adar link prediction over the weight-floored co-purchase "
    "graph: for every non-adjacent part pair sharing >= 1 common "
    "neighbor, score = sum over common neighbors z of 1/ln(deg(z)) — "
    "rare shared neighbors say more than popular ones. The per-node "
    "weight is fixed-point: ln on the exact integer degree rounded to "
    f"1e-6 immediately (the text_zipf_fit ln rule), then {_AA_WSCALE} "
    "DIV that — so pair scores are exact integer sums and the top-"
    f"{_AA_TOPK} ranking (score DESC, pair tiebreak) is hash-stable. "
    "Spark: ONE wedge self-join of the persisted symmetric edge list "
    "(shuffle on the hub node z), weight attached map-side via a "
    "broadcast of the node-scale degree table, anti-join drops existing "
    "edges. At 100 TB the wedge volume is sum(deg^2) — the known "
    "skew-hazard shape; hub nodes are exactly the low-information ones, "
    "so a production run caps deg (drop z above a ceiling, bounding "
    "both skew and noise) — the w>=2 floor plays that role here.",
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _copurchase_edges(spark, sf_dir, ordered=True, w_min=_W_MIN)
    sym = e.select("u", "v").union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("z")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    wz = deg.filter(F.col("d") >= 2).select(
        "z",
        F.expr(
            f"{_AA_WSCALE} DIV CAST(ROUND(ln(CAST(d AS DOUBLE)) * 1000000, 0)"
            " AS BIGINT)"
        ).alias("w"),
    )
    s1 = sym.select(F.col("u").alias("z"), F.col("v").alias("a"))
    s2 = sym.select(F.col("u").alias("z"), F.col("v").alias("b"))
    wed = s1.join(s2, "z").filter(F.col("a") < F.col("b"))
    pairs = (
        wed.join(F.broadcast(wz), "z")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("w").cast("long").alias("aa_fp"),
        )
    )
    nonadj = pairs.join(
        e, (pairs.a == e.u) & (pairs.b == e.v), "left_anti"
    )
    w = Window.orderBy(F.desc("aa_fp"), "a", "b")
    top = nonadj.orderBy(F.desc("aa_fp"), "a", "b").limit(_AA_TOPK)
    return top.select(
        F.col("a").alias("part_a"),
        F.col("b").alias("part_b"),
        "n_common",
        "aa_fp",
        F.round(F.col("aa_fp").cast("double") / _AA_WSCALE, 4).alias("aa_score"),
        F.row_number().over(w).cast("long").alias("pos"),
    ).orderBy("pos")
