"""Graph analytics over relations the fixtures imply: market-basket
co-occurrence, triangle counting, and PageRank on the nation-level trade
graph. The reference moves these tables (`handler/Handler.java:27-55`);
a graph layer is what reveals the structure inside them — and each of
these is a bounded-fan-out relational dataflow, not a vertex-program
framework: Catalyst sees plain joins/aggregates and optimizes them like
any other plan.

Exactness discipline: all three operators are integer-exact end to end.
Co-occurrence and triangle counts are BIGINT aggregates; PageRank runs
entirely in a scaled-integer lane (ranks x 1e9) with explicit floor
divisions, so there is no float accumulation anywhere and both engines
rank identical integers. (Spark's ``div`` truncates toward zero while
DuckDB's ``//`` floors — identical on the non-negative operands used
here; the docstrings pin that precondition.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cpt_database_sync_spark.operators import lanes
from cpt_database_sync_spark.plans.registry import register
from cpt_database_sync_spark.session import bounded_cache, local_frame
from cpt_database_sync_spark.sources.tables import load, table_rowcount

# Minimum absolute support for a reported co-occurrence pair.
MIN_SUPPORT = 3
# Edge threshold for the co-order graph: pairs seen in >= 2 orders.
EDGE_MIN_COOCCUR = 2
# PageRank fixed point: ranks scaled by 1e9, damping 0.85, 3 rounds.
PR_SCALE = 1_000_000_000
PR_ROUNDS = 3
# BFS: source nation key and the hop bound (the 25-node trade graph's
# diameter is ~2; 4 bounds any fixture while keeping the oracle's
# path-enumeration recursion finite). Nation 3 is a supplier (= has
# out-edges) at every fixture SF; nation 0 has no suppliers at sf0.001,
# which would make every hop NULL and exercise nothing.
BFS_SOURCE_NATION = 3
BFS_MAX_HOPS = 4

def _iteration_edges(edges: DataFrame, key: str, n_nodes: int):
    """Dispatch for the per-round iterate⋈edges join: returns
    (edges', joiner) where joiner(iterate_keyed) performs the round's
    join. Up to ``lanes`` "graph_bcast_node" ``n_nodes`` (the nation
    footer count) the iterate relation (ranks / distances, one row per
    node) is broadcast. Above it the edges are hash-partitioned on the
    join key ONCE (checkpointed, so the partitioning survives every
    round) and each round shuffles only the node-sized iterate relation
    to meet them. Both forms are the same relational join; only the
    physical exchange flips."""
    if not lanes.exceeds("graph_bcast_node", n_nodes):
        return edges, lambda it: edges.join(F.broadcast(it), key)
    eco = edges.repartition(key).localCheckpoint(eager=True)
    # SHUFFLE_HASH pin: above the ceiling the iterate relation must NOT
    # be broadcast, but size estimates around checkpoint cuts are
    # unreliable (LogicalRDD defaults huge, a filtered derivative can
    # estimate tiny) — the explicit hint makes the co-partitioned form
    # deterministic: per-partition hash build of the (smaller) iterate
    # side against the pre-partitioned edges, no sort, no broadcast.
    return eco, lambda it: eco.join(it.hint("shuffle_hash"), key)


# Below ``lanes`` "graph_driver_edge" the ITERATION of the loop-shaped
# graph ops (pagerank, CC, BFS, shortest path, LPA) solves on the
# driver over the collected aggregated edge relation instead of as
# per-round join+agg jobs. The fact-scale work — the 4-way
# lineitem⋈orders⋈supplier⋈customer rollup — ALWAYS runs distributed
# (`_trade_flows`); what moves to the driver is only the ≤|nodes|²
# AGGREGATED edge list. At nation scale (≤ 625 edges) the distributed
# loop's 3-5 rounds × 2-3 jobs cost 0.7-2.3 s per operator for
# microseconds of arithmetic. All lanes are bit-identical: the loop
# bodies are exact integer expressions replicated verbatim (floor div
# on non-negative operands ≡ Python //).
_FLOWS_ROWS_MEMO: list = []  # [flows_frame, ceiling, rows-or-None]


def _flows_literal(flows: DataFrame):
    """Collected (src, dst, w) triples of the aggregated trade-edge
    relation when it fits under ``lanes`` "graph_driver_edge"; None
    when it doesn't (the distributed loop lane must run). Memoized on
    the frame's identity and the ceiling — ``_trade_flows``'s
    checkpoint memo entry hands every consumer the SAME checkpointed
    frame, so the probe job runs once per session, not once per
    operator call."""
    ceiling = lanes.CEILINGS["graph_driver_edge"]
    if _FLOWS_ROWS_MEMO and _FLOWS_ROWS_MEMO[0] is flows and (
        _FLOWS_ROWS_MEMO[1] == ceiling
    ):
        return _FLOWS_ROWS_MEMO[2]
    probe = lanes.collect_within(
        "graph_driver_edge", flows.select("src", "dst", "w")
    )
    rows = None if probe is None else [(r[0], r[1], r[2]) for r in probe]
    _FLOWS_ROWS_MEMO[:] = [flows, ceiling, rows]
    return rows


def _node_rows_df(flows: DataFrame, rows, fields) -> DataFrame:
    """Small ``(node, <values...>)`` frame from driver-computed rows.
    ``fields`` is a list of ``(name, dtype-or-None, nullable)``; a None
    dtype means "same as the node column". The node dtype is copied
    from the edge relation so downstream joins see the exact
    lane-independent schema either lane produces."""
    from pyspark.sql import types as T  # noqa: PLC0415

    node_t = flows.schema["src"].dataType
    schema = T.StructType(
        [T.StructField("node", node_t, False)]
        + [T.StructField(n, t or node_t, nl) for n, t, nl in fields]
    )
    return local_frame(
        flows.sparkSession, sorted(rows, key=lambda r: r[0]), schema
    )


def _pagerank_driver(flows: DataFrame, rows) -> DataFrame:
    """Driver lane for the PageRank iteration (see ``_flows_literal``):
    the IDENTICAL scaled-integer fixed point — every expression below
    mirrors the distributed loop verbatim and Python ``//`` ≡ Spark
    ``div`` on these non-negative operands, so the lanes are
    bit-identical."""
    nodes = sorted({s for s, _, _ in rows} | {d for _, d, _ in rows})
    ranks: dict = {}
    if nodes:
        n = len(nodes)
        wout: dict = {}
        for s, _, w in rows:
            wout[s] = wout.get(s, 0) + w
        p = [(s, d, (w * PR_SCALE) // wout[s]) for s, d, w in rows]
        r = {v: PR_SCALE // n for v in nodes}
        for _ in range(PR_ROUNDS):
            inflow: dict = {}
            for s, d, pp in p:
                c = (((r[s] * pp) // PR_SCALE) * 85) // 100
                inflow[d] = inflow.get(d, 0) + c
            r = {v: 150_000_000 // n + inflow.get(v, 0) for v in nodes}
        ranks = r
    from pyspark.sql import types as T  # noqa: PLC0415

    return _node_rows_df(
        flows, list(ranks.items()), [("r", T.LongType(), False)]
    )


def _cc_nations_driver(flows: DataFrame, rows) -> DataFrame:
    """Driver lane for the strong-component solve: same strong-edge
    filter (w·3 ≥ max_w·2, exact ints), min-label fixed point via
    path-compressed union-find — the distributed pointer-jumping loop's
    proven-converged fixed point, computed directly."""
    nodes = sorted({s for s, _, _ in rows} | {d for _, d, _ in rows})
    comp: dict = {}
    if nodes:
        mw = max(w for _, _, w in rows)
        parent = {v: v for v in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for s, d, w in rows:
            if w * 3 >= mw * 2:
                rs, rd = find(s), find(d)
                if rs != rd:
                    parent[rs] = rd
        groups: dict = {}
        for v in nodes:
            groups.setdefault(find(v), []).append(v)
        for members in groups.values():
            m = min(members)
            for v in members:
                comp[v] = m
    from pyspark.sql import types as T  # noqa: PLC0415

    csize: dict = {}
    for c in comp.values():
        csize[c] = csize.get(c, 0) + 1
    return _node_rows_df(
        flows,
        [(v, c, csize[c]) for v, c in comp.items()],
        [("comp", None, False), ("comp_size", T.LongType(), False)],
    )


def _bfs_driver(flows: DataFrame, rows) -> DataFrame:
    """Driver lane for the BFS frontier loop: identical per-round
    expansion (dedup per round, visited nodes never relabel) from
    ``BFS_SOURCE_NATION``, hop labels exact ints."""
    adj: dict = {}
    nodes = set()
    for s, d, _ in rows:
        adj.setdefault(s, set()).add(d)
        nodes.add(s)
        nodes.add(d)
    hops: dict = {}
    if BFS_SOURCE_NATION in nodes:
        hops[BFS_SOURCE_NATION] = 0
        frontier = [BFS_SOURCE_NATION]
        for k in range(1, BFS_MAX_HOPS + 1):
            nxt = {d for u in frontier for d in adj.get(u, ())} - hops.keys()
            for v in nxt:
                hops[v] = k
            frontier = list(nxt)
    from pyspark.sql import types as T  # noqa: PLC0415

    return _node_rows_df(
        flows,
        [(v, hops.get(v)) for v in nodes],
        [("hops", T.IntegerType(), True)],
    )


def _sp_driver(flows: DataFrame, rows) -> DataFrame:
    """Driver lane for the Bellman-Ford relaxation: identical
    SP_MAX_EDGES rounds of relax + min-merge, costs the same exact
    BIGINT expression (SP_COST_NUM // w + 1)."""
    edges = [(s, d, SP_COST_NUM // w + 1) for s, d, w in rows]
    nodes = {s for s, _, _ in rows} | {d for _, d, _ in rows}
    dist: dict = {}
    if SP_SOURCE_NATION in nodes:
        dist = {SP_SOURCE_NATION: 0}
        for _ in range(SP_MAX_EDGES):
            relaxed: dict = {}
            for s, d, c in edges:
                if s in dist:
                    nd = dist[s] + c
                    if d not in relaxed or nd < relaxed[d]:
                        relaxed[d] = nd
            for v, nd in relaxed.items():
                if v not in dist or nd < dist[v]:
                    dist[v] = nd
    from pyspark.sql import types as T  # noqa: PLC0415

    return _node_rows_df(
        flows,
        [(v, dist.get(v)) for v in sorted(nodes)],
        [("d", T.LongType(), True)],
    )


def _lpa_driver(flows: DataFrame, rows) -> DataFrame:
    """Driver lane for synchronous weighted label propagation: identical
    symmetrized-weight build (self-loops excluded), per-round
    (ws DESC, lab ASC) argmax — the same total order as the distributed
    MIN(struct(-ws, lab)) — LPA_ROUNDS fixed rounds, isolated nodes keep
    their label."""
    nodes = sorted({s for s, _, _ in rows} | {d for _, d, _ in rows})
    eu: dict = {}
    for s, d, w in rows:
        if s == d:
            continue
        eu[(s, d)] = eu.get((s, d), 0) + w
        eu[(d, s)] = eu.get((d, s), 0) + w
    lab = {v: v for v in nodes}
    for _ in range(LPA_ROUNDS):
        ws: dict = {}
        for (s, d), w in eu.items():
            k = (d, lab[s])
            ws[k] = ws.get(k, 0) + w
        pick: dict = {}
        for (node, lb), v in ws.items():
            key = (-v, lb)
            if node not in pick or key < pick[node]:
                pick[node] = key
        lab = {v: (pick[v][1] if v in pick else lab[v]) for v in nodes}
    from pyspark.sql import types as T  # noqa: PLC0415

    csize: dict = {}
    for lb in lab.values():
        csize[lb] = csize.get(lb, 0) + 1
    return _node_rows_df(
        flows,
        [(v, lb, csize[lb]) for v, lb in lab.items()],
        [("lab", None, False), ("csize", T.LongType(), False)],
    )


_OP_CTE = """
    op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
"""


def _pair_sets(li: DataFrame) -> DataFrame:
    """Distinct (order, part) pairs — the transaction/item incidence.

    NULL l_orderkey rows are dropped to match the oracle's equi-self-join
    (a.ok = b.ok never matches NULL): without the filter, groupBy would
    fuse every NULL-key row into ONE phantom basket and mint pairs the
    oracle never counts. NULL l_partkey needs no filter — collect_set
    skips NULLs exactly where the oracle's a.pk < b.pk drops them.

    Checkpoint-memoized (r13, guide §2.4): the incidence feeds the pair
    build PLUS the per-item supports and order totals of
    ``frequent_pairs``/``assoc_rules`` — before the memo each consumer
    re-scanned lineitem and re-paid the distinct exchange, every call.
    """
    return bounded_cache(
        "graph.pair_sets",
        li.filter(F.col("l_orderkey").isNotNull())
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct(),
        checkpoint=True,
    )


def _cooccur_pairs(li: DataFrame) -> DataFrame:
    """Per-pair co-order counts via in-order HOF pair expansion.

    One shuffle builds the per-order sorted item set (collect_set is
    map-side combined); pair generation is a per-row higher-order
    transform whose fan-out is C(items_in_order, 2) — bounded by the
    order size (<= C(13,2) = 78 here), never by the corpus. The pair
    count aggregation is the second (and last) shuffle, map-side
    combined on (pa, pb). The self-join formulation computes the same
    thing but shuffles the incidence twice AND loses the combine on
    skewed pairs; the HOF path is the 100 TB shape.

    Checkpoint-memoized (r13, guide §2.4): five operators consume this
    relation (frequent_pairs, assoc_rules, triangle_count,
    local_clustering, jaccard_neighbors) — before the memo each of them
    re-ran the incidence scan + HOF expansion + pair-count shuffle on
    every invocation; now the first caller in a session builds it and
    the rest filter the materialized |pairs| relation.
    """
    sets = _pair_sets(li).groupBy("ok").agg(
        F.array_sort(F.collect_set("pk")).alias("items")
    )
    items = F.col("items")
    pairs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.size(items)),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    return bounded_cache(
        "graph.cooccur_pairs",
        sets.select(F.explode(pairs).alias("pr"))
        .select(F.col("pr.pa").alias("pa"), F.col("pr.pb").alias("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("cnt")),
        checkpoint=True,
    )


@register(
    "frequent_pairs",
    oracle=f"""
    WITH {_OP_CTE},
    n AS (SELECT count(DISTINCT ok) AS n_orders FROM op),
    p AS (
      SELECT a.pk AS pa, b.pk AS pb, count(*) AS cnt
      FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
      HAVING count(*) >= {MIN_SUPPORT}
    )
    SELECT pa AS part_a, pb AS part_b, CAST(cnt AS BIGINT) AS cnt,
           round(CAST(cnt AS DOUBLE) / (SELECT n_orders FROM n), 9) AS support
    FROM p
    """,
)
def frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent item PAIRS (the 2-itemset pass of A-priori / market
    basket): parts co-ordered in >= MIN_SUPPORT orders, with relative
    support — the "bought together" primitive behind recommendations
    and cross-sell dashboards.

    Counts are exact BIGINTs; support is one exact-int / exact-int
    double division (correctly rounded identically on both engines).
    The oracle states the same pairs as a relational self-join — the
    HOF expansion and the a.pk < b.pk join are provably the same set
    because items are expanded from a SORTED distinct array.

    Physics: see _cooccur_pairs — two map-side-combined shuffles total,
    per-row fan-out bounded by order width, the grand order count joins
    as a one-row broadcast. No all-pairs surface exists: a part pair is
    only ever materialized inside an order that contains both.
    """
    li = load(spark, sf_dir, "lineitem")
    pairs = _cooccur_pairs(li).filter(F.col("cnt") >= MIN_SUPPORT)
    n_orders = _pair_sets(li).agg(
        F.countDistinct("ok").alias("n_orders")
    )
    return pairs.crossJoin(F.broadcast(n_orders)).select(
        F.col("pa").alias("part_a"),
        F.col("pb").alias("part_b"),
        F.col("cnt").cast("long").alias("cnt"),
        F.round(
            F.try_divide(F.col("cnt").cast("double"), F.col("n_orders")), 9
        ).alias("support"),
    )


@register(
    "triangle_count",
    oracle=f"""
    WITH {_OP_CTE},
    e AS (
      SELECT a.pk AS pa, b.pk AS pb
      FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
      HAVING count(*) >= {EDGE_MIN_COOCCUR}
    ),
    w AS (
      SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
      FROM e e1 JOIN e e2 ON e2.pa = e1.pb
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_wedges,
           (SELECT CAST(count(*) AS BIGINT)
              FROM w JOIN e e3 ON e3.pa = w.a AND e3.pb = w.c) AS n_triangles
    """,
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-order part graph (edges = part pairs
    co-ordered >= EDGE_MIN_COOCCUR times): edge, ORIENTED wedge, and
    triangle counts — the clustering-structure summary of the
    co-purchase network. n_wedges counts a<b<c oriented paths (the
    algorithm's own work measure, each triangle closed from exactly one
    of them) — NOT the unordered open-triad count sum(C(deg(v),2)), so
    the textbook global clustering coefficient 3T/W needs that degree
    sum, not this column.

    The classic oriented-join algorithm: edges are stored once in
    canonical pa < pb orientation, so each triangle a<b<c is produced
    by EXACTLY one wedge (a,b)+(b,c) closed by exactly one edge (a,c)
    — count, no dedup, no multiplicity-3 correction. Orientation by ID
    bounds wedge work by sum(indeg*outdeg); at 100 TB with heavy-tailed
    degrees, re-orient by (degree, id) instead — same plan shape, the
    wedge count drops to O(m * arboricity) (the standard skew fix; the
    fixture graph is near-uniform so ID orientation is already tight).
    All three outputs are exact integer aggregates.

    Physics: the edge list is built by the bounded-fan-out HOF pass
    (one combine-shuffled count), then two self-equi-joins on single
    part keys — shuffle-partitioned joins whose inputs are the EDGE
    relation (thresholded, far smaller than the incidence), never the
    raw lineitem. Global counts are one-row aggregates.
    """
    li = load(spark, sf_dir, "lineitem")
    # The thresholded edge relation feeds five consumers (three join
    # legs + two counts); the memoized pair relation is already an
    # ExistingRDD barrier, so the filter over it is all each consumer
    # re-evaluates — the incidence pass over lineitem runs once per
    # session, not per consumer or per call (r13).
    edges = (
        _cooccur_pairs(li)
        .filter(F.col("cnt") >= EDGE_MIN_COOCCUR)
        .select("pa", "pb")
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    wedges = e1.join(e2, F.col("e1.pb") == F.col("e2.pa")).select(
        F.col("e1.pa").alias("a"), F.col("e1.pb").alias("b"), F.col("e2.pb").alias("c")
    )
    e3 = edges.alias("e3")
    tri = wedges.join(
        e3, (F.col("e3.pa") == F.col("a")) & (F.col("e3.pb") == F.col("c"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_wedges = wedges.agg(F.count(F.lit(1)).cast("long").alias("n_wedges"))
    n_tri = tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    return n_edges.crossJoin(n_wedges).crossJoin(n_tri)


def _trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nation-level trade edge relation (src supplier nation → dst
    customer nation, weighted by lineitem count), checkpoint-materialized.

    This is the only raw-data work in the graph family that consumes it
    (pagerank, BFS): lineitem joins orders on the orderkey shuffle, then
    BROADCAST joins to the supplier/customer dimensions, aggregating to
    <= |nations|^2 weighted edges. Everything downstream reuses the edge
    relation many times (nodes, out-weights, one join per iteration), so
    lineage is cut ONCE here — without it the executed plan re-derives
    the 4-way fact join per consumer (observed in pagerank: 39 exchanges
    -> 5). Executor-local checkpoint storage scales with |edges|, not
    the corpus.

    Checkpoint-memoized (r13, guide §2.4): SEVEN operators consume this
    relation (pagerank, bfs, shortest_path, connected_components,
    label_propagation, degree_assortativity, graph_reciprocity) — before
    the memo each of them re-ran the 4-way fact join on every
    invocation; now one build per session serves the whole battery.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    supp = load(spark, sf_dir, "supplier")
    cust = load(spark, sf_dir, "customer")
    return bounded_cache(
        "graph.trade_flows",
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w")),
        checkpoint=True,
    )


_PR_EDGE_CTES = """
    flows AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey  = s.s_suppkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      GROUP BY 1, 2
    ),
    nodes AS (SELECT src AS node FROM flows UNION SELECT dst FROM flows),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM flows GROUP BY 1),
    e AS (
      SELECT f.src, f.dst, (f.w * 1000000000) // o.wout AS p
      FROM flows f JOIN outw o USING (src)
    ),
    r0 AS (SELECT node, 1000000000 // (SELECT n FROM nn) AS r FROM nodes)
"""


def _pr_iter_sql(prev: str, this: str) -> str:
    return f"""
    {this} AS (
      SELECT n.node,
             150000000 // (SELECT n FROM nn)
             + COALESCE(SUM((((r.r * e.p) // 1000000000) * 85) // 100), 0) AS r
      FROM nodes n
      LEFT JOIN e ON e.dst = n.node
      LEFT JOIN {prev} r ON r.node = e.src
      GROUP BY n.node
    )"""


_PAGERANK_SQL = (
    "WITH "
    + _PR_EDGE_CTES
    + ","
    + ",".join(_pr_iter_sql(f"r{i}", f"r{i+1}") for i in range(PR_ROUNDS))
    + f"""
    SELECT nat.n_name,
           CAST(r.r AS BIGINT) AS rank_scaled,
           round(CAST(r.r AS DOUBLE) / 1000000000, 9) AS pr
    FROM r{PR_ROUNDS} r JOIN nation nat ON nat.n_nationkey = r.node
    """
)


@register("pagerank_nations", oracle=_PAGERANK_SQL, tags=("reverify:r10",))
def pagerank_nations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PageRank over the nation-level trade graph (edge src -> dst
    weighted by lineitems a supplier nation ships into a customer
    nation): which nations the trade network structurally centers on.
    Fixed PR_ROUNDS (3) damped rounds — the standard relational
    PageRank dataflow (contributions join + re-aggregate), not a
    vertex API. Per-edge contribution is
    floor(floor(r*p / 1e9) * 85 / 100): the inner floor keeps the
    product in range (r, p <= 1e9 so r*p <= 1e18 < 2^63), the outer
    applies damping 0.85 as an exact integer step; both floors are
    part of the operator's DEFINITION and the oracle computes the
    same expression.

    Integer fixed-point throughout: ranks and transition probabilities
    live in a x1e9 scaled BIGINT lane; every division is an explicit
    floor on non-negative operands (where Spark's truncating ``div``
    and DuckDB's flooring ``//`` coincide), so three rounds of
    multiply-floor-sum are bit-identical across engines — no float sum
    order, no decimal rounding mode, nothing to canonicalize. Dangling
    mass (nations with inflow but no outflow) is dropped rather than
    redistributed — the documented variant; totals need not sum to 1.

    Physics: the edge build is the only raw-data work — lineitem joins
    orders on the orderkey shuffle, then BROADCAST joins to supplier
    and customer dimensions, aggregating to <= 25x25 weighted edges.
    Below ``lanes`` "graph_driver_edge" the rounds run on the driver
    over the collected edge list (``_pagerank_driver``). Otherwise each
    rank round is a broadcast join of a <= 25-row rank relation into
    the edge relation plus a rollup-sized re-aggregation; nothing
    iterative ever touches the fact table again. At 100 TB the same plan holds with
    the node set at catalog size (domains, ASNs, repos...) — the rank
    relation broadcasts until it is itself huge, at which point the
    join flips to a co-partitioned shuffle on node id above ``lanes``
    "graph_bcast_node" (the nation footer count is the node domain):
    the edge relation is hash-partitioned once while each round
    shuffles only the node-sized rank/contribution relations —
    bit-identical output.
    """
    flows = _trade_flows(spark, sf_dir)
    n_nodes = table_rowcount(sf_dir, "nation")
    bcast = not lanes.exceeds("graph_bcast_node", n_nodes)
    rows = _flows_literal(flows) if bcast else None
    if rows is not None:
        ranks = _pagerank_driver(flows, rows)
        nation = load(spark, sf_dir, "nation")
        return ranks.join(
            F.broadcast(nation), ranks.node == nation.n_nationkey
        ).select(
            "n_name",
            F.col("r").cast("long").alias("rank_scaled"),
            F.round(F.col("r").cast("double") / PR_SCALE, 9).alias("pr"),
        )
    nodes = (
        flows.select(F.col("src").alias("node"))
        .union(flows.select(F.col("dst").alias("node")))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    outw = flows.groupBy("src").agg(F.sum("w").alias("wout"))
    # Precondition (ADVICE r9): this product runs in the BIGINT lane, so
    # each (src,dst) weight must satisfy w < 2^63 / PR_SCALE ≈ 9.2e9 —
    # the iteration's r*p <= 1e18 bound (docstring) does NOT cover this
    # edge build. The fixture's w is a lineitem count per nation pair
    # (≤ ~2.4e8 even at sf=100k), far inside the bound; a deployment
    # whose per-edge weight can exceed ~9.2e9 rows computes p via a
    # DECIMAL(38,0) intermediate instead: ANSI mode aborts (not wraps)
    # on the overflow, so the failure is loud, not silent.
    edges = flows.join(outw, "src").select(
        "src", "dst", F.expr(f"(w * {PR_SCALE}) div wout").alias("p")
    )
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr(f"{PR_SCALE} div n").alias("r")
    )
    edges, iter_join = _iteration_edges(edges, "src", n_nodes)
    for _ in range(PR_ROUNDS):
        contrib = (
            iter_join(ranks.withColumnRenamed("node", "src"))
            .select(
                "dst",
                F.expr(f"(((r * p) div {PR_SCALE}) * 85) div 100").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nn))
            .join(
                F.broadcast(contrib) if bcast else contrib,
                nodes.node == contrib.dst,
                "left",
            )
            .select(
                "node",
                (
                    F.expr(f"150000000 div n")
                    + F.coalesce(F.col("inflow"), F.lit(0))
                ).alias("r"),
            )
        )
    nation = load(spark, sf_dir, "nation")
    return ranks.join(
        F.broadcast(nation), ranks.node == nation.n_nationkey
    ).select(
        "n_name",
        F.col("r").cast("long").alias("rank_scaled"),
        F.round(F.col("r").cast("double") / PR_SCALE, 9).alias("pr"),
    )


_BFS_SQL = f"""
    WITH RECURSIVE
    flows AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey  = s.s_suppkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      GROUP BY 1, 2
    ),
    e AS (SELECT DISTINCT src, dst FROM flows),
    -- DISTINCT-over-UNION-ALL, not bare UNION: inside WITH RECURSIVE,
    -- DuckDB 1.0 rewrites set-ops in sibling CTEs for recursion
    -- planning and a bare UNION here loses its distinct semantics.
    nodes AS (SELECT DISTINCT node FROM
              (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
    walk(node, hops) AS (
      SELECT node, 0 FROM nodes WHERE node = {BFS_SOURCE_NATION}
      UNION ALL
      SELECT e.dst, w.hops + 1
      FROM walk w JOIN e ON e.src = w.node
      WHERE w.hops < {BFS_MAX_HOPS}
    ),
    d AS (SELECT node, CAST(MIN(hops) AS INT) AS hops FROM walk GROUP BY 1)
    SELECT nat.n_name, d.hops
    FROM nodes n
    JOIN nation nat ON nat.n_nationkey = n.node
    LEFT JOIN d ON d.node = n.node
"""


def bfs_frontier(
    edges: DataFrame,
    source: int,
    max_hops: int,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """The frontier-join BFS core over an arbitrary ``(src, dst)`` edge
    relation: returns ``(node, hops)`` for every node reachable from
    ``source`` within ``max_hops`` (the source labels itself 0 when it
    appears as an endpoint of any edge). Pure dataflow — no fixture
    knowledge — so property tests can drive it on random digraphs; the
    registered ``bfs_hops`` is this core applied to the trade graph.
    A caller that already holds the node relation passes it via
    ``nodes`` so the endpoint union/distinct isn't computed twice.
    """
    e = edges.select("src", "dst").distinct()
    if nodes is None:
        nodes = (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
    reach = nodes.filter(F.col("node") == source).select(
        "node", F.lit(0).alias("hops")
    )
    frontier = reach.select("node")
    for k in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        # Materialize the round's fresh set once: it feeds both the
        # visited-set union and the next frontier, and the eager cut
        # keeps the iteration's lineage linear in rounds.
        fresh = nxt.join(reach, "node", "left_anti").localCheckpoint(eager=True)
        reach = reach.union(fresh.select("node", F.lit(k).alias("hops")))
        frontier = fresh
    return reach


@register("bfs_hops", oracle=_BFS_SQL)
def bfs_hops(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single-source BFS over the nation trade graph: minimum hop count
    from BFS_SOURCE_NATION to every node within BFS_MAX_HOPS (NULL =
    unreachable inside the bound) — the reachability primitive behind
    "how far does this supplier's influence propagate" questions, and
    the third member of the graph family (frequent_pairs = local
    structure, triangle_count = clustering, pagerank = centrality,
    BFS = distance).

    The standard relational BFS dataflow: a frontier relation expands
    through one equi-join per round against the static edge relation,
    newly-reached nodes (left-anti against the visited set) become the
    next frontier. Because expansion dedups per round and visited nodes
    never re-enter, each node is labeled exactly once with its true
    minimum hop count — the oracle states the same fixed point by
    enumerating ALL bounded paths recursively and taking MIN(hops),
    a deliberately different algorithm agreeing on exact integers.

    Physics: the edge build is the only raw-data work (shared
    `_trade_flows` checkpoint — lineitem is never rescanned by the
    iteration, gated). Each round joins a <= |nodes| frontier against a
    <= |nodes|^2 edge relation — broadcast-sized here; at catalog-scale
    node sets (domains, repos) the same plan co-partitions frontier and
    edges on src and the per-round `localCheckpoint` keeps lineage
    linear in rounds, not exponential. Hop labels are exact integers;
    there is no float, no tie, no ordering sensitivity anywhere.
    """
    flows = _trade_flows(spark, sf_dir)
    # Same node gate as the four sibling loops: above the node ceiling
    # the edge probe is skipped and BFS runs distributed with the rest.
    n_nodes = table_rowcount(sf_dir, "nation")
    bcast = not lanes.exceeds("graph_bcast_node", n_nodes)
    rows = _flows_literal(flows) if bcast else None
    if rows is not None:
        hops = _bfs_driver(flows, rows)
        nation = load(spark, sf_dir, "nation")
        return hops.join(
            F.broadcast(nation), hops.node == nation.n_nationkey
        ).select("n_name", F.col("hops").cast("int").alias("hops"))
    e = flows.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    reach = bfs_frontier(e, BFS_SOURCE_NATION, BFS_MAX_HOPS, nodes=nodes)
    nation = load(spark, sf_dir, "nation")
    # Alias the visited-set key: nodes and reach share lineage (both
    # descend from the edge relation), so a name-keyed join would trip
    # the ambiguous-self-join analyzer; a fresh attribute id doesn't.
    dist = reach.select(F.col("node").alias("dnode"), "hops")
    return (
        nodes.join(F.broadcast(nation), nodes.node == nation.n_nationkey)
        .join(F.broadcast(dist), F.col("node") == F.col("dnode"), "left")
        .select("n_name", F.col("hops").cast("int").alias("hops"))
    )


# Weighted shortest path: cost of an edge is INVERSE trade volume
# (heavily-traded lanes are "close"), kept integer-exact as
# SP_COST_NUM div w + 1 (the +1 makes every cost strictly positive, so
# path costs strictly grow with hop count and relaxation terminates).
# SP_MAX_EDGES bounds path length, the BFS_MAX_HOPS discipline: the
# dense trade graph's diameter is ~2, so 4 relaxation rounds are exact
# for every reachable node at any fixture SF while keeping the oracle's
# unrolled iteration finite.
SP_COST_NUM = 1_000_000_000
SP_MAX_EDGES = 4
SP_SOURCE_NATION = BFS_SOURCE_NATION

_SP_EDGE_CTES = f"""
    flows AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey  = s.s_suppkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      GROUP BY 1, 2
    ),
    nodes AS (SELECT src AS node FROM flows UNION SELECT dst FROM flows),
    e AS (
      SELECT src, dst, ({SP_COST_NUM} // w) + 1 AS cost FROM flows
    ),
    d0 AS (SELECT CAST({SP_SOURCE_NATION} AS BIGINT) AS node,
                  CAST(0 AS BIGINT) AS d)
"""


def _sp_iter_sql(prev: str, this: str) -> str:
    return f"""
    {this} AS (
      SELECT node, MIN(d) AS d FROM (
        SELECT node, d FROM {prev}
        UNION ALL
        SELECT e.dst AS node, p.d + e.cost AS d
        FROM {prev} p JOIN e ON e.src = p.node
      ) GROUP BY node
    )"""


_SHORTEST_PATH_SQL = (
    "WITH "
    + _SP_EDGE_CTES
    + ","
    + ",".join(_sp_iter_sql(f"d{i}", f"d{i+1}") for i in range(SP_MAX_EDGES))
    + f"""
    SELECT nat.n_name, CAST(d.d AS BIGINT) AS dist
    FROM nodes n
    JOIN nation nat ON nat.n_nationkey = n.node
    LEFT JOIN d{SP_MAX_EDGES} d ON d.node = n.node
    """
)


@register("shortest_path_weighted", oracle=_SHORTEST_PATH_SQL, tags=("reverify:r10",))
def shortest_path_weighted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single-source WEIGHTED shortest path over the nation trade graph
    (Bellman-Ford relaxation), completing the graph family's distance
    axis: `bfs_hops` answers "how many hops", this answers "how cheap"
    under an inverse-volume edge cost — the supply-chain-routing shape
    (which nations can source from nation SP_SOURCE_NATION through
    high-volume lanes). NULL dist = unreachable within SP_MAX_EDGES
    edges.

    Dataflow (the `pagerank_nations` discipline): the fact joins run
    ONCE into the checkpointed ≤|nations|² edge relation; each of the
    SP_MAX_EDGES relaxation rounds is a broadcast join of the
    node-sized distance relation against the edges plus a rollup-sized
    MIN re-aggregation — distances never touch the driver, and the
    fact table is never rescanned (plan-gated alongside the other
    graph ops). Costs are exact BIGINTs (integer div of SP_COST_NUM by
    the edge weight), so MIN has no float/tie hazard and the oracle's
    unrolled-CTE iteration is bit-identical. At 100 TB the node set is
    catalog-sized (domains, ASNs, warehouses); when the distance
    relation itself outgrows broadcast, the per-round join flips to a
    co-partitioned shuffle on node id — the ``lanes``
    "graph_bcast_node" dispatch shared with PageRank: edges
    hash-partition once, each round shuffles only the node-sized
    distance relation, output bit-identical.

    Reference basis: the reference moves tables (`handler/
    Handler.java:42-55`); graph distance over the moved data is part of
    the analytics surface it never had.
    """
    flows = _trade_flows(spark, sf_dir)
    n_nodes = table_rowcount(sf_dir, "nation")
    bcast = not lanes.exceeds("graph_bcast_node", n_nodes)
    rows = _flows_literal(flows) if bcast else None
    if rows is not None:
        dist = _sp_driver(flows, rows)
        nation = load(spark, sf_dir, "nation")
        return dist.join(
            F.broadcast(nation), dist.node == nation.n_nationkey
        ).select("n_name", F.col("d").cast("long").alias("dist"))
    e = flows.select(
        "src",
        "dst",
        (F.expr(f"{SP_COST_NUM} div w") + F.lit(1)).cast("long").alias("cost"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    dist = nodes.filter(F.col("node") == SP_SOURCE_NATION).select(
        "node", F.lit(0).cast("long").alias("d")
    )
    e, iter_join = _iteration_edges(e, "src", n_nodes)
    for _ in range(SP_MAX_EDGES):
        relaxed = iter_join(dist.withColumnRenamed("node", "src")).select(
            F.col("dst").alias("node"), (F.col("d") + F.col("cost")).alias("d")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=False)
        )
    nation = load(spark, sf_dir, "nation")
    dd = dist.select(F.col("node").alias("dnode"), "d")
    return (
        nodes.join(F.broadcast(nation), nodes.node == nation.n_nationkey)
        .join(
            F.broadcast(dd) if bcast else dd,
            F.col("node") == F.col("dnode"),
            "left",
        )
        .select("n_name", F.col("d").cast("long").alias("dist"))
    )


_ASSOC_SQL = f"""
    WITH {_OP_CTE},
    n AS (SELECT count(DISTINCT ok) AS n_orders FROM op),
    -- ok IS NOT NULL mirrors _pair_sets' NULL-orderkey drop: without it
    -- the oracle's item supports would count incidence rows from the
    -- phantom NULL basket that the Spark side (and the pair self-join's
    -- a.ok = b.ok equi-match) never sees.
    ic AS (SELECT pk, count(*) AS c FROM op WHERE ok IS NOT NULL GROUP BY pk),
    p AS (
      SELECT a.pk AS pa, b.pk AS pb, count(*) AS cnt
      FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
      HAVING count(*) >= {MIN_SUPPORT}
    ),
    r AS (
      SELECT pa AS ante, pb AS cons, cnt FROM p
      UNION ALL
      SELECT pb AS ante, pa AS cons, cnt FROM p
    )
    SELECT r.ante, r.cons, CAST(r.cnt AS BIGINT) AS cnt,
           CAST(ia.c AS BIGINT) AS n_ante,
           CAST(ib.c AS BIGINT) AS n_cons,
           round(CAST(r.cnt AS DOUBLE) / ia.c, 9) AS confidence,
           round((CAST(r.cnt AS DOUBLE) * (SELECT n_orders FROM n))
                 / (CAST(ia.c AS DOUBLE) * ib.c), 9) AS lift
    FROM r
    JOIN ic ia ON ia.pk = r.ante
    JOIN ic ib ON ib.pk = r.cons
"""


@register("assoc_rules", oracle=_ASSOC_SQL, tags=("reverify:r10",))
def assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules from the frequent 2-itemsets — the step after
    `frequent_pairs` in the A-priori pipeline: each qualifying pair
    yields BOTH directed rules ante→cons with confidence = cnt(a,b) /
    cnt(a) (how often the consequent follows) and lift = cnt(a,b)·N /
    (cnt(a)·cnt(b)) (how far above independence — lift < 1 rules are
    anti-correlations a recommender must NOT surface, which is why
    confidence alone is never shipped).

    Exactness: pair/item counts are exact BIGINTs; confidence is one
    exact-int/exact-int IEEE division and lift is the identical
    double-product expression tree on both engines (products run in
    the double lane so no BIGINT overflow exists at any corpus size —
    cnt·N at 100 TB exceeds int64, doubles carry it with the same
    rounding on both sides).

    Physics: reuses `_cooccur_pairs`' two map-side-combined shuffles;
    the item-support relation adds one more combine-collapsed count over
    the (order, part) incidence. Item supports and the one-row order
    count join back as broadcasts — |parts|-sized, catalog-scale here;
    a deployment whose item dimension outgrows broadcast flips the two
    enrichment joins to co-partitioned shuffles on the part key (same
    escape hatch as PageRank's distance relation).

    Reference basis: market-basket analytics over the tables the
    reference syncs (`handler/Handler.java:27-55`); the reference itself
    has no analytics surface.
    """
    li = load(spark, sf_dir, "lineitem")
    pairs = _cooccur_pairs(li).filter(F.col("cnt") >= MIN_SUPPORT)
    ic = _pair_sets(li).groupBy("pk").agg(F.count(F.lit(1)).alias("c"))
    n_orders = _pair_sets(li).agg(F.countDistinct("ok").alias("n_orders"))
    rules = pairs.select(
        F.col("pa").alias("ante"), F.col("pb").alias("cons"), "cnt"
    ).unionByName(
        pairs.select(F.col("pb").alias("ante"), F.col("pa").alias("cons"), "cnt")
    )
    ia = ic.select(F.col("pk").alias("ante"), F.col("c").alias("n_ante"))
    ib = ic.select(F.col("pk").alias("cons"), F.col("c").alias("n_cons"))
    return (
        rules.join(F.broadcast(ia), "ante")
        .join(F.broadcast(ib), "cons")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "ante",
            "cons",
            F.col("cnt").cast("long").alias("cnt"),
            F.col("n_ante").cast("long").alias("n_ante"),
            F.col("n_cons").cast("long").alias("n_cons"),
            F.round(
                F.col("cnt").cast("double") / F.col("n_ante"), 9
            ).alias("confidence"),
            F.round(
                (F.col("cnt").cast("double") * F.col("n_orders"))
                / (F.col("n_ante").cast("double") * F.col("n_cons")),
                9,
            ).alias("lift"),
        )
    )


# Connected components: propagate+shortcut rounds. Each round first
# pulls neighbor labels one hop, then SHORTCUTS comp := label(comp)
# (pointer jumping), so label reach roughly squares per round —
# 5 rounds cover any component diameter ≤ 2^5, far past the 25-node
# nation domain's worst case (a 24-hop path). Rounds scale with
# log(diameter), never with data volume.
CC_ROUNDS = 5

_CC_SQL = f"""
    WITH RECURSIVE
    flows AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey  = s.s_suppkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      GROUP BY 1, 2
    ),
    mw AS (SELECT MAX(w) AS mw FROM flows),
    -- strong-lane edges, symmetrized; DISTINCT-over-UNION-ALL (the
    -- _BFS_SQL recursive-sibling set-op gotcha)
    eu AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM flows WHERE w * 3 >= (SELECT mw FROM mw) * 2
        UNION ALL
        SELECT dst, src FROM flows WHERE w * 3 >= (SELECT mw FROM mw) * 2
      )
    ),
    nodes AS (SELECT DISTINCT node FROM
              (SELECT src AS node FROM flows UNION ALL SELECT dst FROM flows)),
    walk(node, comp) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, w.comp FROM walk w JOIN eu e ON e.src = w.node
    ),
    lab AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node),
    sizes AS (SELECT comp, COUNT(*) AS csize FROM lab GROUP BY comp)
    SELECT nat.n_name,
           CAST(l.comp AS BIGINT) AS comp,
           CAST(s.csize AS BIGINT) AS comp_size
    FROM lab l
    JOIN sizes s USING (comp)
    JOIN nation nat ON nat.n_nationkey = l.node
"""


@register("connected_components", oracle=_CC_SQL)
def connected_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Connected components of the STRONG-lane trade graph — the graph
    family's partition primitive (`dedup_clusters` runs the same
    algorithm over near-dup candidate pairs; this is its first-class
    graph surface): keep edges carrying at least 2/3 of the maximum
    lane volume (w·3 ≥ max_w·2, pure BIGINT comparison — a RELATIVE
    threshold, so the structure is scale-free across fixture SFs),
    symmetrize, and label every nation with the smallest nation key
    reachable — the canonical min-label component id — plus the
    component size. Trade blocs, in one dataflow.

    Algorithm: min-label propagation with POINTER JUMPING — each round
    pulls neighbor labels one hop (edge join + MIN re-agg, the
    pagerank round shape) and then shortcuts comp := label(comp) (a
    node-sized self-join), so converged reach roughly squares per
    round: CC_ROUNDS = 5 provably covers any diameter ≤ 32 ≥ the
    25-node domain's worst-case path. At deployment scale rounds grow
    with log(diameter) only; the per-round joins ride the same
    ``lanes`` "graph_bcast_node" dispatch as PageRank (broadcast
    below, co-partitioned shuffle above).

    Exactness: labels are node ids (exact ints); MIN has no tie hazard;
    the oracle replays the same fixed point as a recursive CTE
    (UNION-deduped breadth expansion, then MIN per node) — iteration
    counts don't need to match because BOTH sides are at their fixed
    point: the CTE terminates when no new (node, label) pair appears,
    and 5 propagate+shortcut rounds are proven converged for the node
    domain. Isolated nodes (no strong edge) keep their own id with
    component size 1 on both sides.

    Physics: the fact is consumed once via the shared checkpointed
    ``_trade_flows`` relation; everything iterative is ≤ |nations|²
    broadcast-scale. Plan-gated with the other graph ops.

    Reference basis: the reference moves these tables
    (`handler/Handler.java:27-55`); component structure over them is
    analytics surface it never had.
    """
    flows = _trade_flows(spark, sf_dir)
    n_nodes = table_rowcount(sf_dir, "nation")
    bcast = not lanes.exceeds("graph_bcast_node", n_nodes)
    rows = _flows_literal(flows) if bcast else None
    if rows is not None:
        lab = _cc_nations_driver(flows, rows)
        nation = load(spark, sf_dir, "nation")
        return lab.join(
            F.broadcast(nation), lab.node == nation.n_nationkey
        ).select(
            "n_name",
            F.col("comp").cast("long").alias("comp"),
            F.col("comp_size").cast("long").alias("comp_size"),
        )
    mw = flows.agg(F.max("w").alias("mw"))
    strong = flows.crossJoin(F.broadcast(mw)).filter(
        F.col("w") * 3 >= F.col("mw") * 2
    )
    und = strong.select("src", "dst").unionByName(
        strong.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    nodes = (
        flows.select(F.col("src").alias("node"))
        .union(flows.select(F.col("dst").alias("node")))
        .distinct()
    )
    e, iter_join = _iteration_edges(und, "src", n_nodes)
    lab = nodes.select("node", F.col("node").alias("comp"))
    for _ in range(CC_ROUNDS):
        cand = iter_join(lab.withColumnRenamed("node", "src")).select(
            F.col("dst").alias("node"), "comp"
        )
        lab = (
            lab.unionByName(cand)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        jump = lab.select(
            F.col("node").alias("jnode"), F.col("comp").alias("jcomp")
        )
        lab = (
            lab.join(
                F.broadcast(jump) if bcast else jump,
                lab.comp == F.col("jnode"),
            )
            .select("node", F.col("jcomp").alias("comp"))
            .localCheckpoint(eager=False)
        )
    sizes = lab.groupBy("comp").agg(F.count(F.lit(1)).alias("comp_size"))
    nation = load(spark, sf_dir, "nation")
    return (
        lab.join(F.broadcast(sizes) if bcast else sizes, "comp")
        .join(F.broadcast(nation), lab.node == nation.n_nationkey)
        .select(
            "n_name",
            F.col("comp").cast("long").alias("comp"),
            F.col("comp_size").cast("long").alias("comp_size"),
        )
    )


# --- Degree assortativity ---------------------------------------------------

_ASSORT_EXPR = (
    "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), CAST(0 AS DOUBLE)), 9)"
)

_ASSORT_SQL = f"""
    WITH flows AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey  = s.s_suppkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      GROUP BY 1, 2
    ),
    outd AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS od FROM flows GROUP BY 1),
    ind  AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS id_ FROM flows GROUP BY 1),
    j AS (
      SELECT o.od AS x, i.id_ AS y
      FROM flows f
      JOIN outd o ON o.src = f.src
      JOIN ind  i ON i.dst = f.dst
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(y * y) AS DECIMAL(38,0)) AS syy,
             CAST(SUM(x * y) AS DECIMAL(38,0)) AS sxy
      FROM j
    )
    SELECT n AS n_edges, {_ASSORT_EXPR} AS assortativity
    FROM m
"""


@register("degree_assortativity", oracle=_ASSORT_SQL)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed degree assortativity of the nation trade graph: the
    Pearson correlation, over EDGES, of the source's out-degree with
    the destination's in-degree — do high-fan-out exporters ship to
    high-fan-in importers (r > 0, assortative hub-to-hub mixing) or to
    the periphery (r < 0, disassortative — the shape of most real
    trade/infrastructure graphs)? The one-number mixing diagnostic
    that tells a partitioner whether hub-salting will be needed before
    the iterative ops (pagerank/CC) run.

    Degrees are unweighted distinct-edge counts (the standard Newman
    form; the w-weighted variant is the same plan with SUM(w) degrees
    — documented swap). Exactness: degrees and all six moments are
    exact BIGINT/DECIMAL(38,0) ↔ HUGEINT; the closed form is the
    shared `_SPEARMAN_EXPR` shape (operators/stats.py), one text both
    engines, round-9.

    Physics: degrees are two groupBys over the checkpointed
    `_trade_flows` relation (≤ |nations|² rows — lineitem is scanned
    once, at the checkpoint); the joins back are broadcasts of
    |nations|-row degree relations; the moment fold is one row. At
    deployment scale degrees co-partition with edges on the endpoint
    key (one hash exchange each) — same plan, physical exchange flips
    (the ``_iteration_edges`` doctrine).
    """
    flows = _trade_flows(spark, sf_dir)
    outd = flows.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("od"))
    ind = flows.groupBy("dst").agg(F.count(F.lit(1)).cast("long").alias("id_"))
    j = (
        flows.join(F.broadcast(outd), "src")
        .join(F.broadcast(ind), "dst")
        .select(F.col("od").alias("x"), F.col("id_").alias("y"))
    )
    m = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    return m.select(
        F.col("n").alias("n_edges"),
        F.expr(_ASSORT_EXPR).alias("assortativity"),
    )


# --- Label propagation ------------------------------------------------------

LPA_ROUNDS = 3  # fixed synchronous rounds (oracle unrolls the same count)

# The three edge relations as BODY strings: the registered oracle
# composes them as CTEs; the sf1 step-up materializes them stepwise as
# temp tables from the SAME text (DuckDB 1.0.0 plans the double-inlined
# `flows` under eu's UNION ALL pathologically at sf1 — reproduced
# unbounded spill; see tests/stepup.py::_sf1_lpa_oracle).
_LPA_FLOWS_BODY = """
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey  = s.s_suppkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      GROUP BY 1, 2
"""

# symmetrized weighted edges, self-loops excluded (a self-loop only
# reinforces a node's own label and stalls propagation)
_LPA_EU_BODY = """
      SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
        SELECT src, dst, w FROM flows WHERE src <> dst
        UNION ALL
        SELECT dst, src, w FROM flows WHERE src <> dst
      ) GROUP BY 1, 2
"""

_LPA_NODES_BODY = """SELECT DISTINCT node FROM
              (SELECT src AS node FROM flows UNION ALL SELECT dst FROM flows)"""

_LPA_EDGE_CTES = f"""
    flows AS ({_LPA_FLOWS_BODY}),
    eu AS ({_LPA_EU_BODY}),
    nodes AS ({_LPA_NODES_BODY}),
    l0 AS (SELECT node, node AS lab FROM nodes)
"""


def _lpa_round_sql(prev: str, this: str) -> str:
    """One synchronous LPA round: each node adopts the label carrying
    the largest incident weight among its neighbours' PREVIOUS labels
    (ties -> smallest label); isolated nodes keep their label."""
    return f"""
    , {this}_f AS (
      SELECT e.dst AS node, p.lab, CAST(SUM(e.w) AS BIGINT) AS ws
      FROM eu e JOIN {prev} p ON p.node = e.src
      GROUP BY 1, 2
    ),
    {this}_p AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY ws DESC, lab ASC) AS rn
        FROM {this}_f
      ) WHERE rn = 1
    ),
    {this} AS (
      SELECT n.node, COALESCE(p.lab, prev.lab) AS lab
      FROM nodes n
      JOIN {prev} prev ON prev.node = n.node
      LEFT JOIN {this}_p p ON p.node = n.node
    )
"""


# Exposed as parts so the sf1 step-up can recompose a feasible oracle:
# DuckDB inlines the lineitem 4-way `flows` join into every unrolled
# round's `eu` reference at sf1 and spills unboundedly (reproduced:
# ~6 GB/4 min under an 8 GB cap; the round-13 disk-fill incident).
# tests/stepup.py materializes eu/nodes ONCE as temp tables from the
# same CTE text and runs the identical round chain + tail off them.
_LPA_ROUND_CHAIN = "".join(
    _lpa_round_sql(f"l{i}", f"l{i+1}") for i in range(LPA_ROUNDS)
)
_LPA_TAIL = f"""
    , sizes AS (SELECT lab, COUNT(*) AS csize FROM l{LPA_ROUNDS} GROUP BY lab)
    SELECT nat.n_name,
           CAST(l.lab AS BIGINT) AS community,
           CAST(s.csize AS BIGINT) AS community_size
    FROM l{LPA_ROUNDS} l
    JOIN sizes s USING (lab)
    JOIN nation nat ON nat.n_nationkey = l.node
"""

_LPA_SQL = "WITH " + _LPA_EDGE_CTES + _LPA_ROUND_CHAIN + _LPA_TAIL


@register("label_propagation", oracle=_LPA_SQL)
def label_propagation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Synchronous weighted label propagation over the symmetrized
    nation trade graph — community detection where `connected_
    components` only finds REACHABILITY: each round, every node adopts
    the label carrying the largest incident edge weight among its
    neighbours' previous labels (tie → smallest label, the
    determinism pin async LPA lacks), {LPA_ROUNDS} fixed rounds
    (diameter-scale for this graph; the oracle unrolls the identical
    count). Isolated nodes keep their own label. Self-loops are
    excluded (they only reinforce the incumbent label).

    Exactness: labels and weights are exact BIGINTs; the per-node
    argmax is an exact (ws DESC, lab ASC) total order — Spark realizes
    it as MIN(struct(-ws, lab)) (one partial+final agg, no window
    sort), the oracle as ROW_NUMBER over the same order; both are the
    same total order, so every round is bit-identical. COALESCE keeps
    isolated nodes.

    Physics: edges derive from the checkpointed `_trade_flows` (the
    fact join runs once); each round is one join of the node-sized
    label relation against edges + one map-side-combined (node,label)
    rollup + one argmax agg — the `_iteration_edges` broadcast ↔
    co-partitioned dispatch (``lanes`` "graph_bcast_node") decides the
    physical exchange exactly as in pagerank/CC. Round count is fixed,
    so the lineage is bounded; per-round localCheckpoint cuts it.
    """
    flows = _trade_flows(spark, sf_dir)
    n_nodes = table_rowcount(sf_dir, "nation")
    bcast = not lanes.exceeds("graph_bcast_node", n_nodes)
    rows = _flows_literal(flows) if bcast else None
    if rows is not None:
        lab = _lpa_driver(flows, rows)
        nation = load(spark, sf_dir, "nation")
        return lab.join(
            F.broadcast(nation), lab.node == nation.n_nationkey
        ).select(
            "n_name",
            F.col("lab").cast("long").alias("community"),
            F.col("csize").cast("long").alias("community_size"),
        )
    base = flows.filter(F.col("src") != F.col("dst"))
    eu = (
        base.select("src", "dst", "w")
        .unionByName(
            base.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    nodes = (
        flows.select(F.col("src").alias("node"))
        .unionByName(flows.select(F.col("dst").alias("node")))
        .distinct()
    )
    eu, iter_join = _iteration_edges(eu, "src", n_nodes)
    nodes = nodes.localCheckpoint(eager=False)
    lab = nodes.select("node", F.col("node").alias("lab"))
    for _ in range(LPA_ROUNDS):
        f = (
            iter_join(lab.withColumnRenamed("node", "src"))
            .groupBy(F.col("dst").alias("node"), "lab")
            .agg(F.sum("w").cast("long").alias("ws"))
        )
        pick = f.groupBy("node").agg(
            F.min(F.struct((-F.col("ws")).alias("nws"), F.col("lab")))
            .getField("lab")
            .alias("new_lab")
        )
        lab = (
            lab.join(
                F.broadcast(pick) if bcast else pick.hint("shuffle_hash"),
                "node",
                "left",
            )
            .select(
                "node", F.coalesce("new_lab", "lab").alias("lab")
            )
            .localCheckpoint(eager=False)
        )
    sizes = lab.groupBy("lab").agg(F.count(F.lit(1)).alias("csize"))
    nation = load(spark, sf_dir, "nation")
    return (
        lab.join(F.broadcast(sizes) if bcast else sizes, "lab")
        .join(F.broadcast(nation), lab.node == nation.n_nationkey)
        .select(
            "n_name",
            F.col("lab").cast("long").alias("community"),
            F.col("csize").cast("long").alias("community_size"),
        )
    )


# --- Local clustering coefficient -------------------------------------------

_LOCAL_CLUSTERING_SQL = f"""
    WITH {_OP_CTE},
    e AS (
      SELECT a.pk AS pa, b.pk AS pb
      FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
      HAVING count(*) >= {EDGE_MIN_COOCCUR}
    ),
    w AS (
      SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
      FROM e e1 JOIN e e2 ON e2.pa = e1.pb
    ),
    t AS (
      SELECT w.a, w.b, w.c
      FROM w JOIN e e3 ON e3.pa = w.a AND e3.pb = w.c
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
      FROM (SELECT pa AS node FROM e UNION ALL SELECT pb FROM e)
      GROUP BY 1
    ),
    tv AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
      FROM (SELECT a AS node FROM t
            UNION ALL SELECT b FROM t
            UNION ALL SELECT c FROM t)
      GROUP BY 1
    )
    SELECT d.node, d.deg,
           CAST(COALESCE(tv.n_tri, 0) AS BIGINT) AS n_tri,
           round(2 * CAST(COALESCE(tv.n_tri, 0) AS DOUBLE)
                 / NULLIF(CAST(d.deg AS DOUBLE) * (d.deg - 1),
                          CAST(0 AS DOUBLE)), 9) AS clustering
    FROM deg d LEFT JOIN tv ON tv.node = d.node
"""


@register("local_clustering", oracle=_LOCAL_CLUSTERING_SQL)
def local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node clustering coefficient of the co-order part graph —
    the LOCAL counterpart to `triangle_count`'s global census:
    c_v = 2·T_v / (deg_v·(deg_v−1)), how close each part's
    co-purchase neighborhood is to a clique (the ego-density feature
    recommendation and fraud models consume; degenerate deg<2 nodes
    report NULL, isolated-but-present nodes report their honest 0).

    Exactness: every triangle a<b<c is produced EXACTLY once by the
    oriented wedge join (`triangle_count`'s invariant), so exploding
    it to its three corners and counting per corner gives exact
    per-node triangle counts; degrees are exact counts off the
    canonical pa<pb edge list doubled by a two-arm union. The
    coefficient is one shared closed-form text over exact BIGINTs,
    round-9, NULL via NULLIF when deg < 2.

    Physics: the thresholded edge relation is checkpointed once
    (|edges|-sized storage, `triangle_count`'s device) and feeds the
    wedge/closure joins plus both unions; the triangle relation is
    |triangles|-sized; the final left join runs over two
    |nodes|-sized rollups. Raw lineitem is scanned once, inside the
    bounded-fan-out co-occurrence pass. The degree-orientation swap
    for heavy-tailed graphs applies unchanged (documented at
    `triangle_count`).
    """
    li = load(spark, sf_dir, "lineitem")
    edges = (
        _cooccur_pairs(li)
        .filter(F.col("cnt") >= EDGE_MIN_COOCCUR)
        .select("pa", "pb")
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    wedges = e1.join(e2, F.col("e1.pb") == F.col("e2.pa")).select(
        F.col("e1.pa").alias("a"),
        F.col("e1.pb").alias("b"),
        F.col("e2.pb").alias("c"),
    )
    e3 = edges.alias("e3")
    tri = wedges.join(
        e3, (F.col("e3.pa") == F.col("a")) & (F.col("e3.pb") == F.col("c"))
    ).select("a", "b", "c")
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    tv = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
        .withColumnRenamed("node", "t_node")
    )
    j = deg.join(tv, F.col("node") == F.col("t_node"), "left")
    return j.select(
        "node",
        "deg",
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
        F.expr(
            "round(2 * CAST(COALESCE(n_tri, 0) AS DOUBLE)"
            " / NULLIF(CAST(deg AS DOUBLE) * (deg - 1),"
            " CAST(0 AS DOUBLE)), 9)"
        ).alias("clustering"),
    )


# --- Jaccard link prediction -------------------------------------------------

JACCARD_MIN_COMMON = 2

_JACCARD_EXPR = (
    "round(CAST(common AS DOUBLE)"
    " / (CAST(dx AS DOUBLE) + dy - common), 9)"
)

_JACCARD_SQL = f"""
    WITH {_OP_CTE},
    e AS (
      SELECT a.pk AS pa, b.pk AS pb
      FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
      HAVING count(*) >= {EDGE_MIN_COOCCUR}
    ),
    adj AS (
      SELECT pa AS u, pb AS v FROM e
      UNION ALL
      SELECT pb AS u, pa AS v FROM e
    ),
    cand AS (
      SELECT a.u AS x, b.u AS y, CAST(COUNT(*) AS BIGINT) AS common
      FROM adj a JOIN adj b ON a.v = b.v AND a.u < b.u
      GROUP BY 1, 2
      HAVING COUNT(*) >= {JACCARD_MIN_COMMON}
    ),
    nonadj AS (
      SELECT c.x, c.y, c.common
      FROM cand c LEFT JOIN e ON e.pa = c.x AND e.pb = c.y
      WHERE e.pa IS NULL
    ),
    deg AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY 1
    )
    SELECT n.x AS part_a, n.y AS part_b, n.common,
           dx.deg AS deg_a, dy.deg AS deg_b,
           round(CAST(common AS DOUBLE)
                 / (CAST(dx.deg AS DOUBLE) + dy.deg - common), 9) AS jaccard
    FROM nonadj n
    JOIN deg dx ON dx.node = n.x
    JOIN deg dy ON dy.node = n.y
"""


@register("jaccard_neighbors", oracle=_JACCARD_SQL)
def jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction over the co-order part
    graph: for every NON-adjacent part pair sharing >=
    {JACCARD_MIN_COMMON} neighbors, the common-neighbor count and
    Jaccard similarity |N(a)∩N(b)| / |N(a)∪N(b)| — the classic
    "customers who buy these also buy..." candidate generator
    (`frequent_pairs` scores pairs that DID co-occur; this scores
    pairs that plausibly SHOULD but have not yet — the
    recommendation/backfill signal).

    Exactness: common-neighbor counts are exact BIGINTs off the
    symmetrized adjacency self-join (each shared neighbor v produces
    the x<y candidate exactly once per direction pair — the canonical
    u<w orientation dedupes); adjacency exclusion is a NULL-probe
    left join against the canonical edge list (x<y matches pa<pb
    directly); |union| = deg_a + deg_b − common needs no second
    intersection pass; Jaccard is one shared closed form, round-9.

    Physics: the thresholded edge relation is checkpointed once and
    feeds the adjacency union (2|E|), the wedge join, the exclusion
    probe, and the degree rollup; the candidate relation is
    wedge-endpoint-sized, pruned by the common>=K HAVING inside the
    aggregate. The same degree-orientation skew swap as
    `triangle_count` applies (documented there).
    """
    li = load(spark, sf_dir, "lineitem")
    edges = (
        _cooccur_pairs(li)
        .filter(F.col("cnt") >= EDGE_MIN_COOCCUR)
        .select("pa", "pb")
    )
    adj = edges.select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    ).unionAll(edges.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
    a = adj.alias("a")
    b = adj.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.v") == F.col("b.v")) & (F.col("a.u") < F.col("b.u")),
        )
        .groupBy(F.col("a.u").alias("x"), F.col("b.u").alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .filter(F.col("common") >= JACCARD_MIN_COMMON)
    )
    nonadj = (
        cand.join(
            edges,
            (F.col("pa") == F.col("x")) & (F.col("pb") == F.col("y")),
            "left",
        )
        .filter(F.col("pa").isNull())
        .select("x", "y", "common")
    )
    deg = adj.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    dx = deg.select(
        F.col("node").alias("x_node"), F.col("deg").alias("deg_a")
    )
    dy = deg.select(
        F.col("node").alias("y_node"), F.col("deg").alias("deg_b")
    )
    j = nonadj.join(dx, F.col("x") == F.col("x_node")).join(
        dy, F.col("y") == F.col("y_node")
    )
    return j.select(
        F.col("x").alias("part_a"),
        F.col("y").alias("part_b"),
        "common",
        "deg_a",
        "deg_b",
        F.expr(
            "round(CAST(common AS DOUBLE)"
            " / (CAST(deg_a AS DOUBLE) + deg_b - common), 9)"
        ).alias("jaccard"),
    )


# --- Weighted reciprocity ----------------------------------------------------

_RECIPROCITY_SQL = f"""
    WITH flows AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey  = s.s_suppkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      GROUP BY 1, 2
    ),
    f AS (SELECT src, dst, w FROM flows WHERE src <> dst),
    j AS (
      SELECT a.src, a.dst, a.w, COALESCE(b.w, 0) AS wr
      FROM f a LEFT JOIN f b ON b.src = a.dst AND b.dst = a.src
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(CASE WHEN wr > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_reciprocal,
           CAST(SUM(w) AS BIGINT) AS w_total,
           CAST(SUM(CASE WHEN wr < w THEN wr ELSE w END) AS BIGINT)
             AS w_reciprocal,
           round(CAST(SUM(CASE WHEN wr > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / NULLIF(CAST(COUNT(*) AS DOUBLE), CAST(0 AS DOUBLE)), 9)
             AS reciprocity_unw,
           round(CAST(SUM(CASE WHEN wr < w THEN wr ELSE w END) AS DOUBLE)
                 / NULLIF(CAST(SUM(w) AS DOUBLE), CAST(0 AS DOUBLE)), 9)
             AS reciprocity_w
    FROM j
"""


@register("graph_reciprocity", oracle=_RECIPROCITY_SQL)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the directed nation trade graph — unweighted
    (share of non-loop edges whose reverse edge exists) and weighted
    (Squartini: Σ min(w_ij, w_ji) / Σ w_ij): is trade mutual or
    one-directional? The DIRECTEDNESS diagnostic completing the graph
    battery (`degree_assortativity` asks who connects to whom;
    `label_propagation` finds blocks; this measures flow symmetry —
    the signal deciding whether a co-partitioned iteration can treat
    the graph as undirected). Self-loops (domestic trade) are
    excluded, the standard convention.

    Exactness: all four accumulators are exact BIGINTs (min via the
    portable CASE WHEN wr < w — no engine least() variance); missing
    reverse edges coalesce to 0 through the left self-join; the two
    ratios are one shared closed form each, round-9, empty graph →
    NULL via NULLIF.

    Physics: the checkpointed |nations|²-bounded flow relation
    self-joins on the reversed key (catalog-sized at ANY corpus
    volume — the corpus cost is the one fact join inside
    `_trade_flows`, paid once and reused); one one-row fold.
    """
    flows = _trade_flows(spark, sf_dir)
    f = flows.filter(F.col("src") != F.col("dst")).select("src", "dst", "w")
    rev = f.select(
        F.col("src").alias("r_dst"),
        F.col("dst").alias("r_src"),
        F.col("w").alias("wr0"),
    )
    j = f.join(
        rev,
        (F.col("r_src") == F.col("src")) & (F.col("r_dst") == F.col("dst")),
        "left",
    ).select("src", "dst", "w", F.coalesce(F.col("wr0"), F.lit(0)).alias("wr"))
    wmin = F.when(F.col("wr") < F.col("w"), F.col("wr")).otherwise(F.col("w"))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum(F.when(F.col("wr") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_reciprocal"),
        F.sum("w").cast("long").alias("w_total"),
        F.sum(wmin).cast("long").alias("w_reciprocal"),
        F.expr(
            "round(CAST(SUM(CASE WHEN wr > 0 THEN 1 ELSE 0 END) AS DOUBLE)"
            " / NULLIF(CAST(COUNT(*) AS DOUBLE), CAST(0 AS DOUBLE)), 9)"
        ).alias("reciprocity_unw"),
        F.expr(
            "round(CAST(SUM(CASE WHEN wr < w THEN wr ELSE w END) AS DOUBLE)"
            " / NULLIF(CAST(SUM(w) AS DOUBLE), CAST(0 AS DOUBLE)), 9)"
        ).alias("reciprocity_w"),
    )
