"""Graph analytics over relational edge lists (SURVEY.md §2.13 N30).

The customer–supplier trade graph (who bought from whom, via
orders ⋈ lineitem) is the natural graph hiding in the TPC-H-ish
schema; PageRank over it is the "entity importance" signal a data
pipeline derives before sampling or weighting sources. The iteration
is the same one-shuffle-per-round shape as k-means
(`ops/vector.py`) and connected components (`ops/dedup.py`).

All mass arithmetic is INTEGER (div/mod), so every iteration is
bit-exact on both engines — no order-dependent float accumulation
anywhere. The classic float PageRank sums r_j/deg_j over neighbors,
and a parallel sum of doubles is partitioning-dependent; propagating
integer mass with floor division (remainder retained at the node)
makes the fixpoint deterministic and the oracle hash-checkable.

Each graph has one definition per engine: :func:`_copurchase_edges`
and :func:`_trade_edges` on Spark, :func:`_copurchase_sql` and
``_TRADE_SQL`` in the oracles. Each round has one definition per
engine too, and both unroll it from the same round-count constant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_processor_spark.io import Fixpoint, materializing_count
from parquet_processor_spark.registry import query
from parquet_processor_spark.tables import t

# Per-node initial mass and damping split. B is large enough that
# floor-division granularity (1 part in 1e9 per neighbor) is far
# below any ranking-relevant difference, small enough that even a
# node absorbing the entire graph's mass at SF100 stays << 2^63.
_B = 1_000_000_000
_TELEPORT = (15 * _B) // 100  # (1-d) * B with d = 0.85
_ROUNDS = 3


# --- the two graphs ---------------------------------------------------------
#
# The co-purchase part graph: parts sharing >= _COPURCHASE_MIN_SUPPORT
# orders (the agg_copurchase_pairs edge set), undirected, one (u, v)
# row per pair with u < v. The customer–supplier trade graph: the
# distinct (customer, supplier) pairs of orders ⋈ lineitem, with
# customers at 2*custkey and suppliers at 2*suppkey+1 — a disjoint
# bigint encoding that keeps every shuffle on fixed-width 8-byte keys.


def _copurchase_edges(spark: SparkSession, sf: str) -> DataFrame:
    """The co-purchase part graph: lazy (u, v) longs, u < v. Reads
    ``aggregates.agg_copurchase_pairs`` at call time, so swapping that
    attribute swaps the input of every co-purchase query."""
    from parquet_processor_spark.ops import aggregates

    return aggregates.agg_copurchase_pairs(spark, sf).select(
        F.col("p1").cast("long").alias("u"), F.col("p2").cast("long").alias("v")
    )


def _trade_edges(spark: SparkSession, sf: str) -> DataFrame:
    """The trade graph: lazy distinct (c, s) longs, customer node
    ``c`` bought from supplier node ``s``. Reads through the module's
    ``t``."""
    return (
        t(spark, sf, "orders")
        .join(t(spark, sf, "lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("c"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("s"),
        )
        .distinct()
    )


def _both_ways(e: DataFrame, a: str = "u", b: str = "v") -> DataFrame:
    """Both directions of the two-column edge list ``e``, named (a, b)."""
    x, y = (F.col(c) for c in e.columns)
    return e.select(x.alias(a), y.alias(b)).unionAll(e.select(y.alias(a), x.alias(b)))


def _adjacency(e: DataFrame, key: str) -> DataFrame:
    """(src, dst): both directions of ``e``, hash-partitioned on
    ``key`` and eagerly localCheckpointed.

    eager-by-design: every round of the loop that reads it joins on
    ``key``. Without the checkpoint Spark re-derives the graph (a fact
    join or the basket expansion) once per round; with it the graph is
    paid once, and because localCheckpoint keeps the physical
    partitioning, each round's join reuses it and only the node-sized
    side moves instead of the whole edge list."""
    n = e.sparkSession.sparkContext.defaultParallelism
    return _both_ways(e, "src", "dst").repartition(n, key).localCheckpoint(eager=True)


def _degrees(und: DataFrame) -> DataFrame:
    """(node, d) over the doubled (u, v) edge list: one map-side-combined
    count."""
    return und.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))


def _copurchase_sql() -> str:
    """CTEs ``b`` and ``e(u, v)``: the oracle twin of
    :func:`_copurchase_edges`, as the naive basket self-join."""
    from parquet_processor_spark.ops.aggregates import _COPURCHASE_MIN_SUPPORT

    return f"""b as (
      select distinct l_orderkey, l_partkey from lineitem
    ),
    e as (
      select cast(a.l_partkey as bigint) as u, cast(c.l_partkey as bigint) as v
      from b a join b c
        on a.l_orderkey = c.l_orderkey and a.l_partkey < c.l_partkey
      group by 1, 2
      having count(*) >= {_COPURCHASE_MIN_SUPPORT}
    )"""


# CTE trade(c, s): the oracle twin of _trade_edges
_TRADE_SQL = """trade as (
      select distinct cast(o_custkey * 2 as bigint) as c,
                      cast(l_suppkey * 2 + 1 as bigint) as s
      from orders join lineitem on l_orderkey = o_orderkey
    )"""
# the doubled co-purchase edge list and its degrees (_both_ways, _degrees)
_UND_SQL = "und as (select u, v from e union all select v as u, u as v from e)"
_DEG_SQL = "deg as (select u as node, cast(count(*) as bigint) as d from und group by u)"


def _edges_sql(frm: str = "e", a: str = "u", b: str = "v", materialized: bool = False) -> str:
    """CTE ``edges(src, dst)``: both directions of ``frm(a, b)``."""
    m = "materialized " if materialized else ""
    return f"""edges as {m}(
      select {a} as src, {b} as dst from {frm}
      union all
      select {b} as src, {a} as dst from {frm}
    )"""


# --- integer PageRank ---------------------------------------------------------


def _mass_step(masses: DataFrame, edges: DataFrame, teleport: Column | None = None) -> DataFrame:
    """One integer-PageRank round: mass -> shares along edges -> damped
    re-collect. `masses` is (node, deg, mass); `edges` is (src, dst)
    with both directions present for an undirected graph, so every
    node receives an inflow row, zero or not. Each node keeps its
    floor-division remainder; its new mass is `teleport` (a column over
    `node`; _TELEPORT everywhere when None) plus 85% of inflow +
    remainder."""
    if teleport is None:
        teleport = F.lit(_TELEPORT)
    shares = masses.select(F.col("node").alias("src"), F.expr("mass div deg").alias("share"))
    inflow = (
        edges.join(shares, "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("share").alias("inflow"))
    )
    return (
        masses.select("node", "deg", F.expr("mass % deg").alias("rem"))
        .join(inflow, "node")
        .select(
            "node",
            "deg",
            (teleport + F.expr("(85 * (inflow + rem)) div 100")).alias("mass"),
        )
    )


def _mass_sql(seed: str | None = None) -> str:
    """CTEs m0..m{_ROUNDS}(node, deg, mass) over ``edges``: the oracle
    twin of the :func:`_mass_step` rounds. ``seed`` is a predicate on
    ``{n}``, a node column; mass starts and teleports only where it
    holds (everywhere when None)."""

    def at_seed(amount: int, n: str) -> str:
        return str(amount) if seed is None else f"case when {seed.format(n=n)} then {amount} else 0 end"

    ctes = [f"""m0 as (
      select src as node, cast(count(*) as bigint) as deg,
             cast({at_seed(_B, 'src')} as bigint) as mass
      from edges group by src
    )"""]
    for r in range(1, _ROUNDS + 1):
        ctes.append(f"""m{r} as (
      select m.node, m.deg,
             cast({at_seed(_TELEPORT, 'm.node')}
                  + (85 * (f.inflow + m.mass % m.deg)) // 100
               as bigint) as mass
      from m{r - 1} m join (
        select e.dst as node, cast(sum(s.mass // s.deg) as bigint) as inflow
        from edges e join m{r - 1} s on e.src = s.node group by e.dst
      ) f on m.node = f.node
    )""")
    return ",\n    ".join(ctes)


def _pagerank_oracle() -> str:
    return f"""
    with {_TRADE_SQL},
    {_edges_sql("trade", "c", "s")},
    {_mass_sql()}
    select node, deg, mass from m{_ROUNDS}
    """


@query("graph_pagerank", oracle=_pagerank_oracle(), tags=("graph", "iterative", "bench_extended"))
def graph_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """_ROUNDS-round damped PageRank over the customer–supplier graph.

    Nodes are bigint: customers map to ``2*custkey`` and suppliers to
    ``2*suppkey+1`` — a disjoint integer encoding that keeps the
    per-round inflow shuffle on fixed-width 8-byte keys (the previous
    'c<key>'/'s<key>' string encoding shipped variable-width keys
    through the hottest shuffle in the bench, roughly doubling key
    bytes). NOTE — output-schema break (round 6): ``node`` changed
    from string to bigint; external consumers of the old format can
    recover it as ``concat(if(node % 2 = 0, 'c', 's'), node div 2)``.
    Driver rows before r6 hash the string schema and are not
    comparable to r6+ rows. Edges are the distinct trade pairs from orders ⋈
    lineitem, undirected (both directions materialized), so every
    node has deg >= 1 and there are no dangling nodes. Each round:
    share = mass div deg flows along every edge, the floor-division
    remainder stays home, and the new mass is teleport + 85% of
    (inflow + remainder) — all bigint.

    100 TB shape: the edge list is built once (one orders⋈lineitem
    shuffle + distinct) and reused every round; each round is ONE
    shuffle — the inflow groupBy on dst, map-side combined — plus a
    node-keyed join that AQE plans as broadcast once the node table
    is small relative to edges. The fixed unroll keeps lineage
    shallow (_ROUNDS rounds); an open-ended variant would localCheckpoint
    per round exactly as connected_components does. Integer mass
    makes retries/stragglers safe: any partial recomputation
    reproduces identical bytes.
    """
    edges = _adjacency(_trade_edges(spark, sf), "src")
    masses = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg"), F.lit(_B).cast("long").alias("mass")
    )
    for _ in range(_ROUNDS):
        masses = _mass_step(masses, edges)
    return masses.select("node", "deg", "mass")


# Triangle counting — the graph-analytics staple behind clustering
# coefficients, community strength, and spam/bot detection. Runs over
# the co-purchase part graph (the customer-supplier trade graph is
# bipartite and triangle-free by construction).

def _triangle_rows(spark: SparkSession, sf: str):
    """(tri, e, deg): closed-wedge rows (s, b, c — the triangle's three
    vertices, apex s = lowest (degree, id) endpoint), the edge list,
    and the degree table — shared by the global count and the
    per-node coefficient queries."""
    e = _copurchase_edges(spark, sf).localCheckpoint()  # eager-by-design: the basket pair expansion feeds degree, orientation, AND closing — pay it once (36 scans → 2 without this)
    deg = _degrees(_both_ways(e))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
    ).localCheckpoint()  # eager-by-design: oriented edges feed both wedge sides and the closing semi join — the standard materialized adjacency
    o1 = o.select(F.col("s"), F.col("t").alias("b"), F.col("dt").alias("db"))
    o2 = o.select(F.col("s"), F.col("t").alias("c"), F.col("dt").alias("dc"))
    wedges = o1.join(o2, "s").where(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closing = o.select(F.col("s").alias("b"), F.col("t").alias("c"))
    tri = wedges.join(closing, ["b", "c"], "left_semi").select("s", "b", "c")
    return tri, e, deg


# the oracle twin of _triangle_rows over e and deg: oriented edges
# o(s, t, dt), wedges w(s, b, c) at each apex, closed ones in tri
_U_FIRST = "(du.d < dv.d) or (du.d = dv.d and e.u < e.v)"
_TRIANGLE_SQL = f"""o as (
      select case when {_U_FIRST} then e.u else e.v end as s,
             case when {_U_FIRST} then e.v else e.u end as t,
             case when {_U_FIRST} then dv.d else du.d end as dt
      from e join deg du on e.u = du.node join deg dv on e.v = dv.node
    ),
    w as (
      select o1.s, o1.t as b, o2.t as c
      from o o1 join o o2
        on o1.s = o2.s
       and ((o1.dt < o2.dt) or (o1.dt = o2.dt and o1.t < o2.t))
    ),
    tri as (
      select w.s, w.b, w.c from w join o on w.b = o.s and w.c = o.t
    )"""


def _triangles_oracle() -> str:
    return f"""
    with {_copurchase_sql()},
    {_UND_SQL},
    {_DEG_SQL},
    {_TRIANGLE_SQL}
    select (select cast(count(*) as bigint) from tri) as n_triangles,
           (select cast(count(*) as bigint) from e) as n_edges,
           (select cast(count(*) as bigint) from deg) as n_nodes,
           (select cast(sum(d * (d - 1) // 2) as bigint) from deg) as n_wedges,
           cast(3 as double) * (select count(*) from tri)
             / (select sum(d * (d - 1) // 2) from deg) as clustering_coeff
    """


@query("graph_triangles", oracle=_triangles_oracle(), tags=("graph", "pairs", "bench_extended"))
def graph_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact triangle count by degree-ordered orientation: every edge
    points from its lower-(degree, id) endpoint to the higher one, so
    each triangle is counted exactly once as a wedge (a->b, a->c with
    ord(b) < ord(c)) closed by the oriented edge b->c.

    100 TB shape: orientation is THE classical bound — wedges are
    enumerated only at each edge's lower-degree endpoint, so the
    wedge join's output is O(sum of out-degree²) with out-degree
    <= sqrt(2m) for every node, instead of the unbounded hub fan-out
    of a naive adjacency self-join (one celebrity node of degree 1M
    would otherwise emit 5*10^11 wedges; oriented, it emits none —
    its edges all point INTO it). Both the wedge join (on the wedge
    apex) and the closing semi join (on the (b,c) pair) are plain
    equi-joins; the closing check moves 16-byte pairs. Degrees come
    from one map-side-combined count, and the orientation tiebreak by
    (degree, id) is a total order, so the count is deterministic on
    both engines.
    """
    tri, e, deg = _triangle_rows(spark, sf)
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_e = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_n = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
    )
    return (
        n_tri.crossJoin(F.broadcast(n_e))
        .crossJoin(F.broadcast(n_n))
        .select(
            "n_triangles",
            "n_edges",
            "n_nodes",
            "n_wedges",
            # global clustering coefficient: closed wedges / all wedges
            # (each triangle closes 3 wedges) — one IEEE division.
            (F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")).alias(
                "clustering_coeff"
            ),
        )
    )


# Per-node (local) clustering coefficient — the node-level community
# signal (how interconnected each node's neighborhood is): top-K nodes
# by coefficient among those with >= _LCC_MIN_DEG neighbors. Fraud and
# bot rings score near 1.0; organic hubs score low.
_LCC_TOP_K = 20
_LCC_MIN_DEG = 3


def _local_clustering_oracle() -> str:
    return f"""
    with {_copurchase_sql()},
    {_UND_SQL},
    {_DEG_SQL},
    {_TRIANGLE_SQL},
    pern as (
      select node, cast(count(*) as bigint) as n_tri
      from (select unnest(list_value(s, b, c)) as node from tri)
      group by node
    )
    select d.node, d.d as deg, coalesce(p.n_tri, cast(0 as bigint)) as n_tri,
           cast(coalesce(p.n_tri, 0) as double) / (d.d * (d.d - 1) // 2) as local_coeff
    from deg d left join pern p on d.node = p.node
    where d.d >= {_LCC_MIN_DEG}
    order by local_coeff desc, d.node
    limit {_LCC_TOP_K}
    """


@query("graph_local_clustering", oracle=_local_clustering_oracle(), tags=("graph", "pairs", "bench_extended"))
def graph_local_clustering(spark: SparkSession, sf: str) -> DataFrame:
    """Top-_LCC_TOP_K nodes by local clustering coefficient
    (triangles_at_node / C(deg, 2)), among nodes with deg >= _LCC_MIN_DEG.

    100 TB shape: reuses the oriented-wedge triangle rows (each
    triangle attributed to its three vertices by ONE generator — no
    extra joins), one node-keyed count, a degree-keyed join of two
    already-collapsed tables, and TakeOrdered(K) — no global sort.
    The coefficient is one IEEE division of integer-derived values.
    """
    tri, _e, deg = _triangle_rows(spark, sf)
    pern = (
        tri.select(
            F.explode(F.array(F.col("s"), F.col("b"), F.col("c"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return (
        deg.where(F.col("d") >= _LCC_MIN_DEG)
        .join(pern, "node", "left")
        .select(
            "node",
            F.col("d").alias("deg"),
            F.coalesce(F.col("n_tri"), F.lit(0).cast("long")).alias("n_tri"),
            (
                F.coalesce(F.col("n_tri"), F.lit(0)).cast("double")
                / F.expr("d * (d - 1) div 2")
            ).alias("local_coeff"),
        )
        .orderBy(F.col("local_coeff").desc(), "node")
        .limit(_LCC_TOP_K)
    )


# Label propagation (synchronous LPA, Raghavan et al. 2007) — the
# cheap community detector: every node adopts its neighbors' most
# frequent label each round. Runs over the co-purchase part graph
# (same edge set as graph_triangles; the trade graph is bipartite,
# where synchronous LPA degenerates to side-swapping oscillation).
# Ties break to the SMALLEST label, making every round — and thus the
# oracle — fully deterministic.
_LPA_ROUNDS = 3


def _label_propagation(e: DataFrame) -> DataFrame:
    """(node, label) after _LPA_ROUNDS vote rounds over the undirected
    (u, v) edge list ``e``, read once into a dst-partitioned adjacency."""
    edges = _adjacency(e, "dst")
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LPA_ROUNDS):
        cnt = (
            edges.join(labels.select(F.col("node").alias("dst"), "label"), "dst")
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            cnt.groupBy("src")
            .agg(
                F.max_by(
                    "label", F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))
                ).alias("label")
            )
            .select(F.col("src").alias("node"), "label")
        )
    return labels


def _lpa_sql() -> str:
    """CTEs l0..l{_LPA_ROUNDS}(node, label) over ``edges``: the oracle
    twin of :func:`_label_propagation`."""
    ctes = ["l0 as (select distinct src as node, src as label from edges)"]
    for r in range(1, _LPA_ROUNDS + 1):
        ctes.append(f"""c{r} as (
      select e.src, l.label, cast(count(*) as bigint) as cnt
      from edges e join l{r - 1} l on e.dst = l.node
      group by e.src, l.label
    ),
    l{r} as (
      select src as node, label from (
        select src, label,
               row_number() over (partition by src
                                  order by cnt desc, label asc) as rn
        from c{r}
      ) x where rn = 1
    )""")
    return ",\n    ".join(ctes)


def _lpa_oracle() -> str:
    return f"""
    with {_copurchase_sql()},
    {_edges_sql()},
    {_lpa_sql()}
    select node, label from l{_LPA_ROUNDS}
    """


@query("graph_label_propagation", oracle=_lpa_oracle(), tags=("graph", "iterative", "community", "bench_extended"))
def graph_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-round (_LPA_ROUNDS) synchronous label propagation over the
    co-purchase part graph: labels start as node ids; each round every
    node adopts the most frequent label among its neighbors (ties to
    the smallest label — deterministic, so the unrolled-CTE oracle
    hash-matches). The resulting label is the node's community — the
    grouping signal behind "products bought together" collections.

    100 TB shape: the edge list is built once (the basket pair
    expansion, shared with graph_triangles), hash-partitioned on dst,
    and localCheckpointed, so each round's neighbor-label join reuses
    the at-rest partitioning and only the node-sized label table
    moves; the per-round vote is two map-side-combined aggregates over
    (src, label) longs — integer counts, no float accumulation, every
    round bit-exact on both engines (the pagerank policy). Rounds are
    a fixed shallow unroll (_LPA_ROUNDS); an open-ended variant would
    localCheckpoint labels per round like connected components.
    """
    return _label_propagation(_copurchase_edges(spark, sf))


# Link prediction by common-neighbor Jaccard — "products likely to be
# bought together NEXT" (the recommender/completion signal): for every
# non-adjacent pair with at least one shared neighbor, score
# |N(a) ∩ N(b)| / |N(a) ∪ N(b)| and emit the top-20 predicted edges.
_LINKPRED_K = 20


def _linkpred_oracle() -> str:
    return f"""
    with {_copurchase_sql()},
    {_UND_SQL},
    {_DEG_SQL},
    w as (
      select w1.v as a, w2.v as b
      from und w1 join und w2
        on w1.u = w2.u and w1.v < w2.v
    ),
    cn as (
      select a, b, cast(count(*) as bigint) as n_common
      from w
      anti join e on w.a = e.u and w.b = e.v
      group by a, b
    )
    select cn.a as p1, cn.b as p2, cn.n_common,
           da.d as deg_a, db.d as deg_b,
           cast(cn.n_common as double) / (da.d + db.d - cn.n_common) as jaccard
    from cn join deg da on cn.a = da.node join deg db on cn.b = db.node
    order by jaccard desc, p1, p2
    limit {_LINKPRED_K}
    """


@query("graph_link_prediction", oracle=_linkpred_oracle(), tags=("graph", "recommend", "bench_extended"))
def graph_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    """Top-K predicted co-purchase links by neighbor-set Jaccard.

    Wedges enumerate from the UNDIRECTED adjacency — for every center
    node, every unordered pair of its neighbors is one candidate row —
    so n_common is exactly |N(a) ∩ N(b)| as documented. (A previous
    degree-ordered enumeration reused the triangle orientation; that
    bound is sound for closed triangles but silently drops any open
    wedge whose center out-ranks an endpoint — two leaves sharing a
    hub produced no candidate at all.)

    100 TB shape: wedge mass is sum deg(center)^2, so hub centers
    dominate; the self-join keys on the center id and AQE skew-join
    splits those hot keys at runtime. For a production corpus with
    celebrity hubs the standard cap — truncate each node's neighbor
    list to its top-k co-purchase partners before pairing — bounds the
    blowup without changing the top-K materially; kept exact here
    because the score's contract IS the exact Jaccard. Existing edges
    drop with one anti join on (lo, hi) pairs; the final top-K is a
    TakeOrdered, never a global sort.
    """
    e = _copurchase_edges(spark, sf).localCheckpoint()  # eager-by-design: feeds adjacency AND the anti join
    und = _both_ways(e)
    deg = _degrees(und)
    w1 = und.select(F.col("u").alias("s"), F.col("v").alias("a"))
    w2 = und.select(F.col("u").alias("s"), F.col("v").alias("b"))
    wedges = w1.join(w2, "s").where(F.col("a") < F.col("b"))
    existing = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    cn = (
        wedges.select("a", "b")
        .join(existing, ["a", "b"], "left_anti")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("deg_b"))
    scored = cn.join(da, "a").join(db, "b")
    jac = F.col("n_common").cast("double") / (
        F.col("deg_a") + F.col("deg_b") - F.col("n_common")
    )
    return (
        scored.select(
            F.col("a").alias("p1"),
            F.col("b").alias("p2"),
            "n_common",
            "deg_a",
            "deg_b",
            jac.alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("p1"), F.asc("p2"))
        .limit(_LINKPRED_K)
    )


# k-core decomposition by iterative peeling — the degeneracy layering
# ("onion peeling") of the co-purchase graph: repeatedly remove nodes
# with fewer than K remaining neighbors; a node's LAYER is the round
# it fell, survivors are the K-core. Dense-subgraph mining, spam/bot
# ring detection, and community seeding all start here; it is also the
# preprocessing that bounds triangle counting's memory (degeneracy
# ordering). Pure integer counting — bit-exact on both engines.
_KCORE_K = 3
_KCORE_MAX_ROUNDS = 14  # fixture guard: sf0.01 converges in 10 (tested)


def _kcore_oracle() -> str:
    rounds, layer_rows, prev = [], [], "a0"
    for r in range(1, _KCORE_MAX_ROUNDS + 1):
        rounds.append(f"""
    d{r} as (
      select e.src as node, count(*) as deg
      from edges e
      join {prev} x on e.src = x.node
      join {prev} y on e.dst = y.node
      group by 1
    ),
    r{r} as materialized (
      select a.node from {prev} a
      left join d{r} d on d.node = a.node
      where coalesce(d.deg, 0) < {_KCORE_K}
    ),
    a{r} as materialized (select node from {prev} except select node from r{r})""")
        layer_rows.append(f"select node, {r} as layer from r{r}")
        prev = f"a{r}"
    layer_rows.append(f"select node, cast(null as int) as layer from {prev}")
    union = "\n      union all ".join(layer_rows)
    return f"""
    with {_copurchase_sql()},
    {_edges_sql(materialized=True)},
    a0 as materialized (select distinct src as node from edges),
    {",".join(rounds)}
    select node, cast(layer as int) as layer, layer is null as in_core
    from ({union})
    """


@query("graph_kcore", oracle=_kcore_oracle(), tags=("graph", "iterative", "kcore"))
def graph_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """k-core onion decomposition (k=_KCORE_K) of the co-purchase part
    graph: (node, layer, in_core) where layer is the peel round that
    removed the node (1-based) and in_core marks the survivors (layer
    NULL). The Spark side runs the real data-dependent loop to
    FIXPOINT, raising at _KCORE_MAX_ROUNDS rounds (the oracle's
    unroll); a fixture-guard test asserts convergence with margin so
    growth fails loudly instead of as a parity mystery.

    100 TB shape: one degree aggregate + one anti join per round over
    an edge list that only SHRINKS; edges are repartitioned on src once
    and localCheckpointed per round (the connected-components lineage
    discipline — O(rounds) plan depth, not O(rounds^2)). Peel rounds
    are O(graph depth), not O(nodes): each round removes every
    node of degree below k at once. Integer degrees, no floats anywhere.
    """
    edges = _adjacency(_copurchase_edges(spark, sf), "src")
    alive = edges.select(F.col("src").alias("node")).distinct().localCheckpoint(eager=True)
    layers = None
    peel = Fixpoint("graph_kcore: peel loop", _KCORE_MAX_ROUNDS, materializing_count)
    for r in peel:
        # edges is already restricted to alive endpoints (see below),
        # so the degree is a plain map-side-combined count on src
        deg = edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        removed = peel.changed(
            alive.join(deg, "node", "left")
            .where(F.coalesce(F.col("deg"), F.lit(0)) < _KCORE_K)
            .select("node")
        )
        if removed is None:
            break
        fell = removed.select("node", F.lit(r).cast("int").alias("layer"))
        layers = fell if layers is None else layers.unionAll(fell)
        alive = alive.join(removed, "node", "left_anti").localCheckpoint(eager=True)
        # shrink the edge list to surviving endpoints — per-round cost
        # tracks |E_alive|, not |E_original| (the docstring's claim)
        edges = (
            edges.join(removed.select(F.col("node").alias("src")), "src", "left_anti")
            .join(removed.select(F.col("node").alias("dst")), "dst", "left_anti")
            .localCheckpoint(eager=True)
        )
    core = alive.select("node", F.lit(None).cast("int").alias("layer"))
    out = core if layers is None else layers.unionAll(core)
    return out.withColumn("in_core", F.col("layer").isNull())


# Multi-source BFS — the traversal primitive the family was missing
# (PageRank ranks, k-core peels, CC labels; none gives DISTANCE):
# minimum hop count from a deterministic seed set (node % 50 == 0) to
# every node of the co-purchase graph. Reachability radius, influence
# tiers, and "how far is this product from the promoted set" all read
# off this table. Pure integer frontier expansion — bit-exact across
# engines; the oracle unrolls the rounds (the k-core convention) and a
# fixture-margin test guards the unroll depth.
_BFS_MAX_ROUNDS = 12  # fixture guard: sf0.01 converges in 7 (tested)


def _bfs_oracle() -> str:
    rounds, dist_rows, prev_f, prev_a = [], ["select node, 0 as dist from f0"], "f0", "f0"
    for r in range(1, _BFS_MAX_ROUNDS + 1):
        rounds.append(f"""
    f{r} as materialized (
      select distinct e.dst as node
      from edges e
      join {prev_f} p on e.src = p.node
      anti join {prev_a} s on e.dst = s.node
    ),
    a{r} as materialized (
      select node from {prev_a} union all select node from f{r}
    )""")
        dist_rows.append(f"select node, {r} as dist from f{r}")
        prev_f, prev_a = f"f{r}", f"a{r}"
    union = "\n      union all ".join(dist_rows)
    return f"""
    with {_copurchase_sql()},
    {_edges_sql(materialized=True)},
    nodes as materialized (select distinct src as node from edges),
    f0 as materialized (select node from nodes where node % 50 = 0),
    {",".join(rounds)},
    dists as ({union})
    select n.node, cast(d.dist as int) as dist, d.dist is not null as reached
    from nodes n left join dists d on d.node = n.node
    """


@query("graph_bfs_distances", oracle=_bfs_oracle(), tags=("graph", "iterative", "bfs", "bench_extended"))
def graph_bfs_distances(spark: SparkSession, sf: str) -> DataFrame:
    """Minimum hop distance from the seed set (node % 50 == 0) to every
    co-purchase node: (node, dist, reached); unreached components keep
    a NULL dist. The Spark side runs the data-dependent frontier loop
    to fixpoint, raising at the oracle's _BFS_MAX_ROUNDS-round unroll,
    with a convergence-margin test guarding the gap.

    100 TB shape: each round is ONE equi-join of the current frontier
    against the src-partitioned edge list plus one anti join against
    the visited set — cost tracks |frontier edges|, not |graph|, and
    rounds are O(diameter). Edges repartition on src once and every
    per-round frame localCheckpoints (the k-core lineage discipline).
    Frontiers and the visited set are (node) longs — no payload ever
    enters the loop.
    """
    edges = _adjacency(_copurchase_edges(spark, sf), "src")
    nodes = edges.select(F.col("src").alias("node")).distinct().localCheckpoint(eager=True)
    frontier = nodes.where(F.col("node") % 50 == 0).localCheckpoint(eager=True)
    visited = frontier
    dists = frontier.select("node", F.lit(0).cast("int").alias("dist"))
    expand = Fixpoint("graph_bfs_distances: frontier loop", _BFS_MAX_ROUNDS, materializing_count)
    for r in expand:
        frontier = expand.changed(
            edges.join(frontier.select(F.col("node").alias("src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
        )
        if frontier is None:
            break
        dists = dists.unionAll(frontier.select("node", F.lit(r).cast("int").alias("dist")))
        visited = visited.unionAll(frontier).localCheckpoint(eager=True)
    return (
        nodes.join(dists, "node", "left")
        .select("node", "dist", F.col("dist").isNotNull().alias("reached"))
    )


# Deterministic random-walk sampling (DeepWalk/node2vec corpus prep:
# truncated walks from seed nodes become the "sentences" a skip-gram
# embedding trains on). The walk is pseudo-random but PURE: the next
# hop from node u in walk w at step s is the neighbor minimizing
# md5(w:s:neighbor) — a keyed hash draw both engines replay, so the
# sampled corpus is reproducible across runs, retries, and engines
# (rand()-driven walks are none of these). Tie-break inside the
# argmin key: the 32-hex md5 string concatenated with the zero-padded
# neighbor id, so even a hash collision picks one winner everywhere.
_WALK_STEPS = 3
_WALK_SEED_MOD = 50  # customers with ck % 50 == 0 seed a walk
# Hub cap — the df-cap discipline applied to walk sampling: a power-law
# hub's walk step would otherwise enumerate its ENTIRE neighbor list
# per visiting walk (walks x degree candidates — measured superlinear
# on the x100 soak, where replication makes suppliers hubs). Each node
# instead draws within a bounded neighbor subset chosen by a
# walk-independent hash rank (md5(src:dst)) — precomputable once per
# graph, so the per-step cost is bounded by walks x cap. Within-subset
# draws stay keyed by (walk, step), so walks still diverge.
_WALK_NEIGHBOR_CAP = 32


def _walk_key_sql(w: str, s: int, v: str) -> str:
    return f"md5(cast({w} as varchar) || ':{s}:' || cast({v} as varchar)) || lpad(cast({v} as varchar), 12, '0')"


def _random_walks_oracle() -> str:
    steps = [
        f"""w{s} as (
      select p.walk_id, {s} as step,
             min_by(e.dst, {_walk_key_sql('p.walk_id', s, 'e.dst')}) as node
      from w{s - 1} p join ecap e on e.src = p.node
      group by p.walk_id
    )"""
        for s in range(1, _WALK_STEPS + 1)
    ]
    union = "\n    union all ".join(
        f"select walk_id, cast(step as int) as step, node from w{s}"
        for s in range(_WALK_STEPS + 1)
    )
    steps = ",\n    ".join(steps)
    return f"""
    with {_TRADE_SQL},
    {_edges_sql("trade", "c", "s")},
    ecap as (
      select src, dst from edges
      qualify row_number() over (
        partition by src
        order by md5(cast(src as varchar) || '>' || cast(dst as varchar)), dst)
        <= {_WALK_NEIGHBOR_CAP}
    ),
    w0 as (
      select distinct src as walk_id, 0 as step, src as node from edges
      where src % 2 = 0 and (src / 2) % {_WALK_SEED_MOD} = 0
    ),
    {steps}
    {union}
    """


@query("graph_random_walks", oracle=_random_walks_oracle(), tags=("graph", "sampling", "iterative", "bench_extended"))
def graph_random_walks(spark: SparkSession, sf: str) -> DataFrame:
    """Length-K (K=_WALK_STEPS) hash-deterministic walks over the trade
    graph from every Mth (M=_WALK_SEED_MOD) customer node: per step, the
    frontier joins the edge list and each walk keeps the neighbor with
    the minimal keyed md5 draw — the DeepWalk corpus sampler as a
    reproducible dataflow.

    100 TB shape: each step is ONE keyed join of the (walk_id, node)
    frontier against the CAPPED neighbor lists plus a map-side
    argmin per walk — cost is bounded by walks x cap per step (the
    uncapped form paid walks x degree and went superlinear on the
    hub-dense x100 soak), never touching non-frontier nodes; K steps
    = K one-shuffle rounds (the PageRank/BFS/k-means loop
    discipline). The cap subset is walk-independent (md5(src:dst)
    rank), so it is computed once per graph — at rest in production —
    and the WindowGroupLimit rewrite prunes it map-side here.
    """
    edges = _both_ways(_trade_edges(spark, sf), "src", "dst")
    wc = Window.partitionBy("src").orderBy(
        F.md5(
            F.concat(F.col("src").cast("string"), F.lit(">"), F.col("dst").cast("string"))
        ),
        "dst",
    )
    ecap = (
        edges.withColumn("_rk", F.row_number().over(wc))
        .where(F.col("_rk") <= _WALK_NEIGHBOR_CAP)
        .drop("_rk")
    ).localCheckpoint()  # eager-by-design: the capped adjacency feeds every walk step — pay the cap window once, not once per step (production keeps it at rest)
    frontier = (
        edges.where((F.col("src") % 2 == 0) & ((F.col("src") / 2) % _WALK_SEED_MOD == 0))
        .select(F.col("src").alias("walk_id"))
        .distinct()
        .select("walk_id", F.lit(0).cast("int").alias("step"), F.col("walk_id").alias("node"))
    )
    out = frontier
    for s in range(1, _WALK_STEPS + 1):
        key = F.concat(
            F.md5(
                F.concat(
                    F.col("walk_id").cast("string"),
                    F.lit(f":{s}:"),
                    F.col("dst").cast("string"),
                )
            ),
            F.lpad(F.col("dst").cast("string"), 12, "0"),
        )
        frontier = (
            frontier.select("walk_id", "node")
            .join(ecap, F.col("node") == F.col("src"))
            .groupBy("walk_id")
            .agg(F.min_by("dst", key).alias("node"))
            .select("walk_id", F.lit(s).cast("int").alias("step"), "node")
        )
        out = out.unionByName(frontier)
    return out


# N206: personalized PageRank (Haveliwala 2002 topic-sensitive PR /
# the Andersen-Chung-Lang push setting): identical integer-mass
# recursion to graph_pagerank, except the teleport term restarts ONLY
# onto the seed set — scores become proximity-to-seeds, the primitive
# behind "expand this seed list" data discovery and related-entity
# ranking. Seeds are the deterministic customer cohort custkey % 10
# == 0 (node encoding 2*custkey, so node % 20 == 0).
_PPR_SEED_MOD = 10


def _ppr_oracle() -> str:
    seed = f"{{n}} % {2 * _PPR_SEED_MOD} = 0"
    return f"""
    with {_TRADE_SQL},
    {_edges_sql("trade", "c", "s")},
    {_mass_sql(seed)}
    select node, deg, mass, node % {2 * _PPR_SEED_MOD} = 0 as is_seed
    from m{_ROUNDS} where mass > 0
    """


@query("graph_ppr", oracle=_ppr_oracle(), tags=("graph", "iterative", "ppr", "bench_extended"))
def graph_ppr(spark: SparkSession, sf: str) -> DataFrame:
    """_ROUNDS-round integer personalized PageRank from the custkey %
    _PPR_SEED_MOD == 0 seed cohort over the customer-supplier trade graph:
    initial mass sits on seeds only, the 15% teleport restarts onto
    seeds only, and everything else follows graph_pagerank's exact
    bigint recursion (share = mass div deg, remainder stays home,
    85% damping). Zero-mass nodes (never reached in _ROUNDS hops) are
    dropped — at scale PPR touches the seed neighborhood, not the
    graph.

    100 TB shape: graph_pagerank's round, _mass_step, with a
    seed-only teleport: ONE map-side-combined inflow shuffle per round
    over the checkpointed, pre-partitioned edge list. Unreached nodes
    stay exact-zero (integer mass: no float drift).
    """
    edges = _adjacency(_trade_edges(spark, sf), "src")
    seed = F.col("node") % (2 * _PPR_SEED_MOD) == 0
    masses = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg"),
        F.when(seed.cast("boolean"), F.lit(_B)).otherwise(0).cast("long").alias("mass"),
    )
    for _ in range(_ROUNDS):
        masses = _mass_step(masses, edges, F.when(seed, F.lit(_TELEPORT)).otherwise(0))
    return masses.where(F.col("mass") > 0).select(
        "node", "deg", "mass", seed.alias("is_seed")
    )


# N207: strongly connected components over the DIRECTED part-sequence
# graph (edges = consecutive parts within an order by line number;
# cycles arise when orders disagree on the direction). The coloring
# algorithm (Orzan 2004 / the FW-BW family): forward-min label
# propagation partitions remaining nodes into classes each containing
# its root's whole SCC; a backward pass restricted to the class
# recovers exactly SCC(root); identified SCCs peel off and the outer
# loop repeats. Every SCC algorithm that scales is a variant of this
# loop — Tarjan's stack is inherently sequential.
_SCC_MAX_PEELS = 20
_SCC_MAX_PROP = 40


# Oracle unroll caps (r14, closing the r13 verdict's cost finding):
# the old oracle materialized the FULL transitive closure (reach =
# all (ancestor, node) pairs — V^2 rows on this fixture's single
# giant SCC; 73 GB and killed at sf0.1). The replacement replays the
# ENGINE's own FW-BW peel loop as materialized per-round CTEs, so
# oracle state is O(V) per round and total work is
# peels * rounds * O(E) — measured need on the fixture is 1 peel and
# <=5 forward / <=5 backward rounds at every SF (single giant SCC),
# so 2 peels x 12 rounds is >=2x margin. An under-provisioned unroll
# FAILS LOUDLY (unconverged oracle labels mismatch the engine's
# fixpoint — a visible parity FAIL, never a vacuous pass), exactly
# like the engine's own capped loops raise instead of truncating.
_SCC_ORACLE_PEELS = 2
_SCC_ORACLE_ROUNDS = 12


def _scc_oracle() -> str:
    ctes = [
        """li as (
      select l_orderkey, l_linenumber, l_partkey from lineitem
    )""",
        """e1 as materialized (
      select distinct src, dst from (
        select l_partkey as src,
               lead(l_partkey) over (partition by l_orderkey
                                     order by l_linenumber) as dst
        from li
      ) where dst is not null and src <> dst
    )""",
        """n1 as materialized (
      select src as node from e1 union select dst from e1
    )""",
    ]
    for p in range(1, _SCC_ORACLE_PEELS + 1):
        # forward min-label propagation to fixpoint (full re-propagation
        # per round — the oracle twin of the engine's delta iteration,
        # identical fixpoint)
        ctes.append(f"lab{p}_0 as materialized (select node, node as c from n{p})")
        for k in range(1, _SCC_ORACLE_ROUNDS + 1):
            ctes.append(f"""lab{p}_{k} as materialized (
      select l.node, least(l.c, coalesce(m.c, l.c)) as c
      from lab{p}_{k - 1} l
      left join (select ed.dst as node, min(l2.c) as c
                 from e{p} ed join lab{p}_{k - 1} l2 on l2.node = ed.src
                 group by ed.dst) m using (node)
    )""")
        lab = f"lab{p}_{_SCC_ORACLE_ROUNDS}"
        # backward within-class reach-to-root, frontierless replay:
        # marked = nodes known to reach their class root (seeded by the
        # roots; the class pin keeps state <= 1 row per node)
        ctes.append(
            f"mark{p}_0 as materialized (select node, c from {lab} where node = c)"
        )
        for k in range(1, _SCC_ORACLE_ROUNDS + 1):
            ctes.append(f"""mark{p}_{k} as materialized (
      select node, c from mark{p}_{k - 1}
      union
      select ed.src as node, m.c
      from e{p} ed
      join mark{p}_{k - 1} m on m.node = ed.dst
      join {lab} l on l.node = ed.src and l.c = m.c
    )""")
        ctes.append(
            f"found{p} as materialized (select node, c as scc_id from mark{p}_{_SCC_ORACLE_ROUNDS})"
        )
        if p < _SCC_ORACLE_PEELS:
            ctes.append(f"""n{p + 1} as materialized (
      select n.node from n{p} n
      where not exists (select 1 from found{p} f where f.node = n.node)
    )""")
            ctes.append(f"""e{p + 1} as materialized (
      select e.src, e.dst from e{p} e
      where not exists (select 1 from found{p} f where f.node = e.src)
        and not exists (select 1 from found{p} f where f.node = e.dst)
    )""")
    union = "\n    union all\n    ".join(
        f"select node, scc_id from found{p}" for p in range(1, _SCC_ORACLE_PEELS + 1)
    )
    joined = ",\n    ".join(ctes)
    return f"""
    with {joined}
    {union}
    """


@query(
    "graph_scc",
    oracle=f"""
    with base as ( {_scc_oracle()} )
    select node, scc_id,
           cast(count(*) over (partition by scc_id) as bigint) as scc_size
    from base
    """,
    tags=("graph", "iterative", "scc", "bench_extended"),
)
def graph_scc(spark: SparkSession, sf: str) -> DataFrame:
    """(node, scc_id, scc_size) with scc_id = the minimum node id in
    the strongly connected component — computed by the FW-BW coloring
    loop, against a brute-force transitive-closure oracle (scc_id =
    min over mutually-reachable nodes).

    100 TB shape: the outer peel and both inner propagations follow
    the k-core loop discipline — one map-side-combined min-aggregate
    shuffle per round over an edge list that only SHRINKS, edges
    repartitioned on the join key once and localCheckpointed per
    round. All three loops stop on an empty delta (no improved label,
    no newly marked node, no node left): :class:`io.Fixpoint` counts
    the round's change set in the one job that materializes its
    checkpoint, so convergence costs no extra job and never a data
    compare. Labels are 8-byte longs; nothing wider ever shuffles.
    Peel progress is guaranteed (every class identifies its root's
    SCC each peel), and the round caps fail loudly rather than
    silently truncating.
    """
    sc = spark.sparkContext
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    e = (
        li.select(
            F.col("l_partkey").cast("long").alias("src"),
            F.lead("l_partkey").over(w).cast("long").alias("dst"),
        )
        .where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .distinct()
    )
    edges_all = e.repartition(sc.defaultParallelism, "src").localCheckpoint(
        eager=True
    )  # eager-by-design: reused by every peel round (k-core pattern)
    nodes = (
        edges_all.select(F.col("src").alias("node"))
        .union(edges_all.select(F.col("dst").alias("node")))
        .distinct()
    )
    edges = edges_all
    out = None
    peels = Fixpoint("graph_scc: peel loop", _SCC_MAX_PEELS, materializing_count)
    for _ in peels:
        nodes = peels.changed(nodes)
        if nodes is None:
            break
        # forward-min coloring to fixpoint: c(v) = min id reaching v.
        # DELTA ITERATION (r12): only labels that CHANGED last round
        # propagate — round r joins |changed| rows against the edge
        # list instead of |V| (the r11 shape re-joined every label
        # every round, which made the forward pass own nearly all the
        # pass's shuffled bytes at ×100). The label table still takes
        # the improved-rows merge each round, but the edge join — the
        # wide side — is frontier-bounded.
        lab = nodes.select("node", F.col("node").alias("c")).localCheckpoint(eager=True)
        changed = lab
        forward = Fixpoint("graph_scc: forward coloring", _SCC_MAX_PROP, materializing_count)
        for _ in forward:
            inc = (
                edges.join(
                    changed.select(F.col("node").alias("src"), F.col("c").alias("cs")),
                    "src",
                )
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("cs").alias("cin"))
            )
            changed = forward.changed(
                inc.join(lab, "node")
                .where(F.col("cin") < F.col("c"))
                .select("node", F.col("cin").alias("c"))
            )
            if changed is None:
                break
            lab = (
                lab.join(changed.select("node", F.col("c").alias("cn")), "node", "left")
                .select(
                    "node",
                    F.coalesce(F.col("cn"), F.col("c")).alias("c"),
                )
                .localCheckpoint(eager=True)
            )
        # backward pass restricted to each class, FRONTIER-ONLY (the
        # graph_bfs_distances discipline): mark = nodes known to reach
        # their class root (seeded by the roots themselves); each round
        # expands only the NEWLY marked nodes against the edge list,
        # anti-joins the accumulated mark set, and appends — so
        # per-round shuffle tracks |frontier edges|, never |marked|
        # (the r11 shape re-distincted the whole growing mark set every
        # round: O(marked) per round, the r11 verdict's one remaining
        # graph-scale nit).
        mark = lab.where(F.col("c") == F.col("node")).localCheckpoint(eager=True)
        frontier = mark
        backward = Fixpoint("graph_scc: backward pass", _SCC_MAX_PROP, materializing_count)
        for _ in backward:
            frontier = backward.changed(
                edges.join(
                    frontier.select(F.col("node").alias("dst"), F.col("c").alias("mc")),
                    "dst",
                )
                .select(F.col("src").alias("node"), F.col("mc").alias("c"))
                .join(lab, ["node", "c"])  # stay inside the class
                .distinct()
                .join(mark.select("node"), "node", "left_anti")
            )
            if frontier is None:
                break
            mark = mark.unionAll(frontier).localCheckpoint(eager=True)
        found = mark.select("node", F.col("c").alias("scc_id"))
        out = found if out is None else out.union(found)
        nodes = nodes.join(found, "node", "left_anti")
        gone = found.select(F.col("node").alias("g"))
        edges = (
            edges.join(gone.withColumnRenamed("g", "src"), "src", "left_anti")
            .join(gone.withColumnRenamed("g", "dst"), "dst", "left_anti")
            .localCheckpoint(eager=True)
        )
    if out is None:  # empty graph: no edges, no nodes, no components
        return spark.createDataFrame([], "node long, scc_id long, scc_size long")
    sizes = out.groupBy("scc_id").agg(F.count(F.lit(1)).cast("long").alias("scc_size"))
    return out.join(sizes, "scc_id").select("node", "scc_id", "scc_size")



# N214: HITS hubs & authorities (Kleinberg 1999) over the DIRECTED
# customer->supplier purchase graph: authority(s) = sum of hub scores
# of buyers, hub(c) = sum of authority scores of its suppliers,
# alternated. The classic formulation renormalizes each round (needs
# sqrt of a global sum); the UNNORMALIZED integer recursion ranks
# identically after any fixed round count — scores are exact int64
# path counts, so both engines replay them verbatim (the
# graph_pagerank integer-mass discipline without even a division).
_HITS_ROUNDS = 2


def _hits_oracle() -> str:
    ctes = []
    for r in range(1, _HITS_ROUNDS + 1):
        # h0 = 1 everywhere: round 1's authority is the in-degree
        a = (
            "select s as node, cast(count(*) as bigint) as a from trade group by s"
            if r == 1
            else f"""select e.s as node, cast(sum(h.h) as bigint) as a
      from trade e join h{r - 1} h on e.c = h.node group by e.s"""
        )
        ctes.append(f"""a{r} as (
      {a}
    ),
    h{r} as (
      select e.c as node, cast(sum(a.a) as bigint) as h
      from trade e join a{r} a on e.s = a.node group by e.c
    )""")
    ctes = ",\n    ".join(ctes)
    return f"""
    with {_TRADE_SQL},
    {ctes}
    select node, cast(coalesce(h, 0) as bigint) as hub_score,
           cast(0 as bigint) as auth_score, false as is_supplier
    from h{_HITS_ROUNDS}
    union all
    select node, cast(0 as bigint), a, true from a{_HITS_ROUNDS}
    """


@query("graph_hits", oracle=_hits_oracle(), tags=("graph", "iterative", "hits", "bench_extended"))
def graph_hits(spark: SparkSession, sf: str) -> DataFrame:
    """r-round (r=_HITS_ROUNDS) unnormalized HITS over the purchase
    graph: customers are pure hubs, suppliers pure authorities (the
    graph is bipartite), scores are exact integer weighted-path counts —
    a hub's score after round k counts length-2k alternating paths from
    it, which is exactly what normalized HITS ranks by.

    100 TB shape: the edge list is built once (one fact join +
    distinct, checkpointed pre-partitioned); each half-round is ONE
    map-side-combined sum shuffle keyed by the receiving side — the
    pagerank loop discipline with integer state and zero divisions.
    Overflow headroom: scores grow ~ deg^(2r-1); at B=1 start and 2
    rounds, even 1e6-degree hubs stay far inside int64.
    """
    e = (
        _trade_edges(spark, sf)
        .repartition(spark.sparkContext.defaultParallelism, "c")
        .localCheckpoint(eager=True)  # eager-by-design: reused by every half-round
    )

    def spread(score: DataFrame, frm: str, to: str) -> DataFrame:
        # one half-round: sum the `frm` side's scores onto each `to` node
        return (
            e.join(score.withColumnRenamed("node", frm), frm)
            .groupBy(F.col(to).alias("node"))
            .agg(F.sum("x").cast("long").alias("x"))
        )

    h = None  # h0 = 1 everywhere: round 1's authority is the in-degree
    for _ in range(_HITS_ROUNDS):
        a = (
            e.groupBy(F.col("s").alias("node")).agg(F.count(F.lit(1)).cast("long").alias("x"))
            if h is None
            else spread(h, "c", "s")
        )
        h = spread(a, "s", "c")
    hubs = h.select(
        "node",
        F.col("x").alias("hub_score"),
        F.lit(0).cast("long").alias("auth_score"),
        F.lit(False).alias("is_supplier"),
    )
    auths = a.select(
        "node",
        F.lit(0).cast("long").alias("hub_score"),
        F.col("x").alias("auth_score"),
        F.lit(True).alias("is_supplier"),
    )
    return hubs.unionByName(auths)


# N234: modularity of the label-propagation partition (Newman &
# Girvan 2004) — the evaluation member of the community family (what
# MRR is to retrieval): every community-detection pipeline reports
# Q, and a Q near 0 says the "communities" are no better than random
# wiring. Exactness: Q = sum_c [L_c/m - (d_c/2m)^2] rearranges to
# ONE division of exact integers, Q = (4*m*sum_c L_c' - sum_c d_c^2)
# / (4*m^2) with L_c' intra-community edges — so there is no
# per-community float fold and no ordering discipline needed at all.
def _modularity_oracle() -> str:
    return f"""
    with {_copurchase_sql()},
    {_edges_sql()},
    {_lpa_sql()},
    labels as (select node, label from l{_LPA_ROUNDS}),
    {_UND_SQL},
    {_DEG_SQL},
    m as (select cast(count(*) as bigint) as m from e),
    intra as (
      select cast(count(*) as bigint) as l_in
      from e
        join labels lu on lu.node = e.u
        join labels lv on lv.node = e.v
      where lu.label = lv.label
    ),
    dc as (
      select cast(sum(dd * dd) as bigint) as dc2 from (
        select l.label, cast(sum(deg.d) as bigint) as dd
        from deg join labels l using (node)
        group by l.label
      )
    ),
    nc as (select cast(count(distinct label) as bigint) as n_communities from labels)
    select nc.n_communities, m.m as m_edges, intra.l_in as intra_edges,
           cast(4 * m.m * intra.l_in - dc.dc2 as double)
             / nullif(cast(4 * m.m * m.m as double), 0.0) as q_modularity
    from nc cross join m cross join intra cross join dc
    """


@query("graph_modularity", oracle=_modularity_oracle(), tags=("graph", "community", "eval", "bench_extended"))
def graph_modularity(spark: SparkSession, sf: str) -> DataFrame:
    """Newman modularity Q of the co-purchase communities found by
    :func:`graph_label_propagation`, plus the partition's shape
    (community count, edge count, intra-community edges).

    100 TB shape: degrees and intra-edge counts are map-side-combined
    aggregates on the already-built edge list; community degree mass
    collapses to |communities| rows before squaring; Q is ONE integer
    expression on a 1-row frame — the rearranged form needs no
    per-community float fold, so no ordering discipline applies.
    Integer bound: d_c^2 stays inside int64 while the heaviest
    community holds < ~1.5e9 edge endpoints (decimal(38) beyond).
    """
    e = _copurchase_edges(spark, sf).localCheckpoint(eager=True)
    # eager-by-design: the basket expansion feeds label propagation's
    # adjacency, the edge count, the degree table, AND the intra join
    labels = _label_propagation(e).localCheckpoint(eager=True)
    # eager-by-design: the label table is read by the intra join, the
    # community mass rollup, and the community count
    deg = _degrees(_both_ways(e))
    m = e.agg(F.count(F.lit(1)).cast("long").alias("m"))
    lu = labels.select(F.col("node").alias("u"), F.col("label").alias("cu"))
    lv = labels.select(F.col("node").alias("v"), F.col("label").alias("cv"))
    intra = (
        e.join(lu, "u").join(lv, "v").where(F.col("cu") == F.col("cv"))
        .agg(F.count(F.lit(1)).cast("long").alias("l_in"))
    )
    dc = (
        deg.join(labels, "node")
        .groupBy("label")
        .agg(F.sum("d").cast("long").alias("dd"))
        .agg(F.sum(F.col("dd") * F.col("dd")).cast("long").alias("dc2"))
    )
    nc = labels.agg(F.countDistinct("label").cast("long").alias("n_communities"))
    out = (
        nc.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(intra))
        .crossJoin(F.broadcast(dc))
    )
    return out.select(
        "n_communities",
        F.col("m").alias("m_edges"),
        F.col("l_in").alias("intra_edges"),
        F.expr(
            "cast(4 * m * l_in - dc2 as double)"
            " / nullif(cast(4 * m * m as double), 0.0)"
        ).alias("q_modularity"),
    )


# N243: degree assortativity (Newman 2002) — the graph-structure
# diagnostic beside modularity: r > 0 means hubs wire to hubs
# (resilient core), r < 0 means hub-and-spoke (one hub's loss
# fragments the graph). Over the DIRECTED doubling of the undirected
# edge set the two endpoint-degree marginals are identical, so
# Pearson's r needs NO square root — numerator and denominator are
# the same integer moment forms and r is ONE division of exact
# integers (cast to double only inside the shared formula text).
_ASSORT_R = (
    "((cast(m as double) * sxy - cast(sx as double) * sx)"
    " / nullif(cast(m as double) * sxx - cast(sx as double) * sx, 0.0))"
)


def _assortativity_oracle() -> str:
    return f"""
    with {_copurchase_sql()},
    {_UND_SQL},
    {_DEG_SQL},
    m as (
      select cast(count(*) as bigint) as m,
             cast(sum(du.d) as bigint) as sx,
             cast(sum(du.d * dv.d) as bigint) as sxy,
             cast(sum(du.d * du.d) as bigint) as sxx
      from und join deg du on und.u = du.node join deg dv on und.v = dv.node
    )
    select cast(m // 2 as bigint) as n_edges,
           (select cast(count(*) as bigint) from deg) as n_nodes,
           {_ASSORT_R} as assortativity
    from m
    """


@query(
    "graph_degree_assortativity",
    oracle=_assortativity_oracle(),
    tags=("graph", "diagnostic", "bench_extended"),
)
def graph_degree_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (the
    graph_triangles edge list).

    100 TB shape: degrees are one map-side-combined count over the
    doubled edge list; the moment pass is two narrow id-keyed hash
    joins (8-byte degree rows, never adjacency materialization) into
    a 1-row integer aggregate; r is a 1-row shared-text expression.
    The regular-graph degenerate (zero degree variance) goes NULL via
    nullif on both engines.
    """
    und = _both_ways(_copurchase_edges(spark, sf)).localCheckpoint()
    # eager-by-design: the doubled edge list feeds the degree count
    # AND the moment joins — without the cut the basket expansion
    # re-runs three times
    deg = _degrees(und)
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    mrow = (
        und.join(du, "u")
        .join(dv, "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum("du").cast("long").alias("sx"),
            F.sum(F.col("du") * F.col("dv")).cast("long").alias("sxy"),
            F.sum(F.col("du") * F.col("du")).cast("long").alias("sxx"),
        )
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return mrow.crossJoin(F.broadcast(n_nodes)).select(
        F.expr("m div 2").cast("long").alias("n_edges"),
        "n_nodes",
        F.expr(_ASSORT_R).alias("assortativity"),
    )
