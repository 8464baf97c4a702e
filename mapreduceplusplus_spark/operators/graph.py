"""Graph analytics over a derived co-purchase graph — the missing
family between relational OLAP and the dedup clustering ops
(``llm/dedup.py`` already does connected components; these rows add
degree statistics and triangle counting, the standard
graph-health / community-structure primitives).

Graph definition (shared by both queries and both engines): vertices
are parts with ``p_partkey < 400``; an undirected edge (a, b), a < b,
exists iff the two parts co-occur in at least one order.  Distinct-ing
the pair set makes the graph simple (no multi-edges, no loops).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceplusplus_spark.iterate import fixpoint, truncate
from mapreduceplusplus_spark.registry import query
from mapreduceplusplus_spark.session import ensure_utc
from mapreduceplusplus_spark.sources.tables import load_table

#: FIXTURE-TRACTABILITY cap on the co-purchase graph's vertex count —
#: NOT an algorithmic limit (VERDICT r9 item 6).  The peel / star /
#: frontier machinery in this module is scale-correct and loud on
#: non-convergence; the cap only keeps the DuckDB oracles (recursive
#: CTEs, naive 3-way joins — deliberately unscalable checking
#: algorithms) tractable at test scale, and is applied identically on
#: both engines so the differential stays exact.  Override via
#: ``SPARK_GRAFT_GRAPH_VMAX`` (like ``SPARK_GRAFT_CPUS``) to exercise
#: the loops on a bigger slice — e.g. VMAX=10000 at sf0.1 runs the
#: k-core peel on a ~10^4-vertex graph (scale row in BASELINE.md).
_VMAX = int(os.environ.get("SPARK_GRAFT_GRAPH_VMAX", "400"))

def _copurchase_edges(
    spark: SparkSession,
    sf_dir: str,
    *,
    min_cooc: int | None = None,
    weighted: bool = False,
) -> DataFrame:
    """Undirected co-purchase edge list (a < b) over parts with
    ``p_partkey < _VMAX`` — the shared builder behind every
    graph-family query (factored from six inline copies by the r10
    review).  ``min_cooc`` applies the ≥N-orders support threshold
    (the CC / weighted-SSSP graph); ``weighted`` appends the
    deterministic edge weight ``1 + (a+b) mod 5``.  Every variant's
    oracle SQL restates the same definition independently."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") < _VMAX)
        .select("l_orderkey", "l_partkey")
    )
    a = li.alias("x")
    b = li.alias("y")
    pairs = a.join(
        b,
        (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        & (F.col("x.l_partkey") < F.col("y.l_partkey")),
    )
    if min_cooc is None:
        edges = pairs.select(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        ).distinct()
    else:
        edges = (
            pairs.groupBy(
                F.col("x.l_partkey").alias("a"),
                F.col("y.l_partkey").alias("b"),
            )
            .agg(F.count("*").alias("n_cooc"))
            .where(F.col("n_cooc") >= min_cooc)
            .select("a", "b")
        )
    if weighted:
        edges = edges.select(
            "a", "b", (1 + (F.col("a") + F.col("b")) % 5).alias("w")
        )
    return edges


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected ``(a, b, *extra)`` → directed-both-ways
    ``(u, v, *extra)``."""
    extra = [c for c in edges.columns if c not in ("a", "b")]
    return edges.select(
        F.col("a").alias("u"), F.col("b").alias("v"), *extra
    ).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"), *extra)
    )


_EDGES_SQL = f"""
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
      WHERE a.l_partkey < {_VMAX} AND b.l_partkey < {_VMAX}
"""

_DEGREE_SQL = f"""
    WITH e AS ({_EDGES_SQL}),
    verts AS (
      SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
    ),
    deg AS (
      SELECT v, count(*) AS degree FROM verts GROUP BY v
    )
    SELECT CAST(degree AS BIGINT) AS degree,
           count(*) AS n_vertices
    FROM deg GROUP BY degree
"""


@query("graph_degree_distribution", oracle=_DEGREE_SQL)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph — the first thing
    anyone profiles about a graph (power-law tail ⇒ hub-skew risk for
    every downstream per-vertex operation).  Built relationally: the
    edge list is a self-join of lineitem on the order key (distinct-ed
    to a simple graph), degrees are one hash aggregate over the edge
    endpoints (UNION ALL, no per-vertex state), and the histogram is a
    second, already-tiny aggregate.

    At 100 TB the only real shuffle is the edge-list distinct on the
    pair key; per-order fan-out is bounded by lines-per-order (≤ 7 in
    TPC-H-shaped data), so the self-join never explodes — the same
    bounded-basket argument as ``join_market_basket``.  Shared SQL
    text with the oracle."""
    ensure_utc(spark)
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_DEGREE_SQL)


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    m AS (SELECT count(*) AS n_edges FROM e),
    n AS (SELECT count(DISTINCT v) AS n_vertices
          FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e))
    SELECT CAST(n.n_vertices AS BIGINT) AS n_vertices,
           CAST(m.n_edges AS BIGINT) AS n_edges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles
    FROM tri CROSS JOIN m CROSS JOIN n
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting with DEGREE-ORDERED ORIENTATION — the
    MapReduce-era algorithm (Suri & Vassilvitskii's "Counting
    triangles and the curse of the last reducer") that makes triangle
    enumeration skew-proof: every undirected edge is oriented from its
    lower-(degree, id) endpoint to the higher one, turning the graph
    into a DAG where each vertex's OUT-degree is O(√m) regardless of
    how big a hub its undirected degree made it.  Wedges are then a
    self-join of out-edges on the source, and a wedge (s→u, s→w) forms
    a triangle iff the oriented edge u→w exists (u, w canonicalized by
    the SAME (degree, id) order, so each triangle is found exactly
    once at its minimum vertex).

    Why not the naive 3-way self-join the ORACLE uses: on a power-law
    graph the naive join materializes Σ deg² wedges — the hub vertex
    alone can exceed the rest of the graph combined ("the curse of the
    last reducer"); orientation caps per-vertex work at Σ outdeg² ≤
    O(m^1.5) with no hot key.  The oracle keeps the independent naive
    formulation precisely so the optimized algorithm is checked
    against un-optimized semantics.

    Plan: edge distinct (one shuffle) → degree agg (one shuffle) →
    degree join-back → wedge self-join on src → closing-edge join on
    (u, w).  All joins hash-partitionable; AQE broadcasts the reduced
    sides at test scale.  ``edges`` / ``deg`` / ``oriented`` are each
    consumed by 2–3 downstream branches, so they are materialized once
    via ``iterate.truncate`` — without it Catalyst re-executes the lineitem
    self-join+distinct subplan for every branch (measured 38 parquet
    scans in the executed plan before the change, 2 logical scans
    after)."""
    ensure_utc(spark)
    edges = truncate(_copurchase_edges(spark, sf_dir))
    verts = edges.select(F.col("a").alias("v")).unionAll(
        edges.select(F.col("b").alias("v"))
    )
    deg = truncate(verts.groupBy("v").agg(F.count("*").alias("d")))
    # orient each edge from the (degree, id)-smaller endpoint
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    ed = edges.join(da, "a").join(db, "b")
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = truncate(ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("ddst"),
    ))
    o1 = oriented.select(
        F.col("src"), F.col("dst").alias("u"), F.col("ddst").alias("du")
    )
    o2 = oriented.select(
        F.col("src"), F.col("dst").alias("w"), F.col("ddst").alias("dw")
    )
    # each unordered out-pair once, ordered by the SAME (degree, id) key
    wedges = o1.join(o2, "src").where(
        (F.col("du") < F.col("dw"))
        | ((F.col("du") == F.col("dw")) & (F.col("u") < F.col("w")))
    )
    closing = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w")
    )
    tri = wedges.join(closing, ["u", "w"]).agg(
        F.count("*").alias("n_triangles")
    )
    m = edges.agg(F.count("*").alias("n_edges"))
    n = verts.agg(F.countDistinct("v").alias("n_vertices"))
    return (
        tri.crossJoin(m)
        .crossJoin(n)
        .select(
            F.col("n_vertices").cast("bigint").alias("n_vertices"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
        )
    )


_PR_ITERS = 3
_PR_UNIT = 1_000_000  # per-vertex starting mass in micro-units
_PR_BASE = 150_000    # 0.15 teleport base (unnormalized formulation)


def _pr_iter_sql(prev: str, out: str) -> str:
    """One quantized PageRank step as dialect-intersection SQL: each
    vertex sends floor(pr / outdeg) along every incident edge and
    collects base + floor(0.85 * inflow)."""
    return f"""
    {out} AS (
      SELECT e.dst AS v,
             CAST({_PR_BASE} + (85 * sum(p.pr // d.outdeg)) // 100 AS BIGINT)
               AS pr
      FROM E2 e
      JOIN {prev} p ON p.v = e.src
      JOIN D d ON d.src = e.src
      GROUP BY e.dst
    )"""


@query(
    "graph_pagerank",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    E2 AS (
      SELECT a AS src, b AS dst FROM e
      UNION ALL
      SELECT b AS src, a AS dst FROM e
    ),
    D AS (SELECT src, count(*) AS outdeg FROM E2 GROUP BY src),
    P0 AS (SELECT src AS v, CAST({_PR_UNIT} AS BIGINT) AS pr FROM D),
    {_pr_iter_sql("P0", "P1")},
    {_pr_iter_sql("P1", "P2")},
    {_pr_iter_sql("P2", "P3")}
    SELECT v AS vertex, pr AS pr_micro
    FROM P3
    ORDER BY pr DESC, v
    LIMIT 25
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed power iterations, damping 0.85) over the
    co-purchase graph, QUANTIZED to integer micro-units so the
    distributed run is bit-identical to the SQL-unrolled oracle —
    the same determinism device as ``ml_kmeans_lloyd``: a float
    PageRank's per-vertex sums are accumulation-order-dependent,
    the integer formulation (contribution = pr // outdeg, update =
    base + 85·inflow // 100) is partitioning-independent by
    construction.  Uses the classic unnormalized teleport (0.15 per
    vertex) — ranking-equivalent to the 1/N form on a fixed graph.

    Spark side: the undirected edge list is doubled into directed
    form ONCE; each iteration is one join to the current rank vector +
    one hash aggregate on the destination, truncated per round
    (``iterate.truncate``).  At 100 TB
    scale the edge relation is hash-partitioned on src and the rank
    vector co-shuffles — the canonical Pregel-on-relational shape.
    Top-25 by final rank, full (pr, id) tiebreak."""
    ensure_utc(spark)
    e2 = truncate(
        _symmetrize(_copurchase_edges(spark, sf_dir))
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )
    d = truncate(e2.groupBy("src").agg(F.count("*").alias("outdeg")))
    pr = d.select(F.col("src").alias("v"), F.lit(_PR_UNIT).cast("bigint").alias("pr"))
    for _ in range(_PR_ITERS):
        pr = truncate(
            e2.join(pr, e2["src"] == pr["v"])
            .join(d, "src")
            .groupBy(F.col("dst").alias("v2"))
            .agg(
                (
                    F.lit(_PR_BASE)
                    + F.expr("(85 * sum(pr div outdeg)) div 100")
                )
                .cast("bigint")
                .alias("pr")
            )
            .select(F.col("v2").alias("v"), "pr")
        )
    return (
        pr.select(F.col("v").alias("vertex"), F.col("pr").alias("pr_micro"))
        .orderBy(F.col("pr_micro").desc(), "vertex")
        .limit(25)
    )


#: minimum order co-occurrence for a CC edge — fragments the graph
#: into ~59 components at the oracle scale (see docstring)
_CC_MIN_COOC = 2

#: the support-thresholded edge set as oracle SQL — shared by the CC
#: and weighted-SSSP oracles (one definition, two checking algorithms)
_THRESHOLDED_EDGES_SQL = f"""
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
      WHERE a.l_partkey < {_VMAX} AND b.l_partkey < {_VMAX}
      GROUP BY 1, 2 HAVING count(*) >= {_CC_MIN_COOC}
"""


@query(
    "graph_connected_components",
    oracle=f"""
    WITH RECURSIVE e AS ({_THRESHOLDED_EDGES_SQL}),
    E2 AS (
      SELECT a AS src, b AS dst FROM e
      UNION ALL
      SELECT b AS src, a AS dst FROM e
    ),
    verts AS (SELECT DISTINCT src AS v FROM E2),
    r AS (
      SELECT v, v AS lbl FROM verts
      UNION
      SELECT e2.dst AS v, r.lbl
      FROM r JOIN E2 e2 ON e2.src = r.v
    ),
    comp AS (SELECT v, min(lbl) AS root FROM r GROUP BY v)
    SELECT CAST(root AS BIGINT) AS component,
           count(*) AS n_vertices
    FROM comp GROUP BY root
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-purchase graph — the standalone
    graph-family exposure of the large-star/small-star machinery that
    ``dedup_cluster_canonical`` runs on near-dup pair graphs
    (``llm/dedup.py::_cc_two_phase``; Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14).  Each component is
    labeled by its MINIMUM vertex id and reported with its vertex
    count — the "how fragmented is this graph" profile that pairs with
    ``graph_degree_distribution``.

    Unlike the other graph rows, edges here require the pair to
    co-occur in ≥ 2 ORDERS (a support threshold, the
    association-rule convention): the raw co-purchase graph is one
    giant component at the oracle scale, which would let a
    merge-everything CC bug pass — thresholded, the sf0.01 graph has
    ~59 components (sizes 1–11), so both the labeling and the
    star-convergence are genuinely exercised.

    The ORACLE is deliberately a different algorithm: a recursive-CTE
    transitive closure (seed every vertex with its own label, spread
    labels along directed-both-ways edges to fixpoint under UNION
    dedup, take min per vertex).  The closure materializes
    O(Σ |component|²) rows — fine for DuckDB on the ≤{_VMAX}-vertex
    test graph, catastrophic at 100 TB — while the Spark side's
    star alternations converge in O(log n) ROUNDS with per-round
    shuffles linear in the edge count and no hot key (each round is a
    groupBy-min plus an equi-join).  Checking the scalable algorithm
    against un-scalable-but-obviously-correct semantics is the same
    device as ``graph_triangle_count``'s naive 3-way-join oracle.

    Scale: the edge distinct is the only data-sized shuffle; the CC
    loop then works on the (much smaller) vertex-pair relation,
    halving star depth each alternation; rounds and cap are
    ``iterate``'s (see ``_cc_two_phase``)."""
    from mapreduceplusplus_spark.llm.dedup import _cc_two_phase

    ensure_utc(spark)
    sym = _symmetrize(
        _copurchase_edges(spark, sf_dir, min_cooc=_CC_MIN_COOC)
    )
    labels, _rounds = _cc_two_phase(truncate(sym))
    return labels.groupBy(F.col("label").alias("component")).agg(
        F.count("*").alias("n_vertices")
    ).select(F.col("component").cast("bigint"), "n_vertices")


#: k-core order: vertices surviving iterated removal of degree-<K nodes.
#: 15 on the (unthresholded) co-purchase graph → a 351-of-400-vertex
#: core reached through a 4-round peel cascade at the oracle scale
#: (removals push further vertices under K each round); 18 would
#: cascade to empty, 8 removes nothing — 15 exercises the iteration
_KCORE_K = 15
_KCORE_MAX_ROUNDS = 30


def kcore_subgraph(edges: DataFrame, k: int = _KCORE_K) -> tuple[DataFrame, int]:
    """k-core by distributed peeling: repeatedly delete every vertex
    of degree < k (and its edges) until none remains — the standard
    greatest-fixpoint formulation (Matula & Beck '83; the MapReduce
    peel is one degree aggregate + two semi-joins per round).  Unlike
    connected components (least fixpoint, expressible as a recursive
    CTE), the k-core REMOVES rows monotonically, which SQL recursion
    cannot express — hence rows-only verification against constructed
    fixtures.

    ``edges`` is the SYMMETRIC edge list (u, v).  Each round:
    degree = one map-side-combined hash aggregate; survivors = a
    degree filter; the next edge set = two hash semi-joins (u
    surviving, v surviving).  The loop (``iterate.fixpoint``, capped
    at ``_KCORE_MAX_ROUNDS``) exits when the edge count stops changing
    — by construction that is the k-core.  Worst case (a path peeling
    one vertex per round) needs O(n) rounds; real graphs peel in a
    handful.

    Returns ``(vertices(v, degree) of the k-core, rounds)``."""
    def peel(state):
        cur, n_cur = state
        deg = cur.groupBy("u").agg(F.count("*").alias("d"))
        keep = truncate(deg.where(F.col("d") >= k).select("u"))
        nxt = truncate(
            cur.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
        )
        n_nxt = nxt.count()
        return (nxt, n_nxt), n_nxt == n_cur

    cur = truncate(edges)
    (cur, _), rounds = fixpoint(
        (cur, cur.count()), peel, _KCORE_MAX_ROUNDS, "k-core peeling"
    )
    return cur.groupBy(F.col("u").alias("v")).agg(
        F.count("*").alias("degree")
    ), rounds


@query(
    "graph_kcore",
    oracle=f"""
    WITH RECURSIVE e AS ({{edges}}),
    sym AS (
      SELECT a AS u, b AS v FROM e
      UNION ALL
      SELECT b AS u, a AS v FROM e
    ),
    peel(removed) AS (
      SELECT CAST([] AS BIGINT[])
      UNION
      SELECT list_sort(list_distinct(
        p.removed
        || coalesce((
             SELECT list(u) FROM (
               SELECT s.u AS u, count(*) AS deg
               FROM sym s
               WHERE NOT list_contains(p.removed, s.u)
                 AND NOT list_contains(p.removed, s.v)
               GROUP BY s.u
               HAVING count(*) < {{k}}
             )), [])
        || coalesce((
             SELECT list(u) FROM (
               SELECT u FROM (SELECT DISTINCT u FROM sym)
               WHERE NOT list_contains(p.removed, u)
                 AND NOT EXISTS (
                   SELECT 1 FROM sym s2 WHERE s2.u = u
                   AND NOT list_contains(p.removed, s2.v))
             )), [])))
      FROM peel p
    ),
    final AS (SELECT removed FROM peel ORDER BY len(removed) DESC LIMIT 1)
    SELECT s.u AS v, CAST(count(*) AS BIGINT) AS degree
    FROM sym s CROSS JOIN final f
    WHERE NOT list_contains(f.removed, s.u)
      AND NOT list_contains(f.removed, s.v)
    GROUP BY s.u
    """.format(edges=_EDGES_SQL, k=_KCORE_K),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertices of the 15-core of the co-purchase graph (the
    ``graph_degree_distribution`` edge definition — UNthresholded, so
    the graph is dense enough to carry a core), with their within-core
    degree — the standard cohesion filter ("drop everything that only
    hangs on by < k ties") used to find dense engagement cores in
    co-occurrence graphs.

    Scale: each peel round is one hash aggregate plus two semi-joins,
    all equi-keyed on vertex ids — no hot key beyond the graph's own
    degree skew, and the edge relation only SHRINKS round over round.
    See ``kcore_subgraph`` for the algorithm and round-cap contract.

    ORACLE (r14): the greatest fixpoint IS expressible in recursive
    SQL by accumulating the REMOVED set as a growing list carried in a
    single working row — each recursive step recomputes surviving
    degrees against the current list and appends the under-k and
    newly-isolated vertices; UNION dedup terminates the recursion at
    the fixpoint (the step is deterministic, so the first repeated row
    stops it).  O(|V|) list cells in one row is fine at oracle scale
    (VMAX-gated graph); the Spark side keeps the distributed
    shrinking-edge-relation peel — same contract, different physical
    strategy.  This retires the r1–r13 "recursive SQL cannot express
    row removal" exemption; the cascade/self-consistency pins stay."""
    ensure_utc(spark)
    sym = _symmetrize(_copurchase_edges(spark, sf_dir))
    core, _rounds = kcore_subgraph(sym, _KCORE_K)
    return core.select(F.col("v").cast("bigint"), "degree")


#: BFS frontier-round cap — 64 covers any plausible diameter of the
#: test graphs (the dense co-purchase graph's is ~3); the constructed
#: chain fixture in tests/test_operator_edges.py drives ~25 rounds.
#: Like the CC/k-core caps, overrun RAISES instead of returning
#: partial distances.
_SSSP_MAX_ROUNDS = 64
#: oracle-side recursion depth bound (must exceed the true diameter;
#: the differential would expose a too-small bound as a value mismatch).
#: SCALES with the ``SPARK_GRAFT_GRAPH_VMAX`` override (ADVICE r10):
#: a bigger vertex slice can carry a bigger diameter, and a fixed
#: bound would fail a CORRECT Spark answer as a false mismatch — so
#: the bound grows linearly with the cap (a deliberate overestimate;
#: hop diameter grows sublinearly in vertices, and an oversized bound
#: only costs oracle time, never correctness).
_SSSP_ORACLE_DEPTH = max(20, -(-20 * _VMAX // 400))


def sssp_frontier(edges_sym: DataFrame, source: int) -> tuple[DataFrame, int]:
    """Single-source shortest hop-distances by FRONTIER BFS — the
    Pregel-on-relational pattern (each round: join the frontier to the
    edge relation, anti-join out already-settled vertices), completing
    the iterative-graph family next to ``_cc_two_phase`` (label
    contraction), ``graph_pagerank`` (fixed-point push) and
    ``kcore_subgraph`` (monotone peel).

    Each round costs ONE equi-join of the current frontier against the
    edge list (hash-partitioned on the vertex key, co-shuffle-able
    with a pre-partitioned edge relation at scale) plus one anti-join
    — against the LAST TWO frontier levels only (r17, VERDICT r16 #4):
    on a SYMMETRIC edge relation (this helper's input contract — every
    caller passes ``_symmetrize``d or both-ways edges) a neighbor of a
    depth-d vertex has depth ∈ {d−1, d, d+1} (if dist(v) < d−1 then
    its frontier neighbor u would have dist ≤ dist(v)+1 < d,
    contradicting u ∈ F_d), so candidates can only collide with
    F_d ∪ F_{d−1} and the anti-join side is BOUNDED by two level
    sizes instead of the GROWING settled union the pre-r17 form
    re-shuffled every round — at scale that was O(|V|) anti-join
    bytes per round, now O(|frontier|).  The per-round ``distinct``
    is keyed on ``v`` alone: each round's candidates share ONE depth,
    so the old (v, dist) key carried a constant through the exchange
    and the depth is attached as a literal after the anti-join
    (narrower shuffle rows, guide §2.3).  The frontier only ever
    holds the NEWLY reached vertices, so total work over the whole
    run is O(Σ degree of reached vertices) — each edge relaxes at
    most twice.  Only each round's NEW frontier is truncated; the
    settled set stays a LAZY union over those materialized leaves
    (re-truncating the whole settled set would copy O(|V|·depth) rows
    over a run), so its lineage depth is bounded by the round cap.
    Round count = source eccentricity + 1 (the final round that
    discovers the empty frontier is counted); the loop is
    ``iterate.fixpoint`` capped at ``_SSSP_MAX_ROUNDS``.

    Returns ``(frame(v, dist), rounds)``; unreachable vertices are
    absent (the BFS semantics — callers wanting ∞ rows can left-join
    the vertex set)."""
    def expand(state):
        # this round's depth is len(levels); prev is F_{d-1}, v column only
        levels, frontier, prev = state
        cand = (
            frontier.join(edges_sym, frontier["v"] == edges_sym["u"])
            .select(edges_sym["v"].cast("bigint").alias("v"))
            .distinct()
        )
        seen = frontier if prev is None else frontier.unionByName(prev)
        new = truncate(
            cand.join(seen, "v", "left_anti")
            .select("v", F.lit(len(levels)).cast("bigint").alias("dist"))
        )
        if new.isEmpty():
            return state, True
        return (levels + [new], new.select("v"), frontier), False

    spark = edges_sym.sparkSession
    level0 = truncate(
        spark.createDataFrame([(source, 0)], "v BIGINT, dist BIGINT")
    )
    (levels, _, _), rounds = fixpoint(
        ([level0], level0.select("v"), None),
        expand,
        _SSSP_MAX_ROUNDS,
        "BFS frontier",
    )
    settled = levels[0]
    for lv in levels[1:]:  # lazy over truncated leaves
        settled = settled.unionByName(lv)
    return settled, rounds


def bellman_ford(
    edges_w: DataFrame, sources: DataFrame
) -> tuple[DataFrame, int]:
    """Multi-source WEIGHTED shortest paths by distributed
    Bellman-Ford value iteration — the weighted complement of
    ``sssp_frontier`` (BFS settles by hop count; with weights a
    later-found route can be cheaper, so vertices cannot be settled —
    instead the whole distance relation relaxes to a fixpoint).

    ``edges_w`` is the symmetric weighted edge list (u, v, w ≥ 1);
    ``sources`` a frame of source vertex ids.  Each round: ONE
    equi-join of the current (source, v, dist) relation against the
    edge list (hash-partitioned on the vertex key) produces candidate
    relaxations, then one hash aggregate takes the min per (source,
    v); convergence = an empty anti-join of the new relation against
    the old (no row improved, none added).  Rounds ≤ the longest
    shortest-path EDGE COUNT + 1, on ``iterate.fixpoint`` capped at
    ``_SSSP_MAX_ROUNDS``.  At scale the distance relation
    co-partitions with the edge list on the vertex key, so every
    round is one co-located shuffle join + one combine-enabled agg."""
    def relax(dist):
        cand = dist.join(edges_w, dist["v"] == edges_w["u"]).select(
            dist["source"],
            edges_w["v"].cast("bigint").alias("v"),
            (dist["dist"] + edges_w["w"]).alias("dist"),
        )
        nxt = truncate(
            dist.unionByName(cand)
            .groupBy("source", "v")
            .agg(F.min("dist").alias("dist"))
        )
        return nxt, nxt.join(dist, ["source", "v", "dist"], "left_anti").isEmpty()

    dist0 = truncate(sources.select(
        F.col("source").cast("bigint").alias("source"),
        F.col("source").cast("bigint").alias("v"),
        F.lit(0).cast("bigint").alias("dist"),
    ))
    return fixpoint(dist0, relax, _SSSP_MAX_ROUNDS, "Bellman-Ford fixpoint")


#: oracle-side walk-weight bound for the WEIGHTED oracle: the
#: thresholded fixture graph's components have ≤ ~11 vertices and edge
#: weights ≤ 5, so every shortest path weighs ≤ 50; strictly-positive
#: weights make walk weight increase every step, so the recursion
#: terminates.  An undersized bound cannot hide — it would surface as
#: a value mismatch in the differential.  Like ``_SSSP_ORACLE_DEPTH``
#: this scales with the ``SPARK_GRAFT_GRAPH_VMAX`` override (ADVICE
#: r10): max edge weight is 5, so heaviest-shortest-path ≤ 5·diameter,
#: and the linear-in-VMAX overestimate keeps the differential valid
#: (not falsely red) when the knob enlarges the graph.
_BF_ORACLE_WMAX = max(60, -(-60 * _VMAX // 400))

@query(
    "graph_sssp_weighted",
    oracle=f"""
    WITH RECURSIVE e AS ({_THRESHOLDED_EDGES_SQL}),
    E2 AS (
      SELECT a AS src, b AS dst, 1 + (a + b) % 5 AS w FROM e
      UNION ALL
      SELECT b AS src, a AS dst, 1 + (a + b) % 5 AS w FROM e
    ),
    srcs AS (SELECT DISTINCT src FROM E2 WHERE src % 7 = 0),
    r AS (
      SELECT src AS source, src AS v, 0 AS d FROM srcs
      UNION
      SELECT r.source, e2.dst AS v, r.d + e2.w AS d
      FROM r JOIN E2 e2 ON e2.src = r.v
      WHERE r.d < {_BF_ORACLE_WMAX}
    )
    SELECT CAST(source AS BIGINT) AS source,
           CAST(v AS BIGINT)      AS vertex,
           CAST(min(d) AS BIGINT) AS dist
    FROM r GROUP BY source, v
    """,
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source WEIGHTED shortest paths (Bellman-Ford) over the
    support-thresholded co-purchase graph — hop count is the wrong
    cost model whenever edges carry one (latency, toll, dissimilarity);
    this row pins the weighted semantics BFS cannot express: a 2-hop
    route must beat a heavier direct edge.  Deterministic integer
    weights w(a,b) = 1 + (a+b) mod 5 derive from the edge itself
    (both engines compute them identically); sources are every graph
    vertex divisible by 7 (a landmark set — the multi-source form is
    the actual production shape: one relaxation job amortizes across
    all landmarks instead of |L| separate runs, the same batching
    argument as ``sim_search_knn_join``).

    The ORACLE enumerates weighted walks by recursive CTE (UNION-dedup
    on (source, v, cumulative weight), bounded at {_BF_ORACLE_WMAX} ≫
    the heaviest shortest path) and takes the min — O(|V|·W) state,
    fine at fixture scale, unusable at 100 TB — while the Spark side's
    value iteration keeps exactly one row per (source, vertex) and
    relaxes to fixpoint in ≤ longest-shortest-path-hops rounds.  See
    ``bellman_ford`` for the per-round cost shape and the loud-cap
    contract."""
    ensure_utc(spark)
    # persisted pre-partitioned on the relaxation join key (r17) — the
    # same one-edge-shuffle-per-run device as ``graph_sssp``; the
    # per-round dist⋈edges join reuses this partitioning instead of
    # re-exchanging the edge list every Bellman-Ford round
    e2 = (
        _symmetrize(
            _copurchase_edges(
                spark, sf_dir, min_cooc=_CC_MIN_COOC, weighted=True
            )
        )
        .repartition("u")
        .persist()
    )
    sources = (
        e2.select("u").distinct().where(F.col("u") % 7 == 0)
        .select(F.col("u").alias("source"))
    )
    dist, _rounds = bellman_ford(e2, sources)
    return dist.select(
        "source", F.col("v").alias("vertex"), F.col("dist")
    )


@query(
    "graph_sssp",
    oracle=f"""
    WITH RECURSIVE e AS ({_EDGES_SQL}),
    E2 AS (
      SELECT a AS src, b AS dst FROM e
      UNION ALL
      SELECT b AS src, a AS dst FROM e
    ),
    r AS (
      -- IS NOT NULL: an EMPTY graph has min(src) = NULL and must seed
      -- zero rows (both engines return no distances), not a NULL row
      SELECT src AS v, 0 AS d
      FROM (SELECT min(src) AS src FROM E2) WHERE src IS NOT NULL
      UNION
      SELECT e2.dst AS v, r.d + 1 AS d
      FROM r JOIN E2 e2 ON e2.src = r.v
      WHERE r.d < {_SSSP_ORACLE_DEPTH}
    )
    SELECT CAST(v AS BIGINT) AS vertex,
           CAST(min(d) AS BIGINT) AS dist
    FROM r GROUP BY v
    """,
)
def graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest hop-distance from the minimum-id vertex to every
    reachable vertex of the co-purchase graph (VERDICT r9 item 4 —
    the frontier-based BFS/SSSP row that completes the
    Pregel-on-relational family).  Unit edge weights make BFS = SSSP;
    the distance profile ("how many vertices sit k hops out") is the
    standard reachability/latency census over a co-occurrence graph.

    The ORACLE is again a deliberately different algorithm: a
    recursive-CTE walk enumeration (seed the source at depth 0, extend
    every path one edge per iteration under UNION dedup, bounded at
    depth {_SSSP_ORACLE_DEPTH} ≫ the fixture diameter, take min depth
    per vertex).  The closure materializes O(|V| · depth) rows and
    re-joins the full edge set per iteration — fine for DuckDB under
    the ≤``_VMAX``-vertex fixture cap, unusable at 100 TB — while the
    Spark frontier settles each vertex exactly once and stops the
    moment the frontier empties (round count = source eccentricity
    + 1 for the empty-frontier probe — 4 on this fixture, ecc 3).
    An undersized oracle depth bound
    cannot hide: it would surface as a value mismatch in the
    differential.  See ``sssp_frontier`` for the per-round cost
    argument and the loud round-cap contract."""
    ensure_utc(spark)
    # r17 (guide §2.4): the edge relation is PERSISTED pre-partitioned
    # on the join key instead of localCheckpointed — an
    # InMemoryRelation KEEPS its outputPartitioning visible to
    # Catalyst (a checkpoint leaf reads back as UnknownPartitioning),
    # so the per-round frontier⋈edges join stops re-exchanging the
    # FULL edge list every round: one edge shuffle for the whole run
    # instead of one per eccentricity level, and the cache keeps its
    # lineage (fault-tolerant, unlike a localCheckpoint leaf).  The
    # derive plan is two joins deep, so the lineage-growth argument
    # for checkpointing does not apply; the source collect below
    # materializes the cache eagerly.
    sym = (
        _symmetrize(_copurchase_edges(spark, sf_dir))
        .repartition("u")
        .persist()
    )
    # the source is the graph's minimum vertex id — a 1-value collect
    # (the bounded driver-side-literal pattern shared by sort_global's
    # boundaries and the IVF probe); an EMPTY graph has no source and
    # returns the empty typed frame, matching the oracle's NULL-seed
    # suppression
    source = sym.agg(F.min("u")).collect()[0][0]
    if source is None:
        return spark.createDataFrame([], "vertex BIGINT, dist BIGINT")
    dists, _rounds = sssp_frontier(sym, int(source))
    return dists.select(F.col("v").alias("vertex"), "dist")


#: synchronous label-propagation rounds — fixed and small so the
#: oracle can unroll the SAME rounds as CTEs (the pagerank device);
#: async/until-convergence LPA is visit-order-dependent and therefore
#: unsuitable for a cross-engine differential
_LPA_ITERS = 3


def _lpa_iter_sql(prev: str, out: str) -> str:
    """One synchronous LPA round as dialect-intersection SQL: every
    vertex adopts the most frequent label among its neighbors, ties
    broken by the SMALLEST label (count DESC, label ASC — fully
    deterministic, no RNG)."""
    return f"""
    {out} AS (
      SELECT v, lbl FROM (
        SELECT e.dst AS v, p.lbl, count(*) AS cnt,
               row_number() OVER (PARTITION BY e.dst
                                  ORDER BY count(*) DESC, p.lbl) AS rn
        FROM E2 e JOIN {prev} p ON p.v = e.src
        GROUP BY e.dst, p.lbl
      ) WHERE rn = 1
    )"""


def lpa_rounds(e2: DataFrame, iters: int) -> DataFrame:
    """``iters`` synchronous LPA rounds over a directed-both-ways
    ``(src, dst)`` edge frame (already checkpointed by the caller);
    returns the final ``(v, lbl)`` assignment.  Separated so the
    tie-break (count DESC, label ASC via ``min(struct(-cnt, lbl))``)
    is pinned on a constructed graph in ``tests/test_operator_edges.py``
    independent of the co-purchase derivation."""
    lbl = e2.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").alias("lbl")
    )
    for _ in range(iters):
        cnt = (
            e2.join(lbl, e2["src"] == lbl["v"])
            .groupBy(F.col("dst"), F.col("lbl"))
            .agg(F.count("*").alias("cnt"))
        )
        lbl = truncate(
            cnt.groupBy("dst")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("lbl").alias("l")
                    )
                ).alias("s")
            )
            .select(F.col("dst").alias("v"), F.col("s.l").alias("lbl"))
        )
    return lbl


@query(
    "graph_label_propagation",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    E2 AS (
      SELECT a AS src, b AS dst FROM e
      UNION ALL
      SELECT b AS src, a AS dst FROM e
    ),
    L0 AS (SELECT DISTINCT src AS v, src AS lbl FROM E2),
    {_lpa_iter_sql("L0", "L1")},
    {_lpa_iter_sql("L1", "L2")},
    {_lpa_iter_sql("L2", "L3")}
    SELECT lbl AS community,
           count(*) AS n_members,
           CAST(min(v) AS BIGINT) AS min_vertex
    FROM L3 GROUP BY lbl
    ORDER BY n_members DESC, community
    LIMIT 25
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the co-purchase graph — the community-structure
    row between connected components (too coarse: one label per
    reachable set) and k-core (density, not membership).  Every vertex
    starts labeled with its own id; each round it adopts the most
    frequent label among its neighbors (count DESC, label ASC
    tiebreak).  Fixed {_LPA_ITERS} SYNCHRONOUS rounds: the textbook
    asynchronous sweep is visit-order-dependent (non-deterministic on
    any parallel engine), while the synchronous variant with a total
    tiebreak is partitioning-independent by construction — the same
    reasoning that makes ``graph_pagerank``'s quantized iterations
    differential-checkable.  Output: the 25 largest communities with
    their canonical (minimum) member vertex.

    Spark side: directed-both-ways edges truncated once; each
    round is one shuffle (edge ⋈ label on src, hash agg on (dst,
    label)) plus one vertex-sized argmax agg — the argmax is a single
    ``min(struct(-cnt, lbl))`` hash aggregate, NOT a window, so no
    per-vertex sort materializes.  At 100 TB the edge relation
    hash-partitions on src and the (vertex-sized) label vector
    co-shuffles per round — the Pregel-on-relational shape shared by
    pagerank/SSSP; rounds are bounded (3), not data-dependent.
    Reference heritage: none (SURVEY §2 charter extension, graph
    family)."""
    ensure_utc(spark)
    e2 = truncate(
        _symmetrize(_copurchase_edges(spark, sf_dir))
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )
    lbl = lpa_rounds(e2, _LPA_ITERS)
    return (
        lbl.groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count("*").alias("n_members"),
            F.min("v").cast("bigint").alias("min_vertex"),
        )
        .orderBy(F.col("n_members").desc(), "community")
        .limit(25)
    )


@query(
    "graph_link_prediction",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    E2 AS (
      SELECT a AS u, b AS v FROM e
      UNION ALL
      SELECT b AS u, a AS v FROM e
    ),
    deg AS (SELECT u, count(*) AS d FROM E2 GROUP BY u),
    cn AS (
      SELECT x.v AS a, y.v AS b, count(*) AS common_n
      FROM E2 x JOIN E2 y ON x.u = y.u AND x.v < y.v
      GROUP BY x.v, y.v
    ),
    nonedge AS (
      SELECT cn.a, cn.b, cn.common_n
      FROM cn ANTI JOIN e ON cn.a = e.a AND cn.b = e.b
    )
    SELECT n.a, n.b,
           CAST(n.common_n AS BIGINT) AS common_neighbors,
           CAST(n.common_n * 1000000
                // (da.d + db.d - n.common_n) AS BIGINT) AS jaccard_ppm
    FROM nonedge n
    JOIN deg da ON da.u = n.a
    JOIN deg db ON db.u = n.b
    ORDER BY common_neighbors DESC, n.a, n.b
    LIMIT 25
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by COMMON-NEIGHBOR / neighborhood-Jaccard
    scoring (Liben-Nowell & Kleinberg 2003) over the co-purchase
    graph: for every NON-adjacent pair sharing ≥1 neighbor, the shared
    neighbor count and the Jaccard of the two neighborhoods in exact
    integer ppm — the "customers who buy these two parts will buy them
    together next" readout, and the graph-family complement of the
    wedge machinery triangle counting already uses (a triangle is a
    closed wedge; a predicted link is an OPEN one).

    Plan: candidate pairs enumerate per-middle-vertex wedges (one
    self-equi-join of the directed edge list on the shared endpoint,
    a < b halves the output) → hash agg on the pair → ANTI join
    against the existing edge set (left_anti — the pair must NOT be an
    edge) → two degree joins, integer floor-division ppm, top-25 with
    full (score, a, b) tiebreak via TakeOrdered.  The wedge join
    materializes Σ deg(m)² rows — the same hub-quadratic
    ``graph_triangle_count`` documents; its orientation trick does not
    apply here (both wedge endpoints are needed regardless of degree
    order), so at 100 TB the standard mitigations are a hub-degree cap
    or minhash-sketched neighborhoods (documented, not silently
    applied at fixture scale).  Reference heritage: none (SURVEY §2
    charter extension, graph family)."""
    ensure_utc(spark)
    edges = truncate(_copurchase_edges(spark, sf_dir))
    e2 = _symmetrize(edges)
    deg = e2.groupBy("u").agg(F.count("*").alias("d"))
    x = e2.alias("x")
    y = e2.alias("y")
    cn = (
        x.join(
            y,
            (F.col("x.u") == F.col("y.u")) & (F.col("x.v") < F.col("y.v")),
        )
        .groupBy(F.col("x.v").alias("a"), F.col("y.v").alias("b"))
        .agg(F.count("*").alias("common_n"))
    )
    nonedge = cn.join(
        edges.select(F.col("a").alias("ea"), F.col("b").alias("eb")),
        (F.col("a") == F.col("ea")) & (F.col("b") == F.col("eb")),
        "left_anti",
    )
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    return (
        nonedge.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.col("common_n").cast("bigint").alias("common_neighbors"),
            F.expr("(common_n * 1000000) div (da + db - common_n)")
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
        .orderBy(F.col("common_neighbors").desc(), "a", "b")
        .limit(25)
    )


from mapreduceplusplus_spark.session import floor_div_sql  # noqa: E402


@query(
    "graph_modularity",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    E2 AS (
      SELECT a AS src, b AS dst FROM e
      UNION ALL
      SELECT b AS src, a AS dst FROM e
    ),
    L0 AS (SELECT DISTINCT src AS v, src AS lbl FROM E2),
    {_lpa_iter_sql("L0", "L1")},
    {_lpa_iter_sql("L1", "L2")},
    {_lpa_iter_sql("L2", "L3")},
    m AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e),
    intra AS (
      SELECT CAST(count(CASE WHEN la.lbl = lb.lbl THEN 1 END) AS HUGEINT)
               AS e_in
      FROM e JOIN L3 la ON la.v = e.a JOIN L3 lb ON lb.v = e.b
    ),
    deg AS (SELECT src AS v, count(*) AS d FROM E2 GROUP BY src),
    dc AS (
      SELECT l.lbl, CAST(sum(deg.d) AS HUGEINT) AS d_c
      FROM deg JOIN L3 l ON l.v = deg.v GROUP BY l.lbl
    ),
    dsq AS (SELECT CAST(sum(d_c * d_c) AS HUGEINT) AS d2,
                   count(*) AS n_comm FROM dc),
    q AS (
      SELECT n_comm, m, e_in,
             4 * m * e_in - d2 AS num,
             4 * m * m         AS den
      FROM m CROSS JOIN intra CROSS JOIN dsq
      WHERE m > 0
    )
    SELECT CAST(n_comm AS BIGINT) AS n_communities,
           CAST(m AS BIGINT) AS m_edges,
           CAST(e_in AS BIGINT) AS intra_edges,
           CAST({floor_div_sql("1000000 * num", "den", "duckdb")} AS BIGINT)
             AS q_micro
    FROM q
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY of the label-propagation partition — the
    standard "is this community structure real?" score (Q ≈ 0: no
    better than random given the degree sequence; Q ≳ 0.3: strong
    structure), composed on top of ``lpa_rounds`` exactly as a
    curation run consumes it: detect communities, then SCORE the
    partition before acting on it.  ``Q = Σ_c[e_c/m − (d_c/2m)²]``
    computed as ONE exact rational ``(4m·Σe_c − Σd_c²) / 4m²`` —
    HUGEINT oracle-side / DECIMAL(38,0) Spark-side (4m² overflows
    BIGINT at ~3·10⁹ edges), floored to micro-units through the
    SHARED ``floor_div_sql`` device because the numerator is legally
    negative (anti-community partitions) and bare ``div``/``//``
    truncate toward zero.

    Plan: the three LPA rounds (shared code), then one edge-relation
    join against the final labels (intra-community census), one
    vertex-sized degree/community rollup, and three 1-row aggregates
    cross-joined — nothing beyond the LPA cost itself.  Empty graph →
    0 rows on both engines (m > 0 guard).  Reference heritage: none
    (SURVEY §2 charter extension, graph family)."""
    ensure_utc(spark)
    edges = truncate(_copurchase_edges(spark, sf_dir))
    e2 = _symmetrize(edges).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    lbl = lpa_rounds(e2, _LPA_ITERS)
    la = lbl.select(F.col("v").alias("a"), F.col("lbl").alias("la"))
    lb = lbl.select(F.col("v").alias("b"), F.col("lbl").alias("lb"))
    intra = (
        edges.join(la, "a")
        .join(lb, "b")
        .agg(
            F.count(F.when(F.col("la") == F.col("lb"), 1))
            .cast("decimal(38,0)")
            .alias("e_in")
        )
    )
    m = edges.agg(F.count("*").cast("decimal(38,0)").alias("m"))
    deg = e2.groupBy("src").agg(F.count("*").alias("d"))
    dc = (
        deg.join(lbl, deg["src"] == lbl["v"])
        .groupBy("lbl")
        .agg(F.sum("d").cast("decimal(38,0)").alias("d_c"))
    )
    dsq = dc.agg(
        F.sum(F.col("d_c") * F.col("d_c")).cast("decimal(38,0)").alias("d2"),
        F.count("*").alias("n_comm"),
    )
    # broadcast-safe: m / intra / dsq are 1-row aggregates
    q = (
        m.crossJoin(F.broadcast(intra))
        .crossJoin(F.broadcast(dsq))
        .where(F.col("m") > 0)
        .select(
            "n_comm",
            "m",
            "e_in",
            F.expr("CAST(4 AS DECIMAL(38,0)) * m * e_in - d2").alias("num"),
            F.expr("CAST(4 AS DECIMAL(38,0)) * m * m").alias("den"),
        )
    )
    return q.select(
        F.col("n_comm").cast("bigint").alias("n_communities"),
        F.col("m").cast("bigint").alias("m_edges"),
        F.col("e_in").cast("bigint").alias("intra_edges"),
        F.expr(
            "CAST("
            + floor_div_sql("CAST(1000000 AS DECIMAL(38,0)) * num", "den", "spark")
            + " AS BIGINT)"
        ).alias("q_micro"),
    )
