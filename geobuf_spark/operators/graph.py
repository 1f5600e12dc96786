"""Host-graph analytics for web corpora over (src, dst) edge lists.

The web-payload side of the graft needs link-graph signals: authority
(PageRank, personalized PageRank, HITS) for crawl prioritization and
quality filtering, cohesion (triangles, clustering, k-core, k-truss),
reachability (BFS, bounded SSSP, diameter) and partitioning (label
propagation, matching). Every operator is exact integer arithmetic, so
its DuckDB twin (the `sql_*` function beside it) matches the driver's
value hash bit for bit:

- ranks and scores are BIGINT micro-units (1e6 = 1.0) and every step is
  integer `div` and integer sums, free of float summation order;
- the undirected simple graph every symmetric operator reads is built in
  one place, `undirected` / `adjacency` / `nodes` (SQL:
  `sql_undirected`), and lazily checkpointed once;
- every iterative operator runs its rounds through `fixpoint.iterate`
  (one lazy checkpoint and at most one action per round, earlier rounds'
  checkpoints released; converging loops raise when the round budget
  runs out) and unrolls them in SQL through `fixpoint.sql_rounds`.

PageRank is personalized PageRank with every node a seed. Each node's
out-edge targets ride in the rank state, so an iteration reads only its
state: ONE shuffle (every node sends rank div out_deg along its out-edges
and keeps its own row; a groupBy by node sums what arrived) and no join.
Dangling-node mass (hosts with no out-links) leaks, as in the simplified
formulation; damping keeps totals bounded. Multi-edges count with
multiplicity (a host linking twice contributes twice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geobuf_spark.operators.fixpoint import With, iterate, sql_rounds

SCALE = 1_000_000  # rank 1.0 in micro-units


# ---------------------------------------------------------------------------
# graph builders: the undirected simple graph, its adjacency, its nodes
# ---------------------------------------------------------------------------

def undirected(edges: DataFrame, src: str = "src", dst: str = "dst",
               weight: str | None = None) -> DataFrame:
    """The canonical simple undirected edge set (u, v[, w]) with u < v:
    self-loops dropped, multi-edges collapsed once (with a weight column,
    to their min weight as BIGINT). Lazily checkpointed: every caller
    reads it more than once, and the upstream edge extraction should run
    once, not once per join."""
    cols = [F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v")]
    if weight is not None:
        cols.append(F.col(weight).cast("bigint").alias("w"))
    und = edges.select(*cols).filter(F.col("u") != F.col("v"))
    und = (und.groupBy("u", "v").agg(F.min("w").alias("w"))
           if weight is not None else und.distinct())
    return und.localCheckpoint(eager=False)


def adjacency(und: DataFrame) -> DataFrame:
    """Both directions of each undirected edge: (n, nb[, w])."""
    w = ["w"] if "w" in und.columns else []
    return (und.select(F.col("u").alias("n"), F.col("v").alias("nb"), *w)
            .unionAll(und.select(F.col("v").alias("n"),
                                 F.col("u").alias("nb"), *w)))


def nodes(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """The distinct endpoints (host) of an edge list, lazily checkpointed."""
    return (edges.select(F.col(src).alias("host"))
            .unionByName(edges.select(F.col(dst).alias("host")))
            .distinct().localCheckpoint(eager=False))


def sql_undirected(src: str = "src", dst: str = "dst",
                   weight: str | None = None, edges: str = "ed") -> With:
    """DuckDB twin of the builders over an edge CTE `edges`: und(u, v[, w]),
    its symmetric adjacency adj(n, nb[, w]) and its node set nodes(n)."""
    if weight is None:
        und = f"""MATERIALIZED (SELECT DISTINCT least({src}, {dst}) AS u,
                                greatest({src}, {dst}) AS v
                FROM {edges} WHERE {src} <> {dst})"""
        w = ""
    else:
        und = f"""MATERIALIZED (SELECT least({src}, {dst}) AS u,
                       greatest({src}, {dst}) AS v,
                       CAST(min({weight}) AS BIGINT) AS w
                FROM {edges} WHERE {src} <> {dst} GROUP BY 1, 2)"""
        w = ", w"
    return (With().add("und", und)
            .add("adj", f"""(SELECT u AS n, v AS nb{w} FROM und
                UNION ALL SELECT v AS n, u AS nb{w} FROM und)""")
            .add("nodes", "(SELECT DISTINCT n FROM adj)"))


# ---------------------------------------------------------------------------
# PageRank and personalized PageRank — integer fixed-point
# ---------------------------------------------------------------------------

def _directed(edges: DataFrame) -> DataFrame:
    """(src, dst) as strings, lazily checkpointed: the edges join into
    every iteration."""
    return edges.select(F.col("src").cast("string").alias("src"),
                        F.col("dst").cast("string").alias("dst")
                        ).localCheckpoint(eager=False)


def pagerank_int(edges: DataFrame, iters: int = 3,
                 damping_ppm: int = 850_000) -> DataFrame:
    """Integer fixed-point PageRank over an edge list (src, dst).

    Returns (host, rank_ppm) for every node in the graph. rank_ppm is the
    micro-unit rank after `iters` synchronous iterations starting from
    uniform 1.0; new_rank = (SCALE - damping) + damping * Σ contrib / SCALE
    with contrib = rank(src) // out_deg(src), all integer ops. This is
    `ppr_int` with every node a seed, marked by a literal (no join)."""
    return _ppr(_out_lists(edges).withColumn("is_seed", F.lit(1)), iters,
                damping_ppm)


def sql_pagerank_int(edges_cte: str, iters: int = 3,
                     damping_ppm: int = 850_000) -> str:
    """DuckDB twin of pagerank_int: `sql_ppr_int` with every node a seed,
    over an edge CTE named `edges(src, dst)`. Returns a full WITH clause
    ending in a SELECT of (host, rank_ppm)."""
    return sql_ppr_int(edges_cte, "TRUE", iters, damping_ppm)


def ppr_int(edges: DataFrame, seeds: DataFrame, iters: int = 3,
            damping_ppm: int = 850_000) -> DataFrame:
    """Personalized PageRank, integer fixed-point: the teleport mass lands
    ONLY on the seed set (rank starts at SCALE on seeds, 0 elsewhere; each
    round adds the (1−d) base only to seeds) — the topic/trust-rank
    variant used for seed-relative authority. One shuffle per iteration,
    bit-reproducible integer arithmetic. `seeds` is a one-column (host)
    DataFrame."""
    marked = (_out_lists(edges)
              .join(seeds.withColumn("is_seed", F.lit(1)), "host", "left")
              .select("host", "out", F.coalesce("is_seed", F.lit(0))
                      .alias("is_seed")))
    return _ppr(marked, iters, damping_ppm)


def _out_lists(edges: DataFrame) -> DataFrame:
    """(host, out) for every node of the directed edge list (src, dst):
    `out` holds the targets of the node's out-edges, one per edge. One
    scan of the edges: each yields its (src, dst) row and a (dst, null)
    row, so a node with no out-edge gets an empty list."""
    src, dst = F.col("src").cast("string"), F.col("dst").cast("string")
    return (edges.select(F.inline(F.array(
                F.struct(src.alias("host"), dst.alias("dst")),
                F.struct(dst.alias("host"),
                         F.lit(None).cast("string").alias("dst")))))
            .groupBy("host").agg(F.collect_list("dst").alias("out")))


def _ppr(marked: DataFrame, iters: int, damping_ppm: int) -> DataFrame:
    """The PPR rounds over (host, out, is_seed). The edge lists ride in the
    state, so a round reads nothing but its state: each node keeps its row
    and sends rank_ppm div out_deg along every out-edge, and one groupBy
    sums what each node received — one shuffle, no join. The edge lists
    travel through that shuffle every round, where the join form shuffled
    the edges into its ranks join instead."""
    base = (F.col("is_seed") * F.lit(SCALE - damping_ppm)).cast("bigint")

    def step(st, _):
        # integer `div` end-to-end: bit-parity with DuckDB's // holds
        # unconditionally, not just while products stay under 2^53
        sent = st.select(F.explode("out").alias("host"),
                         F.expr("rank_ppm div size(out)").alias("c"))
        return (st.select("host", "out", "is_seed",
                          F.lit(0).cast("bigint").alias("c"))
                .unionByName(sent, allowMissingColumns=True)
                .groupBy("host")
                .agg(F.max("out").alias("out"),
                     F.max("is_seed").alias("is_seed"),
                     F.sum("c").alias("s"))
                .select("host", "out", "is_seed",
                        (base + F.expr(f"({damping_ppm} * s) div {SCALE}"))
                        .alias("rank_ppm")))

    ranks = marked.select("host", "out", "is_seed",
                          (F.col("is_seed") * F.lit(SCALE))
                          .cast("bigint").alias("rank_ppm"))
    return iterate(ranks, step, iters).select("host", "rank_ppm")


# directed node set of an `edges(src, dst)` CTE, shared by the PPR and
# HITS twins
_SQL_HOSTS = ("hosts", """MATERIALIZED (SELECT src AS host FROM edges
                        UNION SELECT dst FROM edges)""")


def sql_ppr_int(edges_cte: str, seed_pred: str, iters: int = 3,
                damping_ppm: int = 850_000) -> str:
    """DuckDB twin of ppr_int over an edge CTE `edges(src, dst)`;
    `seed_pred` is a boolean SQL predicate over the node name column
    `host`. DuckDB's `//` floor division equals Spark's `div` on the
    non-negative values used here."""
    base = SCALE - damping_ppm

    def step(i):
        return {
            f"c{i}": f"""(SELECT e.dst AS host,
                       r.rank_ppm // d.out_deg AS c
                FROM edges e
                JOIN r{i - 1} r ON r.host = e.src
                JOIN out_deg d ON d.host = e.src)""",
            f"a{i}": f"(SELECT host, sum(c) AS s FROM c{i} GROUP BY 1)",
            f"r{i}": f"""(SELECT n.host,
                        CAST(n.is_seed * {base}
                             + {damping_ppm} * coalesce(a.s, 0)
                             // {SCALE} AS BIGINT) AS rank_ppm
                 FROM marked n LEFT JOIN a{i} a ON a.host = n.host)"""}

    return (With(edges_cte).add(*_SQL_HOSTS)
            .add("marked", f"""(SELECT host, CASE WHEN {seed_pred} THEN 1
                                       ELSE 0 END AS is_seed
                   FROM hosts)""")
            .add("out_deg", """(SELECT src AS host, count(*) AS out_deg
                    FROM edges GROUP BY 1)""")
            .add("r0", f"""(SELECT host, CAST(is_seed * {SCALE} AS BIGINT)
                   AS rank_ppm
               FROM marked)""")
            .extend(sql_rounds(iters, step))
            .select(f"SELECT host, rank_ppm FROM r{iters}"))


# ---------------------------------------------------------------------------
# HITS — hubs & authorities, integer fixed-point
# ---------------------------------------------------------------------------

def hits_int(edges: DataFrame, iters: int = 2) -> DataFrame:
    """HITS over an edge list (src, dst): auth(v) = Σ_{u→v} hub(u),
    hub(u) = Σ_{u→v} auth(v), max-normalized to SCALE each half-step.

    All-integer: scores are micro-units, normalization is `· SCALE div max`
    (one global max — a 1-row aggregate that broadcasts back, never a
    collect), so the result is bit-reproducible across engines and
    partitionings and the DuckDB oracle chains the same steps as CTEs.
    Each half-step is one shuffle (edges ⋈ scores, groupBy the other end
    with map-side partials). Magnitude bound: max in-degree · SCALE² < 2^63
    → degree < ~9.2·10^6 at SCALE 1e6; denser graphs drop SCALE.

    Output: (host, hub_ppm, auth_ppm) for every node.
    """
    e = _directed(edges)
    hosts = nodes(e)

    # the state is (host, s, auth): this round's hub score and the
    # authority score it was computed from
    def step(st, _):
        a_raw = (e.join(st.select(F.col("host").alias("src"), "s"), "src")
                  .groupBy(F.col("dst").alias("host"))
                  .agg(F.sum("s").alias("raw")))
        auth = _max_normalize(hosts, a_raw).withColumnRenamed("s", "auth")
        h_raw = (e.join(auth.select(F.col("host").alias("dst"), "auth"),
                        "dst")
                  .groupBy(F.col("src").alias("host"))
                  .agg(F.sum("auth").alias("raw")))
        return _max_normalize(auth, h_raw)

    st = hosts.select("host", F.lit(SCALE).cast("bigint").alias("s"),
                      F.lit(None).cast("bigint").alias("auth"))
    return iterate(st, step, iters).select(
        "host", F.col("s").alias("hub_ppm"), F.col("auth").alias("auth_ppm"))


def _max_normalize(base: DataFrame, raw: DataFrame) -> DataFrame:
    """base's rows (host, ...) with s = raw · SCALE div max(raw) from
    (host, raw); hosts absent from raw score 0. greatest(max, 1) guards
    the empty/zero graph."""
    mx = raw.agg(F.greatest(F.max("raw"), F.lit(1)).alias("mx"))
    return (base.join(raw, "host", "left")
            .crossJoin(F.broadcast(mx))
            .select(*base.columns,
                    F.expr(f"(coalesce(raw, 0) * {SCALE}) div mx")
                    .cast("bigint").alias("s")))


def sql_hits_int(edges_cte: str, iters: int = 2) -> str:
    """DuckDB twin of hits_int over an `edges(src, dst)` CTE: the same
    integer half-steps chained, max-normalization via a scalar subquery.
    Ends in a SELECT of (host, hub_ppm, auth_ppm)."""
    def norm(raw):
        return f"""(SELECT n.host,
                        CAST(coalesce(r.raw, 0) * {SCALE} //
                             greatest((SELECT max(raw) FROM {raw}), 1)
                             AS BIGINT) AS s
                 FROM hosts n LEFT JOIN {raw} r ON r.host = n.host)"""

    def step(i):
        return {
            f"ar{i}": f"""(SELECT e.dst AS host, sum(h.s) AS raw
                 FROM edges e JOIN h{i - 1} h ON h.host = e.src
                 GROUP BY 1)""",
            f"a{i}": norm(f"ar{i}"),
            f"hr{i}": f"""(SELECT e.src AS host, sum(a.s) AS raw
                 FROM edges e JOIN a{i} a ON a.host = e.dst
                 GROUP BY 1)""",
            f"h{i}": norm(f"hr{i}")}

    return (With(edges_cte).add(*_SQL_HOSTS)
            .add("h0", f"(SELECT host, CAST({SCALE} AS BIGINT) AS s FROM hosts)")
            .extend(sql_rounds(iters, step))
            .select(f"""SELECT h.host, h.s AS hub_ppm, a.s AS auth_ppm
        FROM h{iters} h JOIN a{iters} a ON a.host = h.host"""))


def _triangles(edges: DataFrame, src: str, dst: str):
    """Shared triangle plumbing: (deg, tri) where deg is the per-node
    degree table of the simple undirected graph and tri holds each
    triangle once as (a, x, y), found as a closed wedge of the
    degree-ordered compact-forward orientation a→b (rb = struct(d(b), b)
    for rank comparisons). The oriented list is lazily checkpointed: it
    feeds the wedge self-join twice plus the closing join — without the
    checkpoints every branch re-runs the edge extraction + distinct
    (observed 35 exchanges on the host-graph fixture without them, ~6
    with)."""
    und = undirected(edges, src, dst)
    deg = adjacency(und).groupBy("n").agg(F.count("*").alias("d"))
    e = (und
         .join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
         .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v"))
    u_first = (F.col("du") < F.col("dv")) | \
        ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    o = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.struct(F.col("dv").alias("d"), F.col("v").alias("n")))
         .otherwise(F.struct(F.col("du").alias("d"), F.col("u").alias("n")))
         .alias("rb")).localCheckpoint(eager=False)
    w1 = o.select(F.col("a"), F.col("b").alias("x"), F.col("rb").alias("rx"))
    w2 = o.select(F.col("a"), F.col("b").alias("y"), F.col("rb").alias("ry"))
    wedges = w1.join(w2, "a").filter(F.col("rx") < F.col("ry"))
    return deg, wedges.join(o.select(F.col("a").alias("x"),
                                     F.col("b").alias("y")), ["x", "y"])


def triangle_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle census of the undirected simple host graph — one row:
    (n_nodes, n_edges, n_wedges, n_triangles, global_cc_x10k).

    Shape for 10^8-host graphs: edges canonicalize to u<v and dedup (ONE
    distinct shuffle); each edge is then ORIENTED from its lower-(degree,
    node) endpoint to the higher — the compact-forward orientation, which
    bounds every out-neighborhood by O(sqrt(m)), so the wedge self-join
    materializes Σ outdeg² pairs instead of Σ deg² (a star-shaped hub
    generates ZERO wedges as a tail: its edges all point INTO it). Wedges
    close against the oriented edge list with a second equi-join. The
    wedge COUNT (denominator of the clustering coefficient) never joins at
    all — it's Σ d(d-1)/2 off the degree table. Degree tables are
    node-sized; AQE broadcasts them when they fit.

    global_cc_x10k = floor(3·T·10000 / W) — exact ints into one IEEE
    division, bit-identical across engines."""
    deg, tri = _triangles(edges, src, dst)
    tri = tri.agg(F.count("*").alias("n_triangles"))
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum("d") / 2).cast("bigint").alias("n_edges"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges"))
    return stats.crossJoin(tri).select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles",
        F.when(F.col("n_wedges") > 0,
               F.floor(F.col("n_triangles").cast("double") * 3.0 * 10000.0
                       / F.col("n_wedges").cast("double")))
         .otherwise(F.lit(0)).cast("bigint").alias("global_cc_x10k"))


def sql_triangle_stats(edges_cte: str, src: str = "src", dst: str = "dst") -> str:
    """DuckDB twin of triangle_stats over a WITH clause ending in
    ed({src}, {dst}). The brute u<v<w three-way join counts each triangle
    exactly once — no orientation needed at oracle scale."""
    return (With(edges_cte).extend(sql_undirected(src, dst))
            .add("deg", "(SELECT n, count(*) AS d FROM adj GROUP BY 1)")
            .add("tri", """(SELECT count(*) AS n_triangles
                FROM und e1
                JOIN und e2 ON e2.u = e1.v
                JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v)""")
            .add("st", """(SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                      CAST(sum(d) / 2 AS BIGINT) AS n_edges,
                      CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
               FROM deg)""")
            .select("""SELECT n_nodes, n_edges, n_wedges,
               CAST(n_triangles AS BIGINT) AS n_triangles,
               CASE WHEN n_wedges > 0
                    THEN CAST(floor(CAST(n_triangles AS DOUBLE) * 3.0 * 10000.0
                              / CAST(n_wedges AS DOUBLE)) AS BIGINT)
                    ELSE 0 END AS global_cc_x10k
        FROM st, tri"""))


RA_SCALE = 1_000_000_000_000  # resource-allocation unit mass, picos


def local_clustering(edges: DataFrame, src: str = "src",
                     dst: str = "dst") -> DataFrame:
    """Per-node local clustering coefficient — exact integers:
    (host, degree, n_tri, cc_ppm) with cc_ppm = (2·t·1e6) div (d·(d-1)).

    Same compact-forward orientation as triangle_stats (reference parity:
    per-feature stats loops in geobuf readers are per-entity, this is the
    graph analogue): each triangle is FOUND once as a closed wedge
    (a; x, y) and then CREDITED to its three corners with one explode —
    no per-corner re-join. Only nodes with d ≥ 2 can close a wedge, so
    the output keeps exactly those (singletons/leaves carry no signal).
    Scale: the wedge join is bounded by Σ outdeg² = O(m^1.5); the corner
    explode is 3 rows per triangle; the degree join is node-sized (AQE
    broadcasts it when it fits)."""
    deg, tri = _triangles(edges, src, dst)
    corners = tri.select(
        F.explode(F.array(F.col("a"), F.col("x"), F.col("y"))).alias("n"))
    tcnt = corners.groupBy("n").agg(F.count("*").alias("n_tri"))
    return (deg.filter(F.col("d") >= 2)
            .join(tcnt, "n", "left")
            .select(F.col("n").alias("host"),
                    F.col("d").cast("bigint").alias("degree"),
                    F.coalesce(F.col("n_tri"), F.lit(0))
                     .cast("bigint").alias("n_tri"),
                    (F.coalesce(F.col("n_tri"), F.lit(0)) * 2 * 1_000_000)
                    .cast("bigint").alias("_num"))
            .withColumn("cc_ppm",
                        F.expr("_num div (degree * (degree - 1))"))
            .drop("_num"))


def sql_local_clustering(edges_cte: str, src: str = "src",
                         dst: str = "dst") -> str:
    """DuckDB twin of local_clustering over a WITH clause ending in
    ed({src}, {dst}). Brute per-corner wedge close at oracle scale; the
    2·t·1e6 numerator stays far inside BIGINT."""
    return (With(edges_cte).extend(sql_undirected(src, dst))
            .add("deg", "(SELECT n, count(*) AS d FROM adj GROUP BY 1)")
            .add("tc", """(SELECT a.n, count(*) AS n_tri
               FROM adj a JOIN adj b ON a.n = b.n AND a.nb < b.nb
               JOIN und e ON e.u = a.nb AND e.v = b.nb
               GROUP BY 1)""")
            .select("""SELECT deg.n AS host, CAST(deg.d AS BIGINT) AS degree,
               CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri,
               CAST((coalesce(tc.n_tri, 0) * 2 * 1000000)
                    // (deg.d * (deg.d - 1)) AS BIGINT) AS cc_ppm
        FROM deg LEFT JOIN tc ON tc.n = deg.n
        WHERE deg.d >= 2"""))


def resource_allocation(edges: DataFrame, src: str = "src",
                        dst: str = "dst", min_common: int = 2) -> DataFrame:
    """Resource-allocation link prediction over the undirected simple
    graph: for each non-adjacent pair (a, b) with ≥ min_common common
    neighbors, score = Σ_z RA_SCALE div d(z) over common neighbors z —
    the RA index in exact pico-units (no log, unlike Adamic-Adar, so the
    fixed-point form is engine-exact). Output: (host_a, host_b, n_common,
    ra_fp).

    Scale: the center expansion is Σ d(z)² pairs — production caps center
    degree (the fixture's hub cap is the contract, like the LSH bucket
    caps); the existing-edge removal is a LEFT ANTI join on the
    canonical pair, and the per-z mass d(z) rides the adjacency row so
    the pair rollup is ONE shuffle."""
    und = undirected(edges, src, dst)
    adj = adjacency(und)
    deg = adj.groupBy("n").agg(F.count("*").alias("d"))
    adw = adj.join(deg, "n").select(
        F.col("n"), F.col("nb"),
        F.expr(f"CAST({RA_SCALE} AS BIGINT) div d").alias("mass"))
    a = adw.select(F.col("n"), F.col("nb").alias("host_a"), "mass")
    b = adw.select(F.col("n"), F.col("nb").alias("host_b"))
    pairs = (a.join(b, "n")
             .filter(F.col("host_a") < F.col("host_b"))
             .join(und.select(F.col("u").alias("host_a"),
                              F.col("v").alias("host_b")),
                   ["host_a", "host_b"], "left_anti")
             .groupBy("host_a", "host_b")
             .agg(F.count("*").alias("n_common"),
                  F.sum("mass").alias("ra_fp")))
    return pairs.filter(F.col("n_common") >= min_common)


def sql_resource_allocation(edges_cte: str, src: str = "src",
                            dst: str = "dst", min_common: int = 2) -> str:
    """DuckDB twin of resource_allocation over a WITH clause ending in
    ed({src}, {dst})."""
    return (With(edges_cte).extend(sql_undirected(src, dst))
            .add("deg", "(SELECT n, count(*) AS d FROM adj GROUP BY 1)")
            .add("adw", f"""(SELECT adj.n, adj.nb,
                       CAST({RA_SCALE} AS BIGINT) // deg.d AS mass
                FROM adj JOIN deg ON deg.n = adj.n)""")
            .add("pr", """(SELECT a.nb AS host_a, b.nb AS host_b,
                      count(*) AS n_common, sum(a.mass) AS ra_fp
               FROM adw a JOIN adw b ON a.n = b.n AND a.nb < b.nb
               WHERE NOT EXISTS (SELECT 1 FROM und e
                                 WHERE e.u = a.nb AND e.v = b.nb)
               GROUP BY 1, 2)""")
            .select(f"""SELECT host_a, host_b, CAST(n_common AS BIGINT) AS n_common,
               CAST(ra_fp AS BIGINT) AS ra_fp
        FROM pr WHERE n_common >= {min_common}"""))


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int = 3,
             src: str = "src", dst: str = "dst") -> DataFrame:
    """Multi-source BFS distance (≤ max_hops) over the undirected simple
    graph: (host, hop) with hop = min #edges from any seed. seeds is a
    one-column DataFrame named 'host'.

    The loop is frontier-style: each round joins the CURRENT distance
    table against the adjacency list and re-mins — hop h settles in round
    h, and min() keeps earlier settlements. Each round is ONE join + ONE
    agg shuffle. max_hops is a small constant (web-graph diameters at 3
    hops already cover most of a domain's neighborhood), so the unrolled
    oracle stays finite."""
    adj = adjacency(undirected(edges, src, dst))

    def step(dist, h):
        frontier = dist.filter(F.col("hop") == h - 1)
        nxt = (frontier.join(adj, frontier["host"] == adj["n"])
               .select(F.col("nb").alias("host"), F.lit(h).alias("hop")))
        return (dist.unionByName(nxt)
                .groupBy("host").agg(F.min("hop").alias("hop")))

    dist = iterate(seeds.select(F.col("host"), F.lit(0).alias("hop")), step,
                   max_hops)
    return dist.select("host", F.col("hop").cast("int").alias("hop"))


def sql_bfs_round(name: str = "bfs"):
    """The `sql_rounds` step of sql_bfs_hops: {name}{h}(host, hop) from
    {name}{h-1} over the adjacency CTE. A distinct name lets two sweeps
    share one WITH."""
    def step(h):
        return {f"{name}{h}": f"""MATERIALIZED (SELECT host, min(hop) AS hop FROM (
                    SELECT host, hop FROM {name}{h - 1}
                    UNION ALL
                    SELECT adj.nb AS host, {h} AS hop
                    FROM {name}{h - 1} f JOIN adj ON adj.n = f.host
                    WHERE f.hop = {h - 1})
                 GROUP BY 1)"""}
    return step


def sql_bfs_hops(edges_cte: str, seed_pred: str, max_hops: int = 3,
                 src: str = "src", dst: str = "dst") -> str:
    """DuckDB twin of bfs_hops: the frontier loop unrolled as chained
    CTEs bfs0..bfs{max_hops}; seed_pred is a boolean SQL predicate over the
    node name column `n` of the node CTE."""
    return (With(edges_cte).extend(sql_undirected(src, dst))
            .add("bfs0", f"(SELECT n AS host, 0 AS hop FROM nodes WHERE {seed_pred})")
            .extend(sql_rounds(max_hops, sql_bfs_round()))
            .select(f"SELECT host, CAST(hop AS INT) AS hop FROM bfs{max_hops}"))


def sssp_bounded(edges: DataFrame, seeds: DataFrame, max_rounds: int = 3,
                 src: str = "src", dst: str = "dst",
                 weight: str = "w") -> DataFrame:
    """Bounded-hop weighted shortest path over the undirected weighted
    simple graph: (host, dist) with dist = min total weight over any path
    of ≤ max_rounds edges from any seed (integer weights, exact).

    Bellman-Ford with a changed-set frontier: round k relaxes only the
    nodes whose distance improved in round k-1 — the classical delta
    argument, so after k rounds dist is exactly the ≤k-edge-path minimum
    while the per-round join shrinks as the wave settles (at web scale
    most mass settles in 1-2 rounds around the seeds; the frontier join
    is tiny thereafter). Multi-edges collapse to their min weight once,
    up front. Each round is one join + one min-agg shuffle; the same
    aggregation flags the improved nodes (the previous distance rides
    along as `old`). The oracle twin (sql_sssp_bounded) is the
    INDEPENDENT algorithm: full ≤k-edge walk enumeration with a final
    min, no relaxation."""
    adj = adjacency(undirected(edges, src, dst, weight))

    def step(st, _):
        frontier = st.filter("improved")
        relax = (frontier.join(adj, frontier["host"] == adj["n"])
                 .select(F.col("nb").alias("host"),
                         (F.col("dist") + F.col("w")).alias("dist"),
                         F.lit(None).cast("bigint").alias("old")))
        return (st.select("host", "dist", F.col("dist").alias("old"))
                .unionByName(relax)
                .groupBy("host").agg(F.min("dist").alias("dist"),
                                     F.min("old").alias("old"))
                .select("host", "dist",
                        (F.col("old").isNull()
                         | (F.col("dist") < F.col("old"))).alias("improved")))

    st = seeds.select("host", F.lit(0).cast("bigint").alias("dist"),
                      F.lit(True).alias("improved"))
    dist = iterate(st, step, max_rounds)
    return dist.select("host", F.col("dist").cast("bigint").alias("dist"))


def sql_sssp_bounded(wedges_cte: str, seed_pred: str,
                     max_rounds: int = 3) -> str:
    """DuckDB twin of sssp_bounded by a DIFFERENT algorithm: enumerate
    every ≤max_rounds-edge walk from the seeds (chained CTEs p1..pk,
    no per-round minimisation) and take one final min per node — walks
    that revisit nodes can't beat the simple-path min, so the result is
    identical. wedges_cte must end in wed(src, dst, w)."""
    allp = "\n                 UNION ALL ".join(
        f"SELECT host, d FROM p{h}" for h in range(max_rounds + 1))
    return (With(wedges_cte).extend(sql_undirected(weight="w", edges="wed"))
            .add("p0", f"""(SELECT n AS host, CAST(0 AS BIGINT) AS d FROM nodes
               WHERE {seed_pred})""")
            .extend(sql_rounds(max_rounds, lambda h: {
                f"p{h}": f"""(SELECT adj.nb AS host, p{h - 1}.d + adj.w AS d
                 FROM p{h - 1} JOIN adj ON adj.n = p{h - 1}.host)"""}))
            .select(f"""SELECT host, CAST(min(d) AS BIGINT) AS dist
        FROM ({allp}) GROUP BY 1"""))


def lpa_labels(edges: DataFrame, rounds: int = 2,
               src: str = "src", dst: str = "dst") -> DataFrame:
    """Synchronous label propagation over the undirected simple graph:
    (host, lab) after `rounds` rounds. Every node starts labeled with
    itself; each round it re-labels to the most frequent label among its
    neighbors PLUS its own current label (one self-vote — damps 2-cycle
    flapping), ties broken by the lexicographically smallest label, so
    the result is fully deterministic and partitioning-invariant.

    Each round is one shuffle join (labels by node) + one count agg +
    one per-node argmax window. Community detection this way is the
    standard near-linear web-graph method (Raghavan et al. 2007); the
    deterministic tie-break trades some community quality for exact
    reproducibility, which the 10^12-page dedup pipeline needs more."""
    und = undirected(edges, src, dst)
    adj = adjacency(und)
    w = Window.partitionBy("n").orderBy(F.col("c").desc(),
                                        F.col("lab").asc())

    def step(lab, _):
        nbr = (adj.join(lab, adj["nb"] == lab["host"])
               .select("n", "lab"))
        votes = nbr.unionAll(lab.select(F.col("host").alias("n"), "lab"))
        cnt = votes.groupBy("n", "lab").agg(F.count("*").alias("c"))
        return (cnt.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(F.col("n").alias("host"), "lab"))

    lab = nodes(und, "u", "v").withColumn("lab", F.col("host"))
    return iterate(lab, step, rounds)


def sql_lpa_labels(edges_cte: str, rounds: int = 2) -> str:
    """DuckDB twin of lpa_labels — same synchronous rounds as chained
    MATERIALIZED CTEs (plain CTEs re-inline exponentially, the kcore
    lesson). edges_cte must end in ed(src, dst)."""
    def step(r):
        return {
            f"v{r}": f"""MATERIALIZED (
            SELECT a.n, l.lab FROM adj a JOIN l{r - 1} l ON l.host = a.nb
            UNION ALL SELECT host, lab FROM l{r - 1})""",
            f"c{r}": f"(SELECT n, lab, count(*) AS c FROM v{r} GROUP BY 1, 2)",
            f"l{r}": f"""MATERIALIZED (
            SELECT n AS host, lab
            FROM (SELECT *, row_number() OVER (PARTITION BY n
                      ORDER BY c DESC, lab ASC) AS rn FROM c{r})
            WHERE rn = 1)"""}

    return (With(edges_cte).extend(sql_undirected())
            .add("l0", "(SELECT n AS host, n AS lab FROM nodes)")
            .extend(sql_rounds(rounds, step))
            .select(f"SELECT host, lab FROM l{rounds}"))


def maximal_matching(edges: DataFrame, rounds: int = 12,
                     src: str = "src", dst: str = "dst") -> DataFrame:
    """Deterministic distributed maximal matching (→ matched endpoints
    are a 2-approx vertex cover). Each round: every live vertex
    nominates its minimum incident edge by (portable edge hash, u, v);
    an edge joins the matching iff BOTH endpoints nominated it
    (handshake), matched vertices drop out, repeat. The hash order makes
    every round — and the final matching — independent of partitioning.
    Luby-style symmetry breaking: each handshake round removes a
    constant fraction of live edges in expectation (the fixture's 2k
    edges die in 6), so the loop runs to an EMPTY live set — maximality
    guaranteed — and raises if `rounds` caps out first. Extra rounds
    after emptiness are no-ops, which is what lets the fixed-round SQL
    twin match exactly.

    The state is one frame of edges: matched (m true) or live (m null).
    Each round: one per-vertex argmin + a handshake count + an anti-join
    that drops the live edges touching this round's matches; the loop
    stops when no live edge is left. Returns matched edges (u, v)."""
    from geobuf_spark.functions import phash

    def step(st, _):
        live = st.filter(F.col("m").isNull())
        # nominations are per VERTEX across both endpoint positions — a
        # node living as u in one edge and v in another must still
        # nominate exactly once, or it could match twice
        inc = (live.select(F.col("u").alias("n"), "h", "u", "v")
               .unionByName(live.select(F.col("v").alias("n"), "h",
                                        "u", "v")))
        nom = (inc.groupBy("n")
               .agg(F.min(F.struct("h", "u", "v")).alias("m"))
               .select(F.col("m.u").alias("u"), F.col("m.v").alias("v")))
        new = (nom.groupBy("u", "v").agg(F.count("*").alias("c"))
               .filter(F.col("c") == 2).select("u", "v"))
        mv = new.select(F.explode(F.array("u", "v")).alias("x"))
        # matched rows pass the anti-joins untouched: routed through their
        # shuffles, the state keeps a bounded partition count instead of
        # adding this round's partitions to the last
        live_at = F.col("m").isNull()
        kept = (st.join(mv, live_at & (F.col("u") == mv["x"]), "left_anti")
                .join(mv, live_at & (F.col("v") == mv["x"]), "left_anti"))
        return kept.unionByName(new.withColumn("m", F.lit(True)),
                                allowMissingColumns=True)

    st = undirected(edges, src, dst).select(
        "u", "v", phash.hash60_parts(F.col("u"), F.col("v")).alias("h"),
        F.lit(None).cast("boolean").alias("m"))
    st = iterate(st, step, rounds,
                 until=lambda new, old: new.filter(F.col("m").isNull()),
                 what="maximal_matching")
    return st.filter("m").select("u", "v")


def sql_maximal_matching(edges_cte: str, rounds: int = 12) -> str:
    """DuckDB twin — same handshake rounds as MATERIALIZED CTEs.
    edges_cte must end in ed(src, dst)."""
    from geobuf_spark.functions import phash
    h = phash.sql_hash60_parts("u", "v")

    def step(r):
        prev = f"l{r - 1}"
        return {
            f"in{r}": f"""(SELECT u AS n, h, u, v FROM {prev}
                  UNION ALL SELECT v AS n, h, u, v FROM {prev})""",
            f"nm{r}": f"""(SELECT u, v FROM (
            SELECT u, v, row_number() OVER (PARTITION BY n
                ORDER BY h, u, v) AS rn FROM in{r}) WHERE rn = 1)""",
            f"m{r}": f"""MATERIALIZED (SELECT u, v FROM nm{r}
                              GROUP BY 1, 2 HAVING count(*) = 2)""",
            f"mv{r}": f"(SELECT u AS x FROM m{r} UNION SELECT v FROM m{r})",
            f"l{r}": f"""MATERIALIZED (
            SELECT * FROM {prev}
            WHERE u NOT IN (SELECT x FROM mv{r})
              AND v NOT IN (SELECT x FROM mv{r}))"""}

    allm = "\n        UNION ALL ".join(
        f"SELECT u, v FROM m{r}" for r in range(1, rounds + 1))
    return (With(edges_cte).extend(sql_undirected())
            .add("l0", f"MATERIALIZED (SELECT u, v, {h} AS h FROM und)")
            .extend(sql_rounds(rounds, step))
            .select(f"SELECT u, v FROM ({allm})"))


def coreness(edges: DataFrame, max_rounds: int = 20,
             src: str = "src", dst: str = "dst") -> DataFrame:
    """Full k-core decomposition: (host, coreness) for every node of the
    undirected simple graph, by the h-index fixpoint (Lü et al. 2016):
    start from degrees and repeatedly set c(v) ← h-index of the
    multiset {c(u) : u ∈ N(v)}; the (unique) fixpoint is exactly the
    coreness. Monotone non-increasing, so convergence is detectable by
    one emptiness probe; raises if max_rounds caps out. Each round: one
    join + one per-node window (rank neighbors by value, h = max(min(rank,
    value))). The classic sequential peeling is the pytest's independent
    oracle."""
    adj = adjacency(undirected(edges, src, dst))
    w = Window.partitionBy("n").orderBy(F.col("cv").desc(),
                                        F.col("nb").asc())

    def step(c, _):
        j = adj.join(c.select(F.col("n").alias("nb"),
                              F.col("c").alias("cv")), "nb")
        return (j.withColumn("rk", F.row_number().over(w))
                .groupBy("n")
                .agg(F.max(F.least(F.col("rk"), F.col("cv"))).alias("c")))

    c = iterate(adj.groupBy("n").agg(F.count("*").alias("c")), step,
                max_rounds,
                until=lambda new, old: (
                    new.join(old.withColumnRenamed("c", "old"), "n")
                    .filter(F.col("c") != F.col("old"))),
                what="coreness")
    return c.select(F.col("n").alias("host"),
                    F.col("c").cast("int").alias("coreness"))


def sql_coreness(edges_cte: str, rounds: int = 20) -> str:
    """DuckDB twin: the same h-index rounds as MATERIALIZED CTEs, run a
    FIXED `rounds` times — extra rounds past the fixpoint are no-ops,
    which is what lets the converge-then-stop engine side match."""
    def step(r):
        return {
            f"j{r}": f"""(SELECT a.n, c.c AS cv, a.nb,
                        row_number() OVER (PARTITION BY a.n
                            ORDER BY c.c DESC, a.nb ASC) AS rk
                 FROM adj a JOIN c{r - 1} c ON c.n = a.nb)""",
            f"c{r}": f"""MATERIALIZED (
            SELECT n, max(least(rk, cv)) AS c FROM j{r} GROUP BY 1)"""}

    return (With(edges_cte).extend(sql_undirected())
            .add("c0", "MATERIALIZED (SELECT n, count(*) AS c FROM adj GROUP BY 1)")
            .extend(sql_rounds(rounds, step))
            .select(f"SELECT n AS host, CAST(c AS INT) AS coreness FROM c{rounds}"))


def ktruss(edges: DataFrame, k: int = 3, max_rounds: int = 12,
           src: str = "src", dst: str = "dst") -> DataFrame:
    """k-truss of the undirected simple graph: the maximal subgraph in
    which every edge is supported by ≥ k−2 triangles (within the
    subgraph). Peeling fixpoint: compute per-edge support by compact-
    forward triangle enumeration (each triangle a<b<c found exactly once
    from its two lower edges, then closed against the edge set), drop
    edges below threshold, repeat until no edge is removed — raises if
    `max_rounds` caps out.

    Cohesion is stricter than k-core (a k-truss is a (k−1)-core but not
    vice versa), which is why community pipelines peel trusses to kill
    star-spam that survives coring. Each round is two self-joins + one
    closure join + one aggregation, all on the canonical (u<v) edge key
    — shuffle-partitioned by edge endpoints, no driver state; rounds are
    O(peeling depth), small on real web graphs. Returns the surviving
    edges with their final support (support computed on the CONVERGED
    edge set — the last round is a no-op, so its support is current).
    """
    thr = k - 2

    def step(st, _):
        e = st.select("u", "v")
        return (e.join(_edge_support(e), ["u", "v"], "left")
                .select("u", "v", F.coalesce("sup", F.lit(0)).alias("sup"))
                .filter(F.col("sup") >= thr))

    t = iterate(undirected(edges, src, dst), step, max_rounds,
                until=lambda new, old: old.select("u", "v").join(
                    new.select("u", "v"), ["u", "v"], "left_anti"),
                what=f"ktruss(k={k})")
    return t.select("u", "v", F.col("sup").cast("int").alias("support"))


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support of a canonical (u<v) edge set: compact-
    forward wedges (a,b)(a,c) with b<c closed against (b,c); each found
    triangle credits all three edges via a 3-way projection union."""
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = (e1.join(e2, "a")
           .filter(F.col("b") < F.col("c"))
           .join(e.select(F.col("u").alias("b"), F.col("v").alias("c")),
                 ["b", "c"]))
    per_edge = (tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
                .unionAll(tri.select(F.col("a").alias("u"),
                                     F.col("c").alias("v")))
                .unionAll(tri.select(F.col("b").alias("u"),
                                     F.col("c").alias("v"))))
    return per_edge.groupBy("u", "v").agg(F.count("*").alias("sup"))


def sql_ktruss(edges_cte: str, k: int = 3, rounds: int = 12) -> str:
    """DuckDB twin of `ktruss`: the same peeling rounds as fixed-length
    MATERIALIZED CTEs (extra rounds past the fixpoint are no-ops, which
    is what lets the converge-then-stop engine side match), then one
    final support pass over e{rounds} for the reported counts.

    `rounds` must be >= the converged peeling depth; where the Spark twin
    raises on non-convergence, this query guards with a final-round no-op
    assertion — if e{rounds-1} and e{rounds} still differ, the guard CTE
    calls DuckDB's error() and the query fails loudly instead of silently
    returning a non-converged edge set."""
    thr = k - 2

    def sup(src_cte: str, name: str) -> dict[str, str]:
        return {
            f"t{name}": f"""(SELECT e1.u AS a, e1.v AS b, e2.v AS c
                    FROM {src_cte} e1 JOIN {src_cte} e2 ON e1.u = e2.u
                        AND e1.v < e2.v
                    JOIN {src_cte} e3 ON e3.u = e1.v AND e3.v = e2.v)""",
            f"s{name}": f"""MATERIALIZED (
            SELECT u, v, count(*) AS sup FROM (
                SELECT a AS u, b AS v FROM t{name}
                UNION ALL SELECT a AS u, c AS v FROM t{name}
                UNION ALL SELECT b AS u, c AS v FROM t{name})
            GROUP BY 1, 2)"""}

    def step(r):
        return {**sup(f"e{r - 1}", str(r)),
                f"e{r}": f"""MATERIALIZED (
            SELECT e.u, e.v FROM e{r - 1} e JOIN s{r} s
                ON s.u = e.u AND s.v = e.v
            WHERE s.sup >= {thr})"""}

    w = (With(edges_cte).extend(sql_undirected())
         .add("e0", "(SELECT u, v FROM und)")
         .extend(sql_rounds(rounds, step)))
    for name, body in sup(f"e{rounds}", "F").items():
        w.add(name, body)
    return (w.add("conv_guard", f"""(
            SELECT CASE WHEN (SELECT count(*) FROM e{rounds - 1})
                           = (SELECT count(*) FROM e{rounds})
                   THEN 1 ELSE CAST(error('sql_ktruss: not converged in '
                                          || {rounds} || ' rounds') AS INT)
                   END AS ok)""")
            .select(f"""SELECT e.u, e.v, CAST(s.sup AS INT) AS support
        FROM e{rounds} e JOIN sF s ON s.u = e.u AND s.v = e.v
        CROSS JOIN conv_guard
        WHERE s.sup >= {thr} AND conv_guard.ok = 1"""))
