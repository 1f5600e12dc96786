"""Registry family: host-graph and graph-analytics queries.

Split out of the former __spark_entry__.py monolith (VERDICT r4 #2);
query functions keep their original text, oracles sit beside them in
this module's oracles(). Driver-window ORDER lives in window.py, not here.

Queries here (32):
bfs_hops3, bipartite_check, boruvka_round1, cluster_diameter,
clustering_coeff, consistent_shards, coreness, dag_layers,
dbscan_clusters, dbscan_core, degree_assortativity, diameter_sweep,
emst_clusters, hits_hosts, influence_spread, kcore_hosts,
ktruss_edges, link_prediction_ra, link_reciprocity, lpa_communities,
markov_predict_eval, markov_stationary, maximal_matching, mis_luby,
pagerank_hosts, power_iteration, ppr_hosts, redirect_resolve,
rich_club, sssp_w3, stable_matching, triangle_hosts
"""
from __future__ import annotations
from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from geobuf_spark.functions import text as TXT
from geobuf_spark.functions import geom, hexgrid, phash, tiles
from geobuf_spark.operators import dedup, graph, knn, ranking, similarity, sketch
from geobuf_spark.operators.fixpoint import With, iterate, sql_rounds
from geobuf_spark.operators import spatial_join as sj
from geobuf_spark.operators import tiling
from geobuf_spark.sources import minted, pages
from geobuf_spark.streaming import windows as W
from ._shared import *  # noqa: F401,F403

# the host-edge fixture as the edges(src, dst) CTE the PPR/HITS twins read
_HOST_EDGES_SQL = _host_edges_cte() + ", edges AS (SELECT src, dst FROM ed)"


def q_hits_hosts(spark, sf):
    # HITS hubs/authorities over the host link graph — 2 integer
    # fixed-point iterations with max-normalization (one 1-row global agg
    # per half-step, broadcast back); every step BIGINT so the DuckDB twin
    # chains the identical CTEs. One shuffle per half-step.
    e = _page_link_edges(spark, 2000).select(
        F.col("src_host").alias("src"),
        TXT.url_host(F.col("dst")).alias("dst"))
    r = graph.hits_int(e, iters=2)
    return (r.orderBy(F.desc("auth_ppm"), F.desc("hub_ppm"), F.asc("host"))
             .limit(25))

def q_triangle_hosts(spark, sf):
    # exact triangle census + global clustering coefficient of the host
    # link graph — the cohesion measure pagerank/HITS (importance) don't
    # give. Degree-ordered compact-forward orientation bounds the wedge
    # join; see graph.triangle_stats for the 10^8-host plan notes.
    return graph.triangle_stats(_host_edges(spark), "src_host", "dst_host")

def _triangle_hosts_sql() -> str:
    """Oracle for q_triangle_hosts: regenerated link edges mapped to host
    pairs, then the brute u<v<w three-way join (graph.sql_triangle_stats)."""
    return graph.sql_triangle_stats(_host_edges_cte(), "src", "dst")

def q_link_reciprocity(spark, sf):
    # graph reciprocity: the share of directed host links whose reverse
    # edge also exists — one row (n_edges, n_reciprocal,
    # reciprocity_ppm). Distinct directed pairs, then a self-join on the
    # swapped key; left_semi keeps it set-shaped.
    e = (_page_link_edges(spark, 2000)
         .select("src_host", TXT.url_host(F.col("dst")).alias("dst_host"))
         .filter(F.col("src_host") != F.col("dst_host"))
         .distinct().localCheckpoint(eager=False))
    rev = e.select(F.col("dst_host").alias("src_host"),
                   F.col("src_host").alias("dst_host"))
    recip = e.join(rev, ["src_host", "dst_host"], "left_semi")
    return (e.agg(F.count("*").alias("n_edges"))
            .crossJoin(recip.agg(F.count("*").alias("n_reciprocal")))
            .select("n_edges", "n_reciprocal",
                    F.expr("n_reciprocal * 1000000 div n_edges")
                    .alias("reciprocity_ppm")))

def _link_reciprocity_sql() -> str:
    """Oracle for q_link_reciprocity over the regenerated edges."""
    return f"""
        WITH {_links_cte()},
        ed AS (SELECT DISTINCT src_host AS s, {TXT.sql_url_host('dst')} AS d
               FROM e WHERE src_host <> {TXT.sql_url_host('dst')}),
        r AS (SELECT count(*) AS n_reciprocal
              FROM ed a WHERE EXISTS (SELECT 1 FROM ed b
                                      WHERE b.s = a.d AND b.d = a.s)),
        n AS (SELECT count(*) AS n_edges FROM ed)
        SELECT CAST(n_edges AS BIGINT) AS n_edges,
               CAST(n_reciprocal AS BIGINT) AS n_reciprocal,
               CAST(n_reciprocal * 1000000 // n_edges AS BIGINT)
                   AS reciprocity_ppm
        FROM n, r"""

def q_pagerank_hosts(spark, sf):
    # Host-authority PageRank over the link graph — 3 synchronous integer
    # fixed-point iterations (operators/graph.pagerank_int): every step is
    # BIGINT arithmetic, so the result is bit-exact across engines and
    # partitionings (no float summation-order sensitivity) and the DuckDB
    # oracle chains the SAME iterations as CTEs. One shuffle per iteration
    # (edges ⋈ ranks, groupBy dst with partial sums); rank/degree tables
    # are hosts-sized, broadcast by AQE when they fit. Top-25 by rank with
    # a (rank_ppm, host) total order.
    e = _page_link_edges(spark, 2000).select(
        F.col("src_host").alias("src"),
        TXT.url_host(F.col("dst")).alias("dst"))
    r = graph.pagerank_int(e, iters=3)
    return r.orderBy(F.desc("rank_ppm"), F.asc("host")).limit(25)

def q_clustering_coeff(spark, sf):
    # per-host LOCAL clustering coefficient — triangle_hosts gives the
    # global census, this grades each host's neighborhood cohesion
    # (link-farm rings score near 1e6 ppm, organic hubs near 0). Exact
    # integers end-to-end; the compact-forward orientation finds each
    # triangle once and ONE explode credits its three corners
    # (graph.local_clustering for the 10^8-host plan notes).
    return graph.local_clustering(_host_edges(spark), "src_host", "dst_host")

def _clustering_coeff_sql() -> str:
    """Oracle for q_clustering_coeff: brute per-corner wedge close over
    the regenerated edges (graph.sql_local_clustering)."""
    return graph.sql_local_clustering(_host_edges_cte(), "src", "dst")

def q_link_prediction_ra(spark, sf):
    # link prediction by resource allocation: non-adjacent host pairs
    # ranked by Σ 1/deg(z) over common neighbors z, in exact pico-units
    # (RA beats raw common-neighbor counts by discounting promiscuous
    # hubs, and unlike Adamic-Adar needs no log — so the fixed-point form
    # hashes identically on both engines). min_common=2 is the same
    # fan-out cap contract as cocitation_pairs.
    return graph.resource_allocation(_host_edges(spark),
                                     "src_host", "dst_host", min_common=2)

def _link_prediction_ra_sql() -> str:
    return graph.sql_resource_allocation(_host_edges_cte(), "src", "dst",
                                         min_common=2)

def q_bfs_hops3(spark, sf):
    # multi-source BFS: hop distance (≤3) from the round-number seed
    # hosts (site*00.example) over the undirected host graph — the
    # "crawl frontier depth" query. Each round is one join + one min-agg
    # shuffle with lineage checkpoints (graph.bfs_hops); the oracle
    # unrolls the same rounds as CTEs.
    ed = _host_edges(spark)
    seeds = (graph.nodes(ed, "src_host", "dst_host")
             .filter(F.col("host").endswith("00.example")))
    return graph.bfs_hops(ed, seeds, max_hops=3,
                          src="src_host", dst="dst_host")

def _bfs_hops3_sql() -> str:
    return graph.sql_bfs_hops(_host_edges_cte(),
                              "n LIKE '%00.example'", max_hops=3,
                              src="src", dst="dst")

def q_dbscan_core(spark, sf):
    # DBSCAN's expensive step — eps-neighbourhood counting — as a 3x3
    # grid-cell join over the clustered point mint (point-level density,
    # vs hotspot_clusters' tile-count density): each point probes its 9
    # neighbour cells at cell = eps, exact integer d² ≤ eps² refine, core
    # flag at ≥ DBSCAN_MIN_NBRS. Never all-pairs; cells bound candidates
    # by local density, the 100 TB shape (salting applies to hot cells).
    p = minted.minted_cluster_points_q(spark, sf)
    a = (p.select(F.col("doc_id").alias("a_id"),
                  F.col("qx").alias("ax"), F.col("qy").alias("ay"))
         .withColumn("dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
         .withColumn("dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
         .withColumn("cx", F.expr(f"ax div {DBSCAN_EPS} + dx"))
         .withColumn("cy", F.expr(f"ay div {DBSCAN_EPS} + dy")))
    b = p.select(F.col("doc_id").alias("b_id"),
                 F.col("qx").alias("bx"), F.col("qy").alias("by"),
                 F.expr(f"qx div {DBSCAN_EPS}").alias("cx"),
                 F.expr(f"qy div {DBSCAN_EPS}").alias("cy"))
    nbrs = (a.join(b, ["cx", "cy"])
            .filter((F.col("a_id") != F.col("b_id"))
                    & ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
                       + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
                       <= DBSCAN_EPS * DBSCAN_EPS))
            .groupBy("a_id").agg(F.count("*").alias("n_nbrs")))
    return (p.select(F.col("doc_id"), F.col("qx"), F.col("qy"))
            .join(nbrs.withColumnRenamed("a_id", "doc_id"), "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_nbrs", F.lit(0)).alias("n_nbrs"),
                    (F.coalesce("n_nbrs", F.lit(0)) >= DBSCAN_MIN_NBRS)
                    .alias("is_core")))

def _dbscan_pairs_sql() -> str:
    """Oracle twin of _dbscan_nbr_pairs_spark: CTEs p (the points) and
    pr(a_id, b_id), the point pairs within DBSCAN_EPS."""
    eps = DBSCAN_EPS
    return f"""p AS ({minted.sql_minted_cluster_points_q()}),
        a AS (SELECT doc_id AS a_id, qx AS ax, qy AS ay,
                     qx // {eps} + dxs.dx AS cx, qy // {eps} + dys.dy AS cy
              FROM p,
              LATERAL (SELECT unnest(range(-1, 2)) AS dx) dxs,
              LATERAL (SELECT unnest(range(-1, 2)) AS dy) dys),
        b AS (SELECT doc_id AS b_id, qx AS bx, qy AS by,
                     qx // {eps} AS cx, qy // {eps} AS cy
              FROM p),
        pr AS (SELECT a_id, b_id FROM a JOIN b
                   ON a.cx = b.cx AND a.cy = b.cy
               WHERE a_id <> b_id
                 AND (ax - bx) * (ax - bx) + (ay - by) * (ay - by)
                     <= {eps * eps})"""

def _dbscan_core_sql() -> str:
    return f"""
        WITH {_dbscan_pairs_sql()},
        n AS (SELECT a_id, count(*) AS n_nbrs FROM pr GROUP BY 1)
        SELECT p.doc_id, coalesce(n.n_nbrs, 0) AS n_nbrs,
               coalesce(n.n_nbrs, 0) >= {DBSCAN_MIN_NBRS} AS is_core
        FROM p LEFT JOIN n ON p.doc_id = n.a_id"""

def q_kcore_hosts(spark, sf):
    # k-core decomposition (k=2) by synchronous peeling over the host
    # link graph: drop degree-<k nodes, re-derive degrees, repeat — the
    # graph-cleaning pass that strips leaf chains before community /
    # centrality work. KCORE_ROUNDS fixed rounds (pytest pins the
    # fixpoint on this fixture); each round is one degree aggregation +
    # two semi-joins.
    def step(e, _):
        deg = graph.adjacency(e).groupBy("n").agg(F.count("*").alias("c"))
        keep = deg.filter(F.col("c") >= KCORE_K).select("n")
        return (e.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
                .join(keep.withColumnRenamed("n", "v"), "v", "left_semi"))

    e = iterate(graph.undirected(_host_edges(spark, 2000), "src_host",
                                 "dst_host"), step, KCORE_ROUNDS)
    return (graph.adjacency(e).groupBy(F.col("n").alias("host"))
            .agg(F.count("*").alias("degree")))

def _kcore_hosts_sql() -> str:
    def step(r):
        return {
            f"kd{r}": f"""MATERIALIZED (SELECT n, count(*) AS c FROM (
                      SELECT u AS n FROM ke{r - 1}
                      UNION ALL SELECT v AS n FROM ke{r - 1})
                  GROUP BY 1)""",
            f"kk{r}": f"(SELECT n FROM kd{r} WHERE c >= {KCORE_K})",
            f"ke{r}": f"""MATERIALIZED (SELECT e.u, e.v FROM ke{r - 1} e
                  JOIN kk{r} a ON e.u = a.n JOIN kk{r} b ON e.v = b.n)"""}

    final = KCORE_ROUNDS
    return (With(_host_edges_cte()).extend(graph.sql_undirected())
            .add("ke0", "(SELECT u, v FROM und)")
            .extend(sql_rounds(KCORE_ROUNDS, step))
            .select(f"""SELECT n AS host, count(*) AS degree FROM (
            SELECT u AS n FROM ke{final}
            UNION ALL SELECT v AS n FROM ke{final})
        GROUP BY 1"""))

def q_cluster_diameter(spark, sf):
    # exact per-cluster diameter: max pairwise d² inside each minted
    # cluster with a deterministic witness pair (smallest (a,b) among
    # maxima, via packed-min — never min(a),min(b) across different
    # pairs). Equi-join on the cluster id only — quadratic in CLUSTER
    # size, never corpus size; the 100 TB path runs convex hull +
    # rotating calipers per cluster, this is the exact small-cluster
    # tier. d² ≤ (7e7)² ≈ 5e15 — int64-safe.
    p = (minted.minted_cluster_points_q(spark, sf)
         .withColumn("gid", F.col("doc_id") % minted.N_CLUSTERS))
    a = p.select("gid", F.col("doc_id").alias("a_id"),
                 F.col("qx").alias("ax"), F.col("qy").alias("ay"))
    b = p.select("gid", F.col("doc_id").alias("b_id"),
                 F.col("qx").alias("bx"), F.col("qy").alias("by"))
    d2 = ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
          + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
    pairs = (a.join(b, ["gid"]).filter(F.col("a_id") < F.col("b_id"))
             .select("gid", "a_id", "b_id", d2.alias("d2"))
             .localCheckpoint(eager=False))  # feeds max + witness passes
    mx = pairs.groupBy("gid").agg(F.max("d2").alias("max_d2"))
    npts = p.groupBy("gid").agg(F.count("*").alias("n_pts"))
    wit = (pairs.join(mx, "gid")
           .filter(F.col("d2") == F.col("max_d2"))
           .groupBy("gid")
           .agg(F.min(F.col("a_id") * DIAM_PACK + F.col("b_id"))
                .alias("pack")))
    return (npts.join(mx, "gid").join(wit, "gid")
            .select("gid", "n_pts", "max_d2",
                    F.expr(f"pack div {DIAM_PACK}").alias("diam_a"),
                    F.expr(f"pack % {DIAM_PACK}").alias("diam_b")))

def _cluster_diameter_sql() -> str:
    pts = minted.sql_minted_cluster_points_q()
    return f"""
        WITH p AS (SELECT doc_id, qx, qy, doc_id % {minted.N_CLUSTERS}
                       AS gid
                   FROM ({pts})),
        pr AS (SELECT a.gid, a.doc_id AS a_id, b.doc_id AS b_id,
                      (a.qx - b.qx) * (a.qx - b.qx)
                      + (a.qy - b.qy) * (a.qy - b.qy) AS d2
               FROM p a JOIN p b
                 ON a.gid = b.gid AND a.doc_id < b.doc_id),
        mx AS (SELECT gid, max(d2) AS max_d2 FROM pr GROUP BY 1),
        np AS (SELECT gid, count(*) AS n_pts FROM p GROUP BY 1),
        w AS (SELECT pr.gid,
                     min(a_id * {DIAM_PACK} + b_id) AS pack
              FROM pr JOIN mx ON pr.gid = mx.gid AND pr.d2 = mx.max_d2
              GROUP BY 1)
        SELECT np.gid, np.n_pts, mx.max_d2,
               pack // {DIAM_PACK} AS diam_a,
               pack % {DIAM_PACK} AS diam_b
        FROM np JOIN mx ON np.gid = mx.gid JOIN w ON np.gid = w.gid"""

def q_degree_assortativity(spark, sf):
    # link-graph mixing structure: Pearson correlation between the
    # source's out-degree and the target's in-degree across EDGES —
    # negative r = hubs point at leaves (web-like), positive = rich club.
    # Integer moments (the verifiable payload) + r_e6 from shared float
    # text, exactly the autocorr_daily recipe. Degree tables are
    # host-sized → AQE broadcasts them onto the edge stream; one edge
    # scan, no edge-side shuffle beyond the two degree aggs.
    e = _page_link_edges(spark, 2000).select(
        F.col("src_host").alias("src"),
        TXT.url_host(F.col("dst")).alias("dst"))
    outd = e.groupBy("src").agg(F.count("*").alias("j"))
    ind = e.groupBy("dst").agg(F.count("*").alias("k"))
    em = e.join(outd, "src").join(ind, "dst")
    agg = em.agg(F.count("*").alias("m"),
                 F.sum("j").alias("sj"), F.sum("k").alias("sk"),
                 F.sum(F.col("j") * F.col("j")).alias("sjj"),
                 F.sum(F.col("k") * F.col("k")).alias("skk"),
                 F.sum(F.col("j") * F.col("k")).alias("sjk"))
    return agg.withColumn("r_e6", F.expr(
        "CAST(floor(1000000.0 * CAST(m * sjk - sj * sk AS DOUBLE)"
        " / sqrt(CAST(m * sjj - sj * sj AS DOUBLE)"
        " * CAST(m * skk - sk * sk AS DOUBLE))) AS BIGINT)"))

def _degree_assortativity_sql() -> str:
    return f"""
        WITH {_host_edges_cte()},
        outd AS (SELECT src, count(*) AS j FROM ed GROUP BY 1),
        ind AS (SELECT dst, count(*) AS k FROM ed GROUP BY 1),
        em AS (SELECT outd.j, ind.k
               FROM ed JOIN outd ON ed.src = outd.src
                       JOIN ind ON ed.dst = ind.dst),
        m AS (SELECT count(*) AS m,
                     CAST(sum(j) AS BIGINT) AS sj,
                     CAST(sum(k) AS BIGINT) AS sk,
                     CAST(sum(j * j) AS BIGINT) AS sjj,
                     CAST(sum(k * k) AS BIGINT) AS skk,
                     CAST(sum(j * k) AS BIGINT) AS sjk
              FROM em)
        SELECT m, sj, sk, sjj, skk, sjk,
               CAST(floor(1000000.0 * CAST(m * sjk - sj * sk AS DOUBLE)
                   / sqrt(CAST(m * sjj - sj * sj AS DOUBLE)
                   * CAST(m * skk - sk * sk AS DOUBLE))) AS BIGINT)
                   AS r_e6
        FROM m"""

# ---------------------------------------------------------------------------
# batch 51 — Borůvka round 1: nearest-neighbor forest components
# ---------------------------------------------------------------------------

def q_boruvka_round1(spark, sf):
    # the first round of distributed Borůvka / single-linkage (HDBSCAN's
    # skeleton): every point contracts along its exact nearest-neighbor
    # edge, components of the NN forest become the round-1 clusters.
    # NN from the grid-bucketed radius join (exact lattice d², min per
    # point with a deterministic (d², nb) tie-break); components via
    # min-label + pointer jumping (operators/dedup.near_dup_components —
    # O(log diameter) rounds). Points with no neighbor inside RADIUS_R
    # stay singletons. Output: one row per cluster (rep, size).
    from geobuf_spark.sources.tables import widen
    p = widen(minted.minted_cluster_points_q(spark, sf), spark)
    pairs = sj.radius_self_join(p, r=RADIUS_R)
    both = (pairs.select(F.col("id_a").alias("doc_id"),
                         F.col("id_b").alias("nb"), "dist2")
            .unionByName(pairs.select(F.col("id_b").alias("doc_id"),
                                      F.col("id_a").alias("nb"), "dist2"))
            .localCheckpoint(eager=False))  # feeds min + argmin passes
    nnd = both.groupBy("doc_id").agg(F.min("dist2").alias("nn_d2"))
    nn = (both.join(nnd, "doc_id")
          .filter(F.col("dist2") == F.col("nn_d2"))
          .groupBy("doc_id").agg(F.min("nb").alias("nb")))
    comp = dedup.near_dup_components(nn, "doc_id", "nb")
    lab = (p.select("doc_id").join(comp, "doc_id", "left")
           .select("doc_id",
                   F.coalesce("rep_id", "doc_id").alias("rep")))
    return lab.groupBy("rep").agg(F.count("*").alias("n_pts"))

def _boruvka_round1_sql() -> str:
    pts = minted.sql_minted_cluster_points_q()
    return f"""
        WITH RECURSIVE p AS ({pts}),
        cand AS (SELECT a.doc_id, b.doc_id AS nb,
                        CAST(a.qx - b.qx AS HUGEINT) * (a.qx - b.qx)
                        + CAST(a.qy - b.qy AS HUGEINT) * (a.qy - b.qy)
                            AS d2
                 FROM p a JOIN p b ON a.doc_id <> b.doc_id),
        inr AS (SELECT doc_id, nb, d2 FROM cand
                WHERE d2 <= {RADIUS_R}::HUGEINT * {RADIUS_R}),
        nnd AS (SELECT doc_id, min(d2) AS nn_d2 FROM inr GROUP BY 1),
        nn AS (SELECT inr.doc_id, min(nb) AS nb
               FROM inr JOIN nnd ON inr.doc_id = nnd.doc_id
                    AND inr.d2 = nnd.nn_d2
               GROUP BY 1),
        edges AS (SELECT doc_id AS u, nb AS v FROM nn
                  UNION SELECT nb, doc_id FROM nn),
        walk(u, label) AS (
            SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT e.u, w.label FROM edges e JOIN walk w ON e.v = w.u),
        comp AS (SELECT u AS doc_id, min(label) AS rep_id
                 FROM walk GROUP BY u)
        SELECT coalesce(c.rep_id, p.doc_id) AS rep,
               count(*) AS n_pts
        FROM p LEFT JOIN comp c ON c.doc_id = p.doc_id
        GROUP BY 1"""

def q_markov_stationary(spark, sf):
    # behavioral steady state: the empirical event-type transition
    # matrix (per-user consecutive pairs) powered 3 integer fixed-point
    # iterations from the uniform ppm vector — the Markov sibling of
    # pagerank_int, same bit-exactness argument. The matrix is
    # |types|² = 25 rows, so every join broadcasts; the only real
    # shuffle is the transition-pair count.
    from pyspark.sql import Window as Win
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "event_type", "ts", "event_id")
    w = Win.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (e.withColumn("nxt", F.lead("event_type").over(w))
             .filter(F.col("nxt").isNotNull()))
    trans = (pairs.groupBy(F.col("event_type").alias("p"),
                           F.col("nxt").alias("t"))
             .agg(F.count("*").alias("c")))
    rowsum = trans.groupBy("p").agg(F.sum("c").alias("r"))
    trans = trans.join(rowsum, "p").localCheckpoint(eager=False)
    v = (trans.select(F.col("p").alias("event_type")).distinct()
         .withColumn("v", F.lit(MARKOV_V0).cast("bigint")))

    # the state keeps each earlier round's vector as a column v{r}; a
    # round's event types are among the previous round's, so the left
    # join from the new vector drops nothing (round 1's v0 is not kept)
    def step(st, r):
        return (_markov_step(st, trans)
                .join(st.withColumnRenamed("v", f"v{r - 1}").drop("v0"),
                      "event_type", "left"))

    return iterate(v, step, 3).select("event_type", "v1", "v2",
                                      F.col("v").alias("v3"))

def _markov_stationary_sql() -> str:
    return (With(f"""pr AS (SELECT user_id, event_type, ts, event_id,
                           lead(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS nxt
                    FROM events),
        cnt AS (SELECT event_type AS p, nxt AS t, count(*) AS c
                FROM pr WHERE nxt IS NOT NULL GROUP BY 1, 2),
        rs AS (SELECT p, CAST(sum(c) AS BIGINT) AS r FROM cnt GROUP BY 1),
        trans AS (SELECT cnt.p, cnt.t, CAST(c AS BIGINT) AS c, r
                  FROM cnt JOIN rs ON cnt.p = rs.p),
        v0 AS (SELECT DISTINCT p AS event_type,
                      {MARKOV_V0}::BIGINT AS v
               FROM trans)""")
            .extend(sql_rounds(3, lambda n: {f"v{n}": f"""(SELECT t AS event_type,
                        CAST(sum(v * c // r) AS BIGINT) AS v
                 FROM trans JOIN v{n - 1} ON trans.p = v{n - 1}.event_type
                 GROUP BY 1)"""}))
            .select("""SELECT v1.event_type, v1.v AS v1, v2.v AS v2, v3.v AS v3
        FROM v1 JOIN v2 USING (event_type) JOIN v3 USING (event_type)"""))

def q_redirect_resolve(spark, sf):
    # canonical redirect resolution — the URL-graph fixpoint every crawl
    # dedup runs before grouping by final target: follow next-hops to
    # the terminal with POINTER DOUBLING (state[i] ← state[state[i]],
    # depths add), so a depth-d chain resolves in ⌈log₂ d⌉ rounds of
    # self-joins instead of d sequential hops — the only shape that
    # works when 10^12 urls hide 1000-hop chains. Converges or raises
    # (a partial resolve would alias distinct targets); a terminal
    # points at itself with depth 0, so rounds past resolution are no-ops.
    ids = spark.range(REDIR_N).select(F.col("id").cast("bigint"))
    st = ids.select(
        "id", _redir_parent_col().alias("nxt"),
        F.when(F.col("id") % 5 == 0, F.lit(0)).otherwise(F.lit(1))
        .cast("bigint").alias("depth"))

    def step(st, _):
        hop = st.select(F.col("id").alias("nxt"),
                        F.col("nxt").alias("nxt2"),
                        F.col("depth").alias("d2"))
        return (st.join(hop, "nxt")
                .select("id", F.col("nxt2").alias("nxt"),
                        (F.col("depth") + F.col("d2")).alias("depth")))

    st = iterate(st, step, 8,  # covers depth ≤ 2^8
                 until=lambda new, old: new.filter(F.col("nxt") % 5 != 0),
                 what="redirect_resolve")
    return (st.select("id", F.col("nxt").alias("final_id"), "depth")
            .groupBy("final_id")
            .agg(F.count("*").alias("n_urls"),
                 F.max("depth").alias("max_depth"),
                 F.sum("depth").alias("total_hops")))

def _redirect_resolve_sql() -> str:
    return f"""
        WITH RECURSIVE ids AS (SELECT CAST(t.id AS BIGINT) AS id
                               FROM range({REDIR_N}) t(id)),
        par AS (SELECT id,
                       CASE WHEN id % 5 = 0 THEN id
                            ELSE greatest(id - (1 + id % 3), 0) END
                           AS nxt
                FROM ids),
        walk(id, cur, depth) AS (
            SELECT id, id, CAST(0 AS BIGINT) FROM ids
            UNION
            SELECT w.id, p.nxt, w.depth + 1
            FROM walk w JOIN par p ON p.id = w.cur
            WHERE w.cur % 5 <> 0),
        fin AS (SELECT id, cur AS final_id, depth FROM walk
                WHERE cur % 5 = 0)
        SELECT final_id, count(*) AS n_urls,
               max(depth) AS max_depth,
               CAST(sum(depth) AS BIGINT) AS total_hops
        FROM fin GROUP BY 1"""

def _host_wedges_cte() -> str:
    h = phash.sql_hash60("least(src, dst) || '>' || greatest(src, dst)")
    return (_host_edges_cte() + f""",
        wed AS (SELECT src, dst, {h} % 90 + 10 AS w FROM ed)""")

def q_sssp_w3(spark, sf):
    # bounded-hop WEIGHTED shortest path from the seed hosts over the
    # link graph with minted integer latencies — the weighted sibling of
    # bfs_hops3 ("cheapest crawl route within 3 hops"). Bellman-Ford
    # with a changed-set frontier (graph.sssp_bounded): round k relaxes
    # only nodes improved in round k-1, so the per-round join shrinks as
    # the wave settles. The oracle is the INDEPENDENT algorithm — full
    # ≤3-edge walk enumeration with one final min, no relaxation — so a
    # green row checks the frontier delta argument end to end.
    ed = _host_wedges(spark)
    seeds = graph.nodes(ed).filter(F.col("host").endswith("00.example"))
    return graph.sssp_bounded(ed, seeds, max_rounds=3)

def _sssp_w3_sql() -> str:
    return graph.sql_sssp_bounded(_host_wedges_cte(),
                                  "n LIKE '%00.example'", max_rounds=3)

def q_lpa_communities(spark, sf):
    # community detection over the host link graph by 2 rounds of
    # deterministic synchronous label propagation (graph.lpa_labels:
    # neighbor-majority + one self-vote, ties → lexicographically
    # smallest label — partitioning-invariant by construction). Output
    # is the community census (label, n_hosts), the input to "sample
    # training pages per community" stratification. Oracle: the same
    # rounds as MATERIALIZED chained CTEs — independent engine, same
    # fixpoint; a python brute guards the shared-formula blindness.
    lab = graph.lpa_labels(_host_edges(spark), rounds=2, src="src_host",
                           dst="dst_host")
    return (lab.groupBy(F.col("lab").alias("community"))
            .agg(F.count("*").alias("n_hosts"),
                 F.min("host").alias("first_host")))

def _lpa_communities_sql() -> str:
    inner = graph.sql_lpa_labels(_host_edges_cte(), rounds=2)
    return f"""
        SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_hosts,
               min(host) AS first_host
        FROM ({inner}) GROUP BY 1"""

def q_consistent_shards(spark, sf):
    # consistent-hashing ring assignment — the shard router that keeps
    # rebalance bounded to 1/V of keys when a vnode joins/leaves. The
    # V=64 vnode ring positions are hash60("vnode:v") computed at PLAN
    # TIME in python (phash.py_hash60 is bit-identical to both engines'
    # column md5), so assignment is a pure projection: successor = the
    # (count of ring positions < h)-th entry of the sorted-position
    # constant array, wrapping past the top — no join, no broadcast;
    # the only exchange is the 64-group balance rollup. Oracle: the
    # INDEPENDENT plan — range()-minted ring, cross join, FILTERed min
    # successor, wrap via global min.
    from geobuf_spark.functions import phash
    ring = sorted((phash.py_hash60(f"vnode:{v}"), v)
                  for v in range(N_VNODES))
    pos_arr = F.array(*[F.lit(p).cast("bigint") for p, _ in ring])
    ids_arr = F.array(*[F.lit(v) for _, v in ring])
    d = _docs(spark, sf).select(
        "doc_id",
        phash.hash60(F.concat(F.lit("doc:"),
                              F.col("doc_id").cast("string"))).alias("h"))
    cnt = F.size(F.filter(pos_arr, lambda p: p < F.col("h")))
    vnode = F.element_at(ids_arr, F.pmod(cnt, F.lit(N_VNODES)) + F.lit(1))
    return (d.withColumn("vnode", vnode)
            .groupBy("vnode")
            .agg(F.count("*").alias("n_docs"),
                 F.min("h").alias("min_h"), F.max("h").alias("max_h"))
            .select(F.col("vnode").cast("int").alias("vnode"),
                    F.col("n_docs").cast("bigint").alias("n_docs"),
                    "min_h", "max_h"))

def _consistent_shards_sql() -> str:
    from geobuf_spark.functions import phash
    vh = phash.sql_hash60("'vnode:' || CAST(v AS VARCHAR)")
    dh = phash.sql_hash60("'doc:' || CAST(doc_id AS VARCHAR)")
    return f"""
        WITH ring AS (SELECT CAST(v AS INT) AS vnode,
                             {vh} AS pos
                      FROM (SELECT CAST(range AS BIGINT) AS v
                            FROM range(0, {N_VNODES}))),
        docs AS (SELECT doc_id, {dh} AS h FROM documents),
        succ AS (SELECT d.doc_id, d.h,
                        coalesce(min(r.pos) FILTER (WHERE r.pos >= d.h),
                                 min(r.pos)) AS tpos
                 FROM docs d CROSS JOIN ring r
                 GROUP BY 1, 2)
        SELECT r.vnode, CAST(count(*) AS BIGINT) AS n_docs,
               min(s.h) AS min_h, max(s.h) AS max_h
        FROM succ s JOIN ring r ON r.pos = s.tpos
        GROUP BY 1"""

def q_maximal_matching(spark, sf):
    # deterministic distributed maximal matching over the host link
    # graph (graph.maximal_matching): handshake rounds on the portable
    # edge-hash order, so the matching — and the 2-approx vertex cover
    # its endpoints form — is partitioning-invariant. The matched pairs
    # are the "merge these two mirrors first" worklist. Oracle: the
    # same rounds as MATERIALIZED CTEs; the pytest independently checks
    # validity (no shared vertex) and maximality (no live edge left).
    return graph.maximal_matching(_host_edges(spark), rounds=12,
                                  src="src_host", dst="dst_host")

def _maximal_matching_sql() -> str:
    return graph.sql_maximal_matching(_host_edges_cte(), rounds=12)

def q_diameter_sweep(spark, sf):
    # graph-diameter lower bound by the classic double BFS sweep: full
    # BFS from the lexicographically smallest host → farthest node w
    # (ties → min host); full BFS from w → its eccentricity, which
    # lower-bounds the diameter (and is exact on trees). Each BFS runs
    # the bfs_hops frontier loop to exhaustion under a DIAM_CAP budget.
    # Output one row: the two sweep endpoints and both eccentricities.
    ed = _host_edges(spark)
    seed0 = graph.nodes(ed, "src_host", "dst_host").orderBy("host").limit(1)
    b1 = graph.bfs_hops(ed, seed0, max_hops=DIAM_CAP, src="src_host",
                        dst="dst_host")
    far1 = (b1.orderBy(F.col("hop").desc(), F.col("host").asc())
            .limit(1).collect()[0])
    b2 = graph.bfs_hops(ed, spark.createDataFrame(
        [(far1["host"],)], ["host"]), max_hops=DIAM_CAP, src="src_host",
        dst="dst_host")
    far2 = (b2.orderBy(F.col("hop").desc(), F.col("host").asc())
            .limit(1).collect()[0])
    start = seed0.collect()[0]["host"]
    return spark.createDataFrame(
        [(start, far1["host"], int(far1["hop"]), far2["host"],
          int(far2["hop"]))],
        "start string, far1 string, ecc1 int, far2 string, "
        "diameter_lb int")

def _diameter_sweep_sql() -> str:
    # one WITH: the edges are defined once and both sweeps (named a and
    # b) run against them; the second seeds at sweep 1's argmax hop
    w = With(_host_edges_cte()).extend(graph.sql_undirected())
    for name, seed, out in (
            ("a", "(SELECT min(n) FROM nodes)", "s1"),
            ("b", "(SELECT host FROM s1 ORDER BY hop DESC, host LIMIT 1)",
             "s2")):
        (w.add(f"{name}0",
               f"(SELECT n AS host, 0 AS hop FROM nodes WHERE n = {seed})")
         .extend(sql_rounds(DIAM_CAP, graph.sql_bfs_round(name)))
         .add(out, f"(SELECT host, CAST(hop AS INT) AS hop FROM {name}{DIAM_CAP})"))
    return (w.add("f1", "(SELECT host, hop FROM s1 ORDER BY hop DESC, host LIMIT 1)")
            .add("f2", "(SELECT host, hop FROM s2 ORDER BY hop DESC, host LIMIT 1)")
            .add("st", "(SELECT min(host) AS start FROM s1 WHERE hop = 0)")
            .select("""SELECT st.start, f1.host AS far1, CAST(f1.hop AS INT) AS ecc1,
               f2.host AS far2, CAST(f2.hop AS INT) AS diameter_lb
        FROM st, f1, f2"""))

def q_coreness(spark, sf):
    # full k-core decomposition of the host graph (kcore_hosts peels
    # only k=2): coreness per node via the h-index fixpoint
    # (graph.coreness — c(v) ← h-index of neighbors' values, converges
    # to the exact coreness, convergence-or-raise). The crawl scheduler
    # reads it as "how deep in the mutually-dense web is this host".
    # Oracle: the SAME rounds fixed-length MATERIALIZED; the pytest's
    # sequential peeling is the independent algorithm.
    c = graph.coreness(_host_edges(spark), max_rounds=20, src="src_host",
                       dst="dst_host")
    return (c.groupBy("coreness")
            .agg(F.count("*").alias("n_hosts"),
                 F.min("host").alias("first_host")))

def _coreness_sql() -> str:
    inner = graph.sql_coreness(_host_edges_cte(), rounds=20)
    return f"""
        SELECT coreness, CAST(count(*) AS BIGINT) AS n_hosts,
               min(host) AS first_host
        FROM ({inner}) GROUP BY 1"""

def q_ktruss_edges(spark, sf):
    # 3-truss of the host link graph: every surviving edge sits in ≥1
    # triangle WITHIN the surviving subgraph — the cohesion peel that
    # kills star-spam which survives k-core (a k-truss is a (k−1)-core
    # but not conversely; kcore_hosts/coreness grade nodes, this grades
    # edges). graph.ktruss is the compact-forward support + peeling
    # fixpoint, convergence-or-raise; the oracle runs the SAME rounds
    # fixed-length MATERIALIZED; the pytest's sequential peeling is the
    # independent algorithm.
    t = graph.ktruss(_host_edges(spark), k=KTRUSS_K, max_rounds=KTRUSS_ROUNDS,
                     src="src_host", dst="dst_host")
    return t.select(F.col("u").alias("host_a"),
                    F.col("v").alias("host_b"), "support")

def _ktruss_edges_sql() -> str:
    inner = graph.sql_ktruss(_host_edges_cte(), k=KTRUSS_K,
                             rounds=KTRUSS_ROUNDS)
    return f"""
        SELECT u AS host_a, v AS host_b, support FROM ({inner})"""

def q_dbscan_clusters(spark, sf):
    # FULL deterministic DBSCAN (dbscan_core stops at the core flags):
    # cluster id = min core doc_id reachable through core-core eps-edges
    # (min-label + pointer-jump components — dedup.near_dup_components);
    # border points (non-core with a core eps-neighbour) take the MIN
    # neighbouring cluster id — classic DBSCAN leaves border assignment
    # scan-order-dependent, this spec pins the deterministic min so a
    # SQL oracle can replay it; everything else is noise (cluster −1).
    # Never all-pairs: candidates come from the 3×3 cell join, labels
    # from O(log diameter) rounds.
    from geobuf_spark.operators import dedup
    p = minted.minted_cluster_points_q(spark, sf)
    pr = _dbscan_nbr_pairs_spark(spark, sf).localCheckpoint(eager=False)
    core = (pr.groupBy("a_id").agg(F.count("*").alias("n"))
            .filter(F.col("n") >= DBSCAN_MIN_NBRS)
            .select(F.col("a_id").alias("doc_id"))
            .localCheckpoint(eager=False))
    ce = (pr.join(core.withColumnRenamed("doc_id", "a_id"), "a_id")
          .join(core.withColumnRenamed("doc_id", "b_id"), "b_id")
          .filter(F.col("a_id") < F.col("b_id"))
          .select(F.col("a_id").alias("a"), F.col("b_id").alias("b")))
    cc = dedup.near_dup_components(ce)  # (doc_id, rep_id)
    corelab = (core.join(cc, "doc_id", "left")
               .select("doc_id",
                       F.coalesce("rep_id", "doc_id").alias("cluster"))
               .localCheckpoint(eager=False))
    border = (pr.join(corelab.withColumnRenamed("doc_id", "b_id")
                      .withColumnRenamed("cluster", "bcl"), "b_id")
              .join(corelab.select(F.col("doc_id").alias("a_id"))
                    .withColumn("is_core", F.lit(1)), "a_id", "left_anti")
              .groupBy("a_id").agg(F.min("bcl").alias("cluster"))
              .select(F.col("a_id").alias("doc_id"), "cluster"))
    labeled = (corelab.withColumn("role", F.lit("core"))
               .unionByName(border.withColumn("role", F.lit("border"))))
    return (p.select("doc_id").join(labeled, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("cluster", F.lit(-1)).cast("bigint")
                    .alias("cluster"),
                    F.coalesce("role", F.lit("noise")).alias("role")))

def _dbscan_clusters_sql() -> str:
    return f"""
        WITH RECURSIVE {_dbscan_pairs_sql()},
        core AS (SELECT a_id AS doc_id FROM pr GROUP BY 1
                 HAVING count(*) >= {DBSCAN_MIN_NBRS}),
        ce AS (SELECT pr.a_id AS u, pr.b_id AS v FROM pr
               JOIN core c1 ON c1.doc_id = pr.a_id
               JOIN core c2 ON c2.doc_id = pr.b_id),
        walk(u, label) AS (
            SELECT u, u AS label FROM (SELECT DISTINCT u FROM ce)
            UNION
            SELECT e.u, w.label FROM ce e JOIN walk w ON e.v = w.u),
        rep AS (SELECT u, min(label) AS rep FROM walk GROUP BY u),
        corelab AS (SELECT c.doc_id,
                           coalesce(r.rep, c.doc_id) AS cluster
                    FROM core c LEFT JOIN rep r ON r.u = c.doc_id),
        border AS (SELECT pr.a_id AS doc_id, min(cl.cluster) AS cluster
                   FROM pr JOIN corelab cl ON cl.doc_id = pr.b_id
                   WHERE pr.a_id NOT IN (SELECT doc_id FROM corelab)
                   GROUP BY 1)
        SELECT p.doc_id,
               CAST(coalesce(cl.cluster, bo.cluster, -1) AS BIGINT)
                   AS cluster,
               CASE WHEN cl.doc_id IS NOT NULL THEN 'core'
                    WHEN bo.doc_id IS NOT NULL THEN 'border'
                    ELSE 'noise' END AS role
        FROM p LEFT JOIN corelab cl ON cl.doc_id = p.doc_id
               LEFT JOIN border bo ON bo.doc_id = p.doc_id"""

def q_power_iteration(spark, sf):
    # dominant eigenvector of the embedding covariance by quantized
    # integer power iteration — the PCA first component, computed so
    # both engines produce BIT-IDENTICAL vectors: the covariance
    # numerator (embed_covariance's exact integers) is downscaled by
    # 2^20 into a deterministic int64 matrix C', and each round is
    # w = C'·v followed by v ← w div (max|w| div SCALE) — integer-only
    # normalization (toward-zero div matches across engines), no floats
    # anywhere. PI_ROUNDS rounds from the all-ones vector; the pytest checks
    # the exact integer trajectory against numpy AND that the direction
    # converges to numpy's float dominant eigenvector of C'.
    e = _emb(spark, sf)
    q = e.select("vec_id", F.posexplode(
        F.transform("embedding",
                    lambda x: F.floor(x.cast("double") * EMB_COV_SCALE)
                    .cast("bigint"))).alias("i", "qi"))
    a = q.select("vec_id", "i", "qi")
    b = q.select("vec_id", F.col("i").alias("j"),
                 F.col("qi").alias("qj"))
    mom = (a.join(b, "vec_id").filter(F.col("i") <= F.col("j"))
           .groupBy("i", "j")
           .agg(F.count("*").alias("n"), F.sum("qi").alias("s_i"),
                F.sum("qj").alias("s_j"),
                F.sum(F.col("qi") * F.col("qj")).alias("s_ij")))
    upper = mom.select("i", "j", F.expr(
        f"(n * s_ij - s_i * s_j) div {PI_SHIFT}").alias("c"))
    C = (upper.unionByName(
            upper.filter(F.col("i") != F.col("j"))
            .select(F.col("j").alias("i"), F.col("i").alias("j"), "c"))
         .localCheckpoint(eager=False))
    v = C.select(F.col("i").alias("j")).distinct() \
         .withColumn("v", F.lit(PI_SCALE).cast("bigint"))

    def step(v, _):
        w = (C.join(v, "j")
             .groupBy("i").agg(F.sum(F.col("c") * F.col("v"))
                               .alias("w")))
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        return (w.crossJoin(F.broadcast(m))
                .select(F.col("i").alias("j"),
                        F.expr(f"w div (m div {PI_SCALE})").alias("v")))

    v = iterate(v, step, PI_ROUNDS)
    return v.select(F.col("j").cast("int").alias("dim"),
                    F.col("v").cast("bigint").alias("v"))

def _power_iteration_sql() -> str:
    def step(r):
        return {
            f"w{r}": f"""(SELECT c.i, CAST(sum(c.c * v.v) AS BIGINT) AS w
                 FROM pic c JOIN v{r - 1} v ON v.j = c.j GROUP BY 1)""",
            f"m{r}": f"(SELECT max(abs(w)) AS m FROM w{r})",
            f"v{r}": f"""MATERIALIZED (
            SELECT w.i AS j, CAST(w.w // (m.m // {PI_SCALE}) AS BIGINT)
                       AS v
            FROM w{r} w, m{r} m)"""}

    return (With(f"""q AS (SELECT vec_id, i - 1 AS i,
                          CAST(floor(CAST(e AS DOUBLE)
                                     * {EMB_COV_SCALE}) AS BIGINT)
                              AS qi
                   FROM (SELECT vec_id, unnest(embedding) AS e,
                                generate_subscripts(embedding, 1) AS i
                         FROM embeddings)),
        mom AS (SELECT a.i, b.i AS j, count(*) AS n,
                       sum(a.qi) AS s_i, sum(b.qi) AS s_j,
                       sum(a.qi * b.qi) AS s_ij
                FROM q a JOIN q b ON a.vec_id = b.vec_id
                    AND a.i <= b.i
                GROUP BY 1, 2),
        upperc AS (SELECT i, j,
                          CAST((n * s_ij - s_i * s_j) // {PI_SHIFT}
                               AS BIGINT) AS c
                   FROM mom),
        pic AS MATERIALIZED (
            SELECT i, j, c FROM upperc
            UNION ALL
            SELECT j AS i, i AS j, c FROM upperc WHERE i <> j),
        v0 AS (SELECT DISTINCT j, CAST({PI_SCALE} AS BIGINT) AS v
               FROM pic)""")
            .extend(sql_rounds(PI_ROUNDS, step))
            .select(f"SELECT CAST(j AS INT) AS dim, v FROM v{PI_ROUNDS}"))

def q_bipartite_check(spark, sf):
    # per-component bipartiteness audit of the host graph — the odd-
    # cycle detector (a bipartite link structure is the mirror/feed
    # signature; odd cycles mean organic cross-linking). ONE fused
    # min-label loop computes components AND BFS levels: each node
    # starts as its own label; synchronous min-propagation spreads the
    # component minimum (the representative) outward exactly one hop
    # per round, so the round of a node's LAST label improvement is its
    # BFS distance from the rep. Level parity two-colors the component;
    # an edge joining EQUAL levels witnesses an odd cycle. Converge-or-
    # raise within BIP_CAP; the oracle runs the same rounds fixed-
    # length (past the fixpoint they are no-ops). O(E) per round, no
    # transitive closure anywhere.
    und = graph.undirected(_host_edges(spark), "src_host", "dst_host")
    adj = graph.adjacency(und)

    def step(st, r):
        cand = (adj.join(st.select(F.col("n").alias("nb"),
                                   F.col("lab").alias("nlab")), "nb")
                .groupBy("n").agg(F.min("nlab").alias("cand")))
        return (st.join(cand, "n")
                .select("n", F.least("lab", "cand").alias("lab"),
                        F.when(F.col("cand") < F.col("lab"), F.lit(r))
                        .otherwise(F.col("hop")).alias("hop"),
                        (F.col("cand") < F.col("lab")).alias("changed")))

    st = graph.nodes(und, "u", "v").select(
        F.col("host").alias("n"), F.col("host").alias("lab"),
        F.lit(0).alias("hop"))
    st = iterate(st, step, BIP_CAP,
                 until=lambda new, old: new.filter("changed"),
                 what="bipartite_check")
    ec = (und.join(st.select(F.col("n").alias("u"),
                             F.col("lab").alias("rep"),
                             F.col("hop").alias("hu")), "u")
          .join(st.select(F.col("n").alias("v"),
                          F.col("hop").alias("hv")), "v"))
    per = (ec.groupBy("rep")
           .agg(F.count("*").alias("n_edges"),
                F.sum((F.col("hu") == F.col("hv")).cast("long"))
                .alias("n_conflicts")))
    nn = st.groupBy("lab").agg(F.count("*").alias("n_nodes"))
    return (per.join(nn.withColumnRenamed("lab", "rep"), "rep")
            .select(F.col("rep").alias("rep_host"),
                    F.col("n_nodes").cast("bigint"),
                    F.col("n_edges").cast("bigint"),
                    F.col("n_conflicts").cast("bigint"),
                    (F.col("n_conflicts") == 0).alias("is_bipartite")))

def _bipartite_check_sql() -> str:
    def step(r):
        p = r - 1
        return {
            f"c{r}": f"""(SELECT a.n, min(s.lab) AS cand
                 FROM adj a JOIN s{p} s ON s.n = a.nb GROUP BY 1)""",
            f"s{r}": f"""MATERIALIZED (
            SELECT s.n, least(s.lab, c.cand) AS lab,
                   CASE WHEN c.cand < s.lab THEN {r} ELSE s.hop END
                       AS hop
            FROM s{p} s JOIN c{r} c ON c.n = s.n)"""}

    return (With(_host_edges_cte()).extend(graph.sql_undirected())
            .add("s0", "MATERIALIZED (SELECT n, n AS lab, 0 AS hop FROM nodes)")
            .extend(sql_rounds(BIP_CAP, step))
            .add("lv", f"(SELECT n, lab, hop FROM s{BIP_CAP})")
            .add("ec", """(SELECT lu.lab AS rep, lu.hop AS hu, lw.hop AS hv
               FROM und JOIN lv lu ON lu.n = und.u
                        JOIN lv lw ON lw.n = und.v)""")
            .add("per", """(SELECT rep, count(*) AS n_edges,
                       sum(CASE WHEN hu = hv THEN 1 ELSE 0 END)
                           AS n_conflicts
                FROM ec GROUP BY 1)""")
            .add("nn", """(SELECT lab AS rep, count(*) AS n_nodes FROM lv
               GROUP BY 1)""")
            .select("""SELECT per.rep AS rep_host,
               CAST(n_nodes AS BIGINT) AS n_nodes,
               CAST(n_edges AS BIGINT) AS n_edges,
               CAST(n_conflicts AS BIGINT) AS n_conflicts,
               n_conflicts = 0 AS is_bipartite
        FROM per JOIN nn USING (rep)"""))

def q_stable_matching(spark, sf):
    # proposer-optimal stable matching by SIMULTANEOUS-proposal
    # Gale–Shapley (all free proposers propose each round, acceptors
    # hold their best; converges to the same unique proposer-optimal
    # matching as the sequential algorithm): the assignment-with-
    # preferences shape (crawl slots, shard leases, reviewer routing).
    # Preferences are deterministic md5 orders — proposer u ranks slots
    # by hash60('sm-p',u,s), slot s compares proposers by
    # hash60('sm-a',s,u) directly (unique ⇒ tie-free). Pointers only
    # ever advance (each proposer walks his list once — the classic
    # O(U·S) total-work bound), converge-or-raise within SM_ROUNDS; the
    # oracle replays the same rounds fixed-length.
    from geobuf_spark.functions import phash
    from pyspark.sql import Window as Win
    users = (spark.read.parquet(f"{sf}/events.parquet")
             .select("user_id").distinct()
             .withColumn("urk", F.row_number().over(
                 Win.orderBy("user_id")))
             .filter(F.col("urk") <= SM_U).select(F.col("user_id")
                                                  .alias("u")))
    slots = spark.range(SM_S).select(F.col("id").alias("s"))
    cart = users.crossJoin(F.broadcast(slots))
    pref = (cart.select("u", "s",
                        phash.hash60_parts(F.lit("sm-p"), F.col("u"),
                                           F.col("s")).alias("ph"))
            .withColumn("rk", F.row_number().over(
                Win.partitionBy("u").orderBy("ph", "s")))
            .select("u", "s", "rk").localCheckpoint(eager=False))
    apref = (cart.select("s", "u",
                         phash.hash60_parts(F.lit("sm-a"), F.col("s"),
                                            F.col("u")).alias("ah"))
             .localCheckpoint(eager=False))
    prefj = pref.select(F.col("u").alias("pu"), F.col("s").alias("ps"),
                        F.col("rk").alias("prk"))
    aprefj = apref.select(F.col("s").alias("as2"), F.col("u").alias("au2"),
                          "ah")

    # one row per proposer: its list pointer and the slot holding it. A
    # free proposer (unheld, list not exhausted) proposes to its ptr-th
    # slot and advances; the fixpoint is a state without one.
    free = F.col("s").isNull() & (F.col("ptr") <= SM_S)

    def step(st, _):
        props = (st.filter(free).join(prefj, (F.col("u") == F.col("pu"))
                                      & (F.col("ptr") == F.col("prk")))
                 .select(F.col("ps").alias("s"), F.col("pu").alias("u")))
        cont = props.unionByName(st.filter(F.col("s").isNotNull())
                                 .select("s", "u"))
        held = (cont.join(aprefj, (cont["s"] == F.col("as2"))
                          & (cont["u"] == F.col("au2")))
                .groupBy("s").agg(F.expr("min_by(u, ah)").alias("u")))
        return (st.select("u", (F.col("ptr") + free.cast("int")).alias("ptr"))
                .join(held.withColumnRenamed("s", "hs"), "u", "left")
                .select("u", "ptr", F.col("hs").alias("s")))

    st = users.select("u", F.lit(1).alias("ptr"),
                      F.lit(None).cast("long").alias("s"))
    st = iterate(st, step, SM_ROUNDS,
                 until=lambda new, old: old.filter(free),
                 what="stable_matching")
    held = st.filter(F.col("s").isNotNull()).select("s", "u")
    preff = pref.select(F.col("u").alias("fu"),
                        F.col("s").alias("fs"),
                        F.col("rk").alias("frk"))
    return (held.join(preff, (held["u"] == F.col("fu"))
                      & (held["s"] == F.col("fs")))
            .select(F.col("fs").cast("bigint").alias("slot"),
                    F.col("fu").cast("bigint").alias("user"),
                    F.col("frk").cast("int").alias("proposer_rank")))

def _stable_matching_sql() -> str:
    from geobuf_spark.functions import phash
    ph = phash.sql_hash60_parts("'sm-p'", "u", "s")
    ah = phash.sql_hash60_parts("'sm-a'", "s", "u")
    def step(r):
        p = r - 1
        return {
            f"fr{r}": f"""(SELECT p.u, p.ptr FROM p{p} p
                  WHERE p.ptr <= {SM_S}
                    AND p.u NOT IN (SELECT u FROM h{p}))""",
            f"pr{r}": f"""(SELECT pr.s, pr.u FROM fr{r} f
                  JOIN pref pr ON pr.u = f.u AND pr.rk = f.ptr)""",
            f"h{r}": f"""MATERIALIZED (
            SELECT c.s, arg_min(c.u, a.ah) AS u
            FROM (SELECT s, u FROM pr{r}
                  UNION ALL SELECT s, u FROM h{p}) c
            JOIN apref a ON a.s = c.s AND a.u = c.u
            GROUP BY c.s)""",
            f"p{r}": f"""MATERIALIZED (
            SELECT p.u, p.ptr + CASE WHEN p.u IN (SELECT u FROM pr{r})
                                     THEN 1 ELSE 0 END AS ptr
            FROM p{p} p)"""}

    return (With(f"""su AS (SELECT u FROM (
                SELECT user_id AS u, row_number() OVER
                    (ORDER BY user_id) AS urk
                FROM (SELECT DISTINCT user_id FROM events))
            WHERE urk <= {SM_U}),
        sl AS (SELECT unnest(range(0, {SM_S})) AS s),
        cart AS (SELECT u, s FROM su, sl),
        pref AS MATERIALIZED (
            SELECT u, s, row_number() OVER (PARTITION BY u
                ORDER BY {ph}, s) AS rk
            FROM cart),
        apref AS MATERIALIZED (
            SELECT s, u, {ah} AS ah FROM cart),
        p0 AS (SELECT u, 1 AS ptr FROM su),
        h0 AS (SELECT CAST(NULL AS BIGINT) AS s,
                      CAST(NULL AS BIGINT) AS u WHERE false)""")
            .extend(sql_rounds(SM_ROUNDS, step))
            .select(f"""SELECT CAST(h.s AS BIGINT) AS slot, CAST(h.u AS BIGINT)
                   AS "user",
               CAST(pr.rk AS INT) AS proposer_rank
        FROM h{SM_ROUNDS} h JOIN pref pr ON pr.u = h.u AND pr.s = h.s"""))

def q_markov_predict_eval(spark, sf):
    # does the event-transition matrix actually predict? Train on even
    # user_ids (transition counts prev→next), predict the argmax next
    # type (tie → lexicographic min), evaluate on odd users'
    # transitions — the honest train/eval split version of
    # markov_stationary's matrix. Per prev type: eval count, hits,
    # accuracy ppm, and the predicted label. Window lag per user, two
    # aggregations, exact integers end to end.
    from pyspark.sql import Window as Win
    e = spark.read.parquet(f"{sf}/events.parquet").select(
        "user_id", "ts", "event_id", "event_type")
    wu = Win.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (e.withColumn("nxt", F.lead("event_type").over(wu))
          .filter(F.col("nxt").isNotNull())
          .select("user_id", F.col("event_type").alias("prev"), "nxt"))
    train = (tr.filter(F.col("user_id") % 2 == 0)
             .groupBy("prev", "nxt").agg(F.count("*").alias("c")))
    wp = Win.partitionBy("prev").orderBy(F.col("c").desc(),
                                         F.col("nxt").asc())
    pred = (train.withColumn("rk", F.row_number().over(wp))
            .filter(F.col("rk") == 1)
            .select("prev", F.col("nxt").alias("predicted")))
    ev = (tr.filter(F.col("user_id") % 2 == 1)
          .join(pred, "prev")
          .groupBy("prev", "predicted")
          .agg(F.count("*").alias("n_eval"),
               F.sum((F.col("nxt") == F.col("predicted")).cast("long"))
               .alias("n_hits")))
    return ev.select("prev", "predicted",
                     F.col("n_eval").cast("bigint"),
                     F.col("n_hits").cast("bigint"),
                     F.expr("1000000 * n_hits div n_eval")
                     .cast("bigint").alias("acc_ppm"))

def _markov_predict_eval_sql() -> str:
    return """
        WITH e AS (SELECT user_id, event_type, ts, event_id
                   FROM events),
        tr AS (SELECT user_id, event_type AS prev,
                      lead(event_type) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS nxt
               FROM e),
        t2 AS (SELECT * FROM tr WHERE nxt IS NOT NULL),
        train AS (SELECT prev, nxt, count(*) AS c FROM t2
                  WHERE user_id % 2 = 0 GROUP BY 1, 2),
        pred AS (SELECT prev, nxt AS predicted FROM (
                     SELECT prev, nxt, row_number() OVER (
                         PARTITION BY prev ORDER BY c DESC, nxt ASC)
                         AS rk
                     FROM train) WHERE rk = 1),
        ev AS (SELECT t2.prev, predicted, count(*) AS n_eval,
                      sum(CASE WHEN nxt = predicted THEN 1 ELSE 0 END)
                          AS n_hits
               FROM t2 JOIN pred ON pred.prev = t2.prev
               WHERE user_id % 2 = 1
               GROUP BY 1, 2)
        SELECT prev, predicted, CAST(n_eval AS BIGINT) AS n_eval,
               CAST(n_hits AS BIGINT) AS n_hits,
               CAST(1000000 * n_hits // n_eval AS BIGINT) AS acc_ppm
        FROM ev"""

# ---------------------------------------------------------------------------
# batch 95 — Euclidean MST per cluster (full Borůvka), join-size audit
# ---------------------------------------------------------------------------

def q_emst_clusters(spark, sf):
    # exact Euclidean minimum spanning tree per cluster. Clusters are
    # BOUNDED groups (the convex-hull argument), so the right 100 TB
    # shape is one shuffle on the cluster id + an in-task algorithm via
    # applyInPandas — distributed Borůvka rounds are for graphs that
    # don't partition (boruvka_round1 demonstrates that tier; a first
    # cut of THIS query ran CC-per-round distributed and cost minutes
    # on 500 points — wrong altitude). Edge order is the strict total
    # order (d², a, b): all "weights" distinct ⇒ the MST is unique ⇒
    # the in-task BORŮVKA here, the oracle's recursive PRIM, and the
    # pytest's KRUSKAL must agree exactly — three algorithms, one tree.
    p = (minted.minted_cluster_points_q(spark, sf)
         .withColumn("gid", F.col("doc_id") % minted.N_CLUSTERS))
    schema = "gid long, n_pts long, mst_edges long, total_d2 long"

    def boruvka(pdf):
        import pandas as pd
        gid = int(pdf["gid"].iloc[0])
        pts = sorted((int(i), int(x), int(y)) for i, x, y in
                     zip(pdf["doc_id"], pdf["qx"], pdf["qy"]))
        n = len(pts)
        if n < 2:
            return pd.DataFrame([{"gid": gid, "n_pts": n,
                                  "mst_edges": 0, "total_d2": 0}])
        edges = []
        for i in range(n):
            for j in range(i + 1, n):
                (a, ax, ay), (b, bx, by) = pts[i], pts[j]
                edges.append(((ax - bx) ** 2 + (ay - by) ** 2, a, b))
        lab = {i: i for (i, _, _) in pts}

        def find(x):
            while lab[x] != x:
                lab[x] = lab[lab[x]]
                x = lab[x]
            return x

        total, cnt = 0, 0
        while cnt < n - 1:
            best = {}
            for w, a, b in edges:
                ra, rb = find(a), find(b)
                if ra == rb:
                    continue
                for r in (ra, rb):
                    if r not in best or (w, a, b) < best[r]:
                        best[r] = (w, a, b)
            if not best:
                raise ValueError("emst: disconnected cluster")
            for w, a, b in set(best.values()):
                ra, rb = find(a), find(b)
                if ra != rb:
                    lab[max(ra, rb)] = min(ra, rb)
                    total += w
                    cnt += 1
        return pd.DataFrame([{"gid": gid, "n_pts": n,
                              "mst_edges": cnt, "total_d2": total}])

    return p.groupBy("gid").applyInPandas(boruvka, schema)

def _emst_clusters_sql() -> str:
    return f"""
        WITH RECURSIVE ep AS (
            SELECT doc_id % {minted.N_CLUSTERS} AS gid, doc_id, qx, qy
            FROM ({minted.sql_minted_cluster_points_q()})),
        pr AS (SELECT x.gid, x.doc_id AS a, y.doc_id AS b,
                      (x.qx - y.qx) * (x.qx - y.qx)
                      + (x.qy - y.qy) * (x.qy - y.qy) AS d2
               FROM ep x JOIN ep y ON x.gid = y.gid
                   AND x.doc_id < y.doc_id),
        prd AS (SELECT gid, a, b, d2 FROM pr
                UNION ALL SELECT gid, b, a, d2 FROM pr),
        np AS (SELECT gid, count(*) AS n FROM ep GROUP BY 1),
        st AS (
            SELECT gid, [min(doc_id)] AS visited,
                   CAST(0 AS BIGINT) AS total, 0 AS cnt
            FROM ep GROUP BY gid
            UNION ALL
            SELECT s.gid, list_append(s.visited, pk.y),
                   s.total + pk.d2, s.cnt + 1
            FROM st s JOIN np ON np.gid = s.gid,
            LATERAL (SELECT p.b AS y, p.d2 FROM prd p
                     WHERE p.gid = s.gid
                       AND list_contains(s.visited, p.a)
                       AND NOT list_contains(s.visited, p.b)
                     ORDER BY p.d2, p.a, p.b LIMIT 1) pk
            WHERE s.cnt < np.n - 1)
        SELECT CAST(st.gid AS BIGINT) AS gid,
               CAST(np.n AS BIGINT) AS n_pts,
               CAST(cnt AS BIGINT) AS mst_edges,
               CAST(total AS BIGINT) AS total_d2
        FROM st JOIN np ON np.gid = st.gid WHERE st.cnt = np.n - 1"""

def q_mis_luby(spark, sf):
    # maximal independent set on the host graph by Luby's algorithm —
    # THE distributed symmetry-breaking primitive (scheduling
    # non-interfering hosts, picking cluster exemplars): each round a
    # live node joins the MIS iff its (hash, node) key is strictly
    # smallest in its live neighborhood — the per-round hash
    # hash60('mis', n, r) replaces Luby's fresh coins deterministically
    # — then winners and their neighbors leave. O(log n) expected
    # rounds, converge-or-raise; the oracle replays the same fixed
    # rounds. Output is the MIS with the round each node joined.
    from geobuf_spark.functions import phash
    und = graph.undirected(_host_edges(spark), "src_host", "dst_host")
    adj = graph.adjacency(und)

    # one row per node: round null while live, else the round it joined
    # the MIS; a round's winners and their neighbours leave the live set
    def step(st, r):
        keyed = st.filter(F.col("round").isNull()).select(
            "n", phash.hash60_parts(F.lit("mis"), F.col("n"), F.lit(r))
            .alias("h"))
        nbk = (adj.join(keyed.select(F.col("n").alias("nb"),
                                     F.col("h").alias("nbh")), "nb")
               .groupBy("n")
               .agg(F.min(F.struct("nbh", "nb")).alias("mn")))
        winners = (keyed.join(nbk, "n", "left")
                   .filter(F.col("mn").isNull()
                           | (F.struct(F.col("h"), F.col("n"))
                              < F.col("mn")))
                   .select("n"))
        gone = winners.unionByName(
            adj.join(winners, "n").select(F.col("nb").alias("n")))
        # settled rows pass the anti-join untouched, so the state keeps
        # its shuffle's partition count round after round
        kept = st.join(gone.select(F.col("n").alias("g")),
                       F.col("round").isNull() & (F.col("n") == F.col("g")),
                       "left_anti")
        return kept.unionByName(winners.withColumn("round", F.lit(r)))

    st = graph.nodes(und, "u", "v").select(
        F.col("host").alias("n"), F.lit(None).cast("int").alias("round"))
    st = iterate(st, step, MIS_ROUNDS,
                 until=lambda new, old: new.filter(F.col("round").isNull()),
                 what="mis_luby")
    return st.select(F.col("n").alias("host"), F.col("round").cast("int"))

def _mis_luby_sql() -> str:
    from geobuf_spark.functions import phash

    def step(r):
        p = r - 1
        h = phash.sql_hash60_parts("'mis'", "n", str(r))
        return {
            f"k{r}": f"(SELECT n, {h} AS h FROM l{p})",
            f"nk{r}": f"""(SELECT a.n, min(struct_pack(h := k.h, nb := a.nb))
                      AS mn
                  FROM adj a JOIN k{r} k ON k.n = a.nb
                  GROUP BY a.n)""",
            f"w{r}": f"""MATERIALIZED (
            SELECT k.n FROM k{r} k LEFT JOIN nk{r} x ON x.n = k.n
            WHERE x.mn IS NULL
               OR struct_pack(h := k.h, nb := k.n) < x.mn)""",
            f"m{r}": f"(SELECT n AS host, {r} AS rnd FROM w{r})",
            f"l{r}": f"""MATERIALIZED (
            SELECT n FROM l{p}
            WHERE n NOT IN (SELECT n FROM w{r})
              AND n NOT IN (SELECT a.nb FROM adj a
                            JOIN w{r} w ON w.n = a.n))"""}

    allm = " UNION ALL ".join(f"SELECT host, rnd FROM m{r}"
                              for r in range(1, MIS_ROUNDS + 1))
    return (With(_host_edges_cte()).extend(graph.sql_undirected())
            .add("l0", "(SELECT n FROM nodes)")
            .extend(sql_rounds(MIS_ROUNDS, step))
            .select(f"SELECT host, CAST(rnd AS INT) AS round FROM ({allm})"))

# ---------------------------------------------------------------------------
# batch 99 — personalized PageRank, source histogram overlap
# ---------------------------------------------------------------------------


def q_ppr_hosts(spark, sf):
    # personalized (seed-teleport) PageRank — seed-relative authority,
    # the TrustRank/topic-rank variant: the (1−d) teleport mass lands
    # only on the site*00.example seed hosts (the bfs_hops3 seed set),
    # so rank measures reachability-weighted proximity to the trusted
    # core instead of global importance. Same integer fixed-point
    # iteration as pagerank_hosts (bit-reproducible, one shuffle per
    # iteration; graph.ppr_int).
    ed = _host_edges(spark).select(F.col("src_host").alias("src"),
                                   F.col("dst_host").alias("dst"))
    seeds = graph.nodes(ed).filter(F.col("host").endswith("00.example"))
    return graph.ppr_int(ed, seeds, iters=3)

def _ppr_hosts_sql() -> str:
    return graph.sql_ppr_int(_HOST_EDGES_SQL, "host LIKE '%00.example'",
                             iters=3)

def q_dag_layers(spark, sf):
    # longest-path layering of the host DAG — the critical-path /
    # topological-depth operator (build schedulers and lineage engines
    # read it as "earliest stage this node can run in"): edges oriented
    # lexicographically src<dst (acyclic BY CONSTRUCTION — every cycle
    # needs a descent), layer(v) = 1 + max over predecessors, settled
    # by synchronous relaxation in depth rounds, converge-or-raise; the
    # oracle replays the same rounds fixed-length. Output also rolls up
    # the layer histogram invariantly checked by the brute.
    dag = graph.undirected(_host_edges(spark), "src_host", "dst_host")

    def step(lay, _):
        cand = (dag.join(lay.withColumnRenamed("host", "u")
                         .withColumnRenamed("layer", "ul"), "u")
                .groupBy(F.col("v").alias("host"))
                .agg((F.max("ul") + 1).alias("cl")))
        return (lay.join(cand, "host", "left")
                .select("host", F.greatest(
                    "layer", F.coalesce("cl", F.lit(0))).alias("layer"),
                        (F.col("cl") > F.col("layer")).alias("changed")))

    lay = iterate(graph.nodes(dag, "u", "v").select(
                      "host", F.lit(0).alias("layer")), step, DAG_ROUNDS,
                  until=lambda new, old: new.filter("changed"),
                  what="dag_layers")
    return (lay.groupBy("layer")
            .agg(F.count("*").alias("n_hosts"),
                 F.min("host").alias("first_host"))
            .select(F.col("layer").cast("int"),
                    F.col("n_hosts").cast("bigint"), "first_host"))

def _dag_layers_sql() -> str:
    def step(r):
        p = r - 1
        return {
            f"dc{r}": f"""(SELECT d.v AS host, max(l.layer) + 1 AS cl
                  FROM und d JOIN dl{p} l ON l.host = d.u
                  GROUP BY 1)""",
            f"dl{r}": f"""MATERIALIZED (
            SELECT l.host, greatest(l.layer, coalesce(c.cl, 0))
                       AS layer
            FROM dl{p} l LEFT JOIN dc{r} c ON c.host = l.host)"""}

    return (With(_host_edges_cte()).extend(graph.sql_undirected())
            .add("dl0", "(SELECT n AS host, 0 AS layer FROM nodes)")
            .extend(sql_rounds(DAG_ROUNDS, step))
            .select(f"""SELECT CAST(layer AS INT) AS layer,
               CAST(count(*) AS BIGINT) AS n_hosts,
               min(host) AS first_host
        FROM dl{DAG_ROUNDS} GROUP BY 1"""))

def q_influence_spread(spark, sf):
    # deterministic linear-threshold cascade from the trusted seed set
    # (the influence-maximization evaluation primitive): node n has
    # threshold θ(n) = hash60('th', n) mod 1e6; it activates when the
    # ACTIVE fraction of its neighborhood reaches θ — integer test
    # active_nbrs·1e6 ≥ θ·deg, no division. Activation is monotone, so
    # synchronous rounds converge (converge-or-raise; fixed-round
    # oracle). Output: every activated host with its activation round —
    # the cascade horizon audit.
    from geobuf_spark.functions import phash
    und = graph.undirected(_host_edges(spark), "src_host", "dst_host")
    adj = graph.adjacency(und)
    deg = adj.groupBy("n").agg(F.count("*").alias("deg"))
    thr = (deg.select("n", "deg",
                      (F.pmod(phash.hash60_parts(F.lit("th"),
                                                 F.col("n")),
                              F.lit(1_000_000))).alias("theta"))
           .localCheckpoint(eager=False))

    # a node keeps the first round it reached its threshold; the one
    # groupBy also keeps the state at its shuffle's partition count
    def step(active, r):
        acts = (adj.join(active.select(F.col("n").alias("nb")), "nb")
                .groupBy("n").agg(F.count("*").alias("na")))
        reached = (acts.join(thr, "n")
                   .filter(F.col("na") * 1_000_000
                           >= F.col("theta") * F.col("deg"))
                   .select("n", F.lit(r).alias("round")))
        return (active.select("n", "round").unionByName(reached)
                .groupBy("n").agg(F.min("round").alias("round"))
                .withColumn("fresh", F.col("round") == r))

    active = (graph.nodes(und, "u", "v")
              .filter(F.col("host").endswith("00.example"))
              .select(F.col("host").alias("n"), F.lit(0).alias("round")))
    active = iterate(active, step, INF_ROUNDS,
                     until=lambda new, old: new.filter("fresh"),
                     what="influence_spread")
    return active.select(F.col("n").alias("host"),
                         F.col("round").cast("int"))

def _influence_spread_sql() -> str:
    from geobuf_spark.functions import phash
    th = phash.sql_hash60_parts("'th'", "n")

    def step(r):
        p = r - 1
        return {
            f"ic{r}": f"""(SELECT a.n, count(*) AS na
                  FROM adj a JOIN ia{p} x ON x.n = a.nb
                  GROUP BY 1)""",
            f"ia{r}": f"""MATERIALIZED (
            SELECT n, rnd FROM ia{p}
            UNION ALL
            SELECT c.n, {r} AS rnd
            FROM ic{r} c JOIN ith t ON t.n = c.n
            WHERE c.na * 1000000 >= t.theta * t.deg
              AND c.n NOT IN (SELECT n FROM ia{p}))"""}

    return (With(_host_edges_cte()).extend(graph.sql_undirected())
            .add("ith", f"""(SELECT n, count(*) AS deg, {th} % 1000000 AS theta
                FROM adj GROUP BY n)""")
            .add("ia0", "(SELECT n, 0 AS rnd FROM nodes WHERE n LIKE '%00.example')")
            .extend(sql_rounds(INF_ROUNDS, step))
            .select(f"""SELECT n AS host, CAST(rnd AS INT) AS round
        FROM ia{INF_ROUNDS}"""))

def q_rich_club(spark, sf):
    # rich-club coefficient of the host graph: do high-degree hosts
    # link to EACH OTHER more densely than chance (the elite-core
    # signature of scale-free webs)? For each degree threshold k:
    # φ(k) = 2·E_k / (N_k·(N_k−1)) over the subgraph of nodes with
    # deg > k, in exact ppm. One plan: each node counts toward every
    # k < deg, each edge toward every k < min(deg u, deg v); the k list
    # is the left side, so a k without elites still yields its row.
    und = graph.undirected(_host_edges(spark), "src_host", "dst_host")
    deg = (graph.adjacency(und).groupBy("n")
           .agg(F.count("*").alias("deg")))
    ks = F.array(*[F.lit(k) for k in RC_KS])

    def per_k(df, bound, name):
        return (df.select(F.explode(F.filter(ks, lambda k: k < bound))
                          .alias("k"))
                .groupBy("k").agg(F.count("*").alias(name)))

    nk = per_k(deg, F.col("deg"), "n_nodes")
    ek = per_k(und.join(deg.select(F.col("n").alias("u"),
                                   F.col("deg").alias("du")), "u")
                  .join(deg.select(F.col("n").alias("v"),
                                   F.col("deg").alias("dv")), "v"),
               F.least("du", "dv"), "n_edges")
    return (spark.range(1).select(F.explode(ks).alias("k"))
            .join(nk, "k", "left").join(ek, "k", "left")
            .select(F.col("k").cast("int").alias("k"),
                    *(F.coalesce(c, F.lit(0)).cast("bigint").alias(c)
                      for c in ("n_nodes", "n_edges")))
            .withColumn("phi_ppm", F.expr(
                "CASE WHEN n_nodes >= 2 THEN 2000000 * n_edges"
                " div (n_nodes * (n_nodes - 1)) ELSE 0 END")))

def _rich_club_sql() -> str:
    return (With(_host_edges_cte()).extend(graph.sql_undirected())
            .add("rdeg", "(SELECT n, count(*) AS deg FROM adj GROUP BY 1)")
            .add("ks", f"(SELECT unnest({RC_KS}) AS k)")
            .add("nk", """(SELECT k, count(*) AS n_nodes
                FROM ks JOIN rdeg ON rdeg.deg > ks.k GROUP BY 1)""")
            .add("ek", """(SELECT k, count(*) AS n_edges
                FROM ks, und
                JOIN rdeg a ON a.n = und.u JOIN rdeg b ON b.n = und.v
                WHERE a.deg > ks.k AND b.deg > ks.k GROUP BY 1)""")
            .select("""SELECT CAST(ks.k AS INT) AS k,
               CAST(coalesce(n_nodes, 0) AS BIGINT) AS n_nodes,
               CAST(coalesce(n_edges, 0) AS BIGINT) AS n_edges,
               CAST(CASE WHEN coalesce(n_nodes, 0) >= 2
                    THEN 1000000 * 2 * coalesce(n_edges, 0)
                         // (n_nodes * (n_nodes - 1))
                    ELSE 0 END AS BIGINT) AS phi_ppm
        FROM ks LEFT JOIN nk USING (k) LEFT JOIN ek USING (k)"""))

def _pagerank_hosts_sql() -> str:
    """Oracle for q_pagerank_hosts: the SAME 3 integer fixed-point
    iterations chained as CTEs (operators/graph.sql_pagerank_int) — exact
    because every step is BIGINT arithmetic."""
    return f"""
        {graph.sql_pagerank_int(_HOST_EDGES_SQL, iters=3)}
        ORDER BY rank_ppm DESC, host
        LIMIT 25"""

def _hits_hosts_sql() -> str:
    """Oracle for q_hits_hosts: the SAME 2 integer max-normalized HITS
    iterations chained as CTEs (operators/graph.sql_hits_int)."""
    return f"""
        SELECT host, hub_ppm, auth_ppm FROM (
        {graph.sql_hits_int(_HOST_EDGES_SQL, iters=2)}
        ) t
        ORDER BY auth_ppm DESC, hub_ppm DESC, host
        LIMIT 25"""


def oracles() -> dict[str, str]:
    """DuckDB oracle twins for this module's queries."""
    out = {
        "hits_hosts": _hits_hosts_sql(),
        "triangle_hosts": _triangle_hosts_sql(),
        "link_reciprocity": _link_reciprocity_sql(),
        "pagerank_hosts": _pagerank_hosts_sql(),
        "clustering_coeff": _clustering_coeff_sql(),
        "link_prediction_ra": _link_prediction_ra_sql(),
        "bfs_hops3": _bfs_hops3_sql(),
        "dbscan_core": _dbscan_core_sql(),
        "kcore_hosts": _kcore_hosts_sql(),
        "cluster_diameter": _cluster_diameter_sql(),
        "degree_assortativity": _degree_assortativity_sql(),
        "boruvka_round1": _boruvka_round1_sql(),
        "markov_stationary": _markov_stationary_sql(),
        "redirect_resolve": _redirect_resolve_sql(),
        "sssp_w3": _sssp_w3_sql(),
        "lpa_communities": _lpa_communities_sql(),
        "consistent_shards": _consistent_shards_sql(),
        "maximal_matching": _maximal_matching_sql(),
        "diameter_sweep": _diameter_sweep_sql(),
        "coreness": _coreness_sql(),
        "ktruss_edges": _ktruss_edges_sql(),
        "dbscan_clusters": _dbscan_clusters_sql(),
        "power_iteration": _power_iteration_sql(),
        "bipartite_check": _bipartite_check_sql(),
        "stable_matching": _stable_matching_sql(),
        "markov_predict_eval": _markov_predict_eval_sql(),
        "emst_clusters": _emst_clusters_sql(),
        "mis_luby": _mis_luby_sql(),
        "ppr_hosts": _ppr_hosts_sql(),
        "dag_layers": _dag_layers_sql(),
        "influence_spread": _influence_spread_sql(),
        "rich_club": _rich_club_sql(),
    }
    return out
