"""Cross-family shared layer of the query registry.

Table loaders, fixture constants, and SQL-builder helpers referenced by
two or more family modules (plus the handful a family module must see
before its own definitions execute). Family modules star-import this
module; __all__ (at the bottom) deliberately includes underscore names
because the pre-split monolith exposed them as one namespace and tests
address them via the __spark_entry__ facade. Split out of the former
18k-line __spark_entry__.py (VERDICT r4 #2).
"""
from __future__ import annotations
from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from geobuf_spark.functions import text as TXT
from geobuf_spark.functions import geom, hexgrid, phash, tiles
from geobuf_spark.operators import dedup, knn, ranking, similarity, sketch
from geobuf_spark.operators import spatial_join as sj
from geobuf_spark.operators import tiling
from geobuf_spark.sources import minted, pages
from geobuf_spark.sources.pages import _html_sql, _pages_cte, _pages_geo_cte
from geobuf_spark.streaming import windows as W


# ---------------------------------------------------------------------------
# ranking / graph-analytics / measure family (operators/ranking.py,
# operators/graph.py hits_int, functions/geom.py) — batch 7
# ---------------------------------------------------------------------------

BM25_TERMS = ["spark", "tile", "graph"]

# ---------------------------------------------------------------------------
# distance-join / simplification / geohash / hotspot family — batch 8
# (operators/spatial_join.radius_self_join, functions/geom.vw_simplify_q,
# functions/cells.sql_geohash_q, dedup.near_dup_components over dense tiles)
# ---------------------------------------------------------------------------

RADIUS_R = 9_000_000       # 0.9° in 1e-7 lattice units
VW_AREA2_MIN = 10 ** 14    # keeps ~half the interior walk vertices
HOT_Z, HOT_MIN_PTS = 4, 4

# ---------------------------------------------------------------------------
# anchor-text aggregation + kNN classification — batch 9
# ---------------------------------------------------------------------------

def _linked_html(spark, n: int, anchored: bool):
    # the pages and their html with k∈{1,2,3} minted <a> anchors before
    # </body>; the anchor text is `l`, or w{dst mod 37} when `anchored`
    p = pages.pages(spark, n)
    k = F.pmod(F.col("page_id"), F.lit(3)) + F.lit(1)

    def anchor(i):
        dst = F.pmod(
            phash.hash60(F.concat(F.lit("L"), F.col("page_id").cast("string"),
                                  F.lit("-"), i.cast("string"))),
            F.lit(1000))
        text = (F.concat(F.lit("w"), F.pmod(dst, F.lit(37)).cast("string"))
                if anchored else F.lit("l"))
        return F.concat(F.lit('<a href="https://site'), dst.cast("string"),
                        F.lit(".example/x"), i.cast("string"), F.lit('">'),
                        text, F.lit("</a>"))

    anchors = F.concat_ws("", F.transform(F.sequence(F.lit(1), k), anchor))
    return p, F.replace(F.decode(F.col("html"), "utf-8"),
                        F.lit("</body></html>"),
                        F.concat(anchors, F.lit("</body></html>")))

def _sql_link_anchors(anchored: bool = False) -> str:
    """DuckDB twin of _linked_html's anchors, over txt's id."""
    dst = phash.sql_hash60("'L' || CAST(id AS VARCHAR) || '-' || CAST(i AS VARCHAR)")
    text = f"'w' || CAST(({dst}) % 1000 % 37 AS VARCHAR)" if anchored else "'l'"
    return f"""array_to_string(list_transform(
                            range(1, CAST(id % 3 AS INT) + 2),
                            i -> '<a href="https://site'
                                 || CAST(({dst}) % 1000 AS VARCHAR)
                                 || '.example/x' || CAST(i AS VARCHAR)
                                 || '">' || {text} || '</a>'), '')"""

def _page_link_edges_anchored(spark, n: int = 2000):
    # like _page_link_edges but every minted anchor carries a varied text
    # token w{dst mod 37}; hrefs and anchor texts are extracted by the
    # PAIRED regex twins (functions/text) and zipped positionally —
    # (src_host, dst, anchor), zero shuffle
    p, html2 = _linked_html(spark, n, anchored=True)
    z = F.arrays_zip(TXT.extract_links(html2).alias("dst"),
                     TXT.extract_link_anchors(html2).alias("anchor"))
    return (p.select(TXT.url_host(F.col("url")).alias("src_host"),
                     F.explode(z).alias("z"))
            .select("src_host", F.col("z.dst").alias("dst"),
                    F.col("z.anchor").alias("anchor")))

MLT_SEED_DOC = 40

ZIPF_DOCS_N = 2000
ZIPF_DOC_TOKENS = 40
ZIPF_U_MOD = 1 << 20

def _zipf_docs(spark, n: int = ZIPF_DOCS_N, m: int = ZIPF_DOC_TOKENS):
    """Minted heavy-tail corpus: token rank r = 2^20 // (u+1) with u a
    portable-hash draw, so P(rank = r) ~ 1/r² — a Zipf-ish head (rank 1 is
    ~half the corpus) plus a long rare tail. The real documents fixture has
    a 31-word vocabulary where every token is corpus-frequent, which would
    make a rare-token query vacuous. floor(2^20 / x) in doubles is exact:
    the true quotient is ≥ 2^-20 from any integer unless it IS one."""
    ids = spark.range(n).select(F.col("id").alias("doc_id"))
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(m)),
        lambda i: F.concat(
            F.lit("w"),
            F.floor(F.lit(float(ZIPF_U_MOD)) / (
                F.pmod(phash.hash60(F.concat(
                    F.lit("z"), F.col("doc_id").cast("string"),
                    F.lit("-"), i.cast("string"))), F.lit(ZIPF_U_MOD)) + 1
            ).cast("double")).cast("bigint").cast("string")))
    return ids.withColumn("text", F.array_join(toks, " "))

AREAL_CELL = 50_000_000          # 5° planar grid for areal interpolation
AREAL_SHIFT_X = 1_800_000_000    # lattice shift to non-negative (div == //)
AREAL_SHIFT_Y = 900_000_000

def _shifted_rects(spark, sf):
    """Minted rects as non-negative half-open lattice boxes (shared by
    areal_interp and adaptive_cover)."""
    return spark.read.parquet(f"{sf}/part.parquet").selectExpr(*_SHIFTED_RECTS)

_SHIFTED_RECTS = (
    "p_partkey AS poly_id",
    f"{minted._CX} - {minted._HW} + {AREAL_SHIFT_X} AS x1",
    f"{minted._CY} - {minted._HH} + {AREAL_SHIFT_Y} AS y1",
    f"{minted._CX} + {minted._HW} + {AREAL_SHIFT_X} AS x2",
    f"{minted._CY} + {minted._HH} + {AREAL_SHIFT_Y} AS y2")

def _shifted_rects_cte() -> str:
    return f"r AS ({minted._select(_SHIFTED_RECTS, 'part')})"

HEAT_T_REF = 1_760_000_000  # epoch ref above every minted warc_ts
HEAT_Z = 6

SCD2_T0 = 1_750_000_000  # first snapshot epoch; one snapshot per day

def _overlay_boxes(spark, sf, salt: str, id_name: str,
                   w_base: int, w_mod: int, w_step: int,
                   h_base: int, h_mod: int, h_step: int):
    """Overlay-layer mint: hash60-spread min corners over the whole
    lattice plane (the minted_rects part layer is a dense 22°-wide stack
    — right for PIP probe fixtures, degenerate for layer-vs-layer
    overlay), deterministic per-key sizes. Non-negative half-open."""
    part = spark.read.parquet(f"{sf}/part.parquet")
    k = F.col("p_partkey")

    def h(axis, mod):
        return F.pmod(phash.hash60(
            F.concat(F.lit(salt + axis), k.cast("string"))), F.lit(mod))

    w = F.lit(w_base) + F.pmod(k, F.lit(w_mod)) * w_step
    hh = F.lit(h_base) + F.pmod(k, F.lit(h_mod)) * h_step
    x1 = h("x", 3_000_000_000)
    y1 = h("y", 1_300_000_000)
    return part.select(k.alias(id_name), x1.alias("x1"), y1.alias("y1"),
                       (x1 + 2 * w).alias("x2"), (y1 + 2 * hh).alias("y2"))

_OVA = ("ova", "a_id", 10_000_000, 100, 1_000_000, 8_000_000, 80, 1_000_000)
_OVB = ("ovb", "b_id", 1_000_000, 30, 200_000, 800_000, 25, 160_000)

CRAWL_W_RANK = 2        # priority-score policy weights — arbitrary but
CRAWL_W_FRESH = 1000    # deterministic constants, documented as policy

def _lang_confusion_sql() -> str:
    """Oracle for q_lang_confusion: the lang_id argmax with the labeled
    lang threaded through (same CASE order — earlier langs win ties)."""
    langs = list(TXT.STOPWORDS)
    score_cols = []
    for lg in langs:
        lst = ", ".join(f"'{w}'" for w in TXT.STOPWORDS[lg])
        score_cols.append(
            f"len(list_filter(tk, t -> list_contains([{lst}], t))) AS s_{lg}")
    greatest = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    whens = " ".join(
        f"WHEN g > 0 AND s_{lg} = g THEN '{lg}'" for lg in langs)
    return f"""
        WITH toks AS (
            SELECT doc_id, lang, string_split(lower(text), chr(32)) AS tk
            FROM documents),
        scores AS (SELECT doc_id, lang, {', '.join(score_cols)} FROM toks),
        best AS (SELECT doc_id, lang, {greatest} AS g, * FROM scores),
        pred AS (SELECT lang AS actual,
                        CASE {whens} ELSE 'und' END AS pred
                 FROM best)
        SELECT actual, pred, count(*) AS n
        FROM pred GROUP BY 1, 2"""

COHORT_T0 = 1_704_067_200  # 2024-01-01 UTC — the events table's epoch week 0

# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _points(spark, sf):
    return minted.minted_points(spark, sf)

def _rects(spark, sf):
    return minted.minted_rects(spark, sf)

def _tris(spark, sf):
    return minted.minted_triangles(spark, sf)

def _docs(spark, sf):
    from geobuf_spark.sources.tables import widen
    return widen(spark.read.parquet(f"{sf}/documents.parquet"), spark)

def _emb(spark, sf):
    # sf0.1 embeddings.parquet is ONE row group — without widen() every
    # pre-shuffle stage (signatures, norms, GEMM batches) runs on one task
    from geobuf_spark.sources.tables import widen
    return widen(spark.read.parquet(f"{sf}/embeddings.parquet"), spark)

def _page_link_edges(spark, n: int = 2000):
    # (src_host, dst url) link edges from the pages table: inject k∈{1,2,3}
    # deterministic <a> anchors per page into the html payload
    # (exact-string replace before </body>), extract hrefs with ONE
    # regexp_extract_all pass (functions/text.extract_links), explode.
    # Zero-shuffle — shared by link_host_graph / pagerank_hosts.
    p, html2 = _linked_html(spark, n, anchored=False)
    return p.select(TXT.url_host(F.col("url")).alias("src_host"),
                    F.explode(TXT.extract_links(html2)).alias("dst"))

def _stratified_sample(p: DataFrame) -> DataFrame:
    """The sampling expression behind q_sample_stratified, callable on any
    pages-shaped input (the pytest invariance check feeds it repartitioned
    input to prove membership is partitioning-independent)."""
    bucket = F.pmod(phash.hash60(F.concat(F.lit("smp-"), F.col("url"))),
                    F.lit(1000))
    rate = (F.when(F.col("lang") == "en", F.lit(500))
            .when(F.col("lang").isin("de", "fr"), F.lit(250))
            .otherwise(F.lit(100)))
    return (p.select("page_id", "lang", bucket.alias("bucket"))
            .where(F.col("bucket") < rate))

# ---------------------------------------------------------------------------
# r4 extension batch 19 — per-node graph analytics
# ---------------------------------------------------------------------------

def _host_edges(spark, n: int = 2000):
    """Link edges as (src_host, dst_host) pairs — the shared input of the
    node-level graph family (triangle census uses the same mapping)."""
    return _page_link_edges(spark, n).select(
        "src_host", TXT.url_host(F.col("dst")).alias("dst_host"))

def _host_edges_cte() -> str:
    """Oracle twin of _host_edges: regenerated link edges as ed(src, dst)."""
    return (_links_cte() + f""",
        ed AS (SELECT src_host AS src, {TXT.sql_url_host('dst')} AS dst
               FROM e)""")

# ---------------------------------------------------------------------------
# Hilbert clustering key / spatial autocorrelation / window deciles /
# collocation lift — batch 19
# ---------------------------------------------------------------------------

MORAN_BIN = 10_000_000  # 1° cells on the 1e-7 lattice
PMI_MIN_COUNT, PMI_MIN_LIFT_PPM = 10, 1_050_000

# ---------------------------------------------------------------------------
# edit-distance near-dups / weighted sampling / NN distance stats — batch 20
# ---------------------------------------------------------------------------

WSAMPLE_MOD = 1000  # inclusion prob = n_chars per-mille (n_chars < 1000)

# ---------------------------------------------------------------------------
# delta-encoding cost by cell / distributional similarity / interval
# union coverage — batch 21
# ---------------------------------------------------------------------------

DELTA_GRID = 256        # cells per axis over the quantized lattice
COOC_MIN_DIMS, COOC_MIN_COS = 5, 0.60
IVL_LEN_EXPR = "(event_id % 240 + 30) * 60"  # 0.5–4.5 h in seconds

def _sql_varint_len(zz: str) -> str:
    """Varint byte length of a non-negative value < 2^49 — the CASE-sum
    twin of codec.core.varint_lengths, shared verbatim by both engines."""
    steps = " + ".join(
        f"(CASE WHEN ({zz}) >= {1 << (7 * k)} THEN 1 ELSE 0 END)"
        for k in range(1, 7))
    return f"(1 + {steps})"

# ---------------------------------------------------------------------------
# segment-intersection join / robots longest-prefix rules / staypoint
# detection — batch 22
# ---------------------------------------------------------------------------

SEG_CELL = 20_000_000   # grid span ≥ the walk box extent (2.0° x 1.6°), so
                        # every segment bbox covers ≤ 2 cells per axis
STAY_R2 = 90_000_000_000          # dwell radius² on the traj lattice (3e5)²
ROBOTS_PAGES, ROBOTS_SITES = 2000, 1000

# ---------------------------------------------------------------------------
# clickstream path analysis / asymmetric containment dedup / DBSCAN core
# points — batch 23
# ---------------------------------------------------------------------------

SESSION_GAP_S = 1800
DBSCAN_EPS = 6_000_000           # lattice units (0.6°)
DBSCAN_MIN_NBRS = 2              # core ⇔ ≥ 2 neighbours within eps

# ---------------------------------------------------------------------------
# robust MAD outliers / exact bearing octants / event-time lateness audit
# — batch 24
# ---------------------------------------------------------------------------

MAD_K = 5  # outlier gate: |dev| > MAD_K * MAD

_OCTANT_EXPR = """(CASE
    WHEN dx >= 0 AND dy >= 0 THEN (CASE WHEN dx >= dy THEN 0 ELSE 1 END)
    WHEN dx < 0 AND dy >= 0 THEN (CASE WHEN -dx < dy THEN 2 ELSE 3 END)
    WHEN dx < 0 AND dy < 0 THEN (CASE WHEN -dx >= -dy THEN 4 ELSE 5 END)
    ELSE (CASE WHEN dx < -dy THEN 6 ELSE 7 END) END)"""

# ---------------------------------------------------------------------------
# prefix autocomplete / exact integer trend slopes / co-presence linkage
# — batch 25
# ---------------------------------------------------------------------------

COPRES_Z = 9                     # co-presence tile zoom
COPRES_MIN = 3                   # ≥ 3 shared (tile, hour) bins → linked

COPRES_BIN_X, COPRES_BIN_Y = 7_031_250, 3_320_313  # ~z9 bin spans
COPRES_JIT = 4_000_000

# ---------------------------------------------------------------------------
# discrete Hausdorff distance / skyline (Pareto dominance) / raster focal
# mean — batch 26
# ---------------------------------------------------------------------------

FOCAL_Z = 6

# ---------------------------------------------------------------------------
# point→polyline snap join / weighted median / shard balance — batch 27
# ---------------------------------------------------------------------------

SNAP_R = 5_000_000          # snap radius (lattice units, 0.5°)
SNAP_CELL = SNAP_R          # probe grid = radius ⇒ 3×3 ring is complete
N_SHARDS = 64

# point-to-segment distance² as shared expression text: integer dot/len²
# feed three IEEE ops (clamp, multiply, subtract) — identical text in both
# engines ⇒ bit-equal doubles (line_length_stats precedent). Candidate
# deltas ≤ one probe ring + segment extent, so the integer products stay
# far inside int64.
_SNAP_D2 = """(CASE WHEN (vx * vx + vy * vy) = 0
    THEN CAST(wx * wx + wy * wy AS DOUBLE)
    ELSE (wx - least(greatest(CAST(wx * vx + wy * vy AS DOUBLE)
                              / (vx * vx + vy * vy), 0.0), 1.0) * vx)
       * (wx - least(greatest(CAST(wx * vx + wy * vy AS DOUBLE)
                              / (vx * vx + vy * vy), 0.0), 1.0) * vx)
       + (wy - least(greatest(CAST(wx * vx + wy * vy AS DOUBLE)
                              / (vx * vx + vy * vy), 0.0), 1.0) * vy)
       * (wy - least(greatest(CAST(wx * vx + wy * vy AS DOUBLE)
                              / (vx * vx + vy * vy), 0.0), 1.0) * vy)
    END)"""

# ---------------------------------------------------------------------------
# grid line density (Liang-Barsky, fixed-point sums) / k-core peeling /
# integer Chebyshev anomaly days — batch 28
# ---------------------------------------------------------------------------

GLD_G = 20_000_000        # density grid span (lattice units)
GLD_FP = 1 << 20          # fixed-point scale for order-independent sums
KCORE_K, KCORE_ROUNDS = 2, 4
ANOM_K2 = 4               # |z| > 2 ⇔ (n·x − S)² > 4·(n·Σx² − S²)

# Liang-Barsky parametric clip of segment (ax,ay)→(bx,by) against the
# closed box [x1,x2]×[y1,y2], as shared expression text over columns
# ax/ay/vx/vy/x1/x2/y1/y2 (v = b − a). Sentinels for the axis-parallel
# cases: inside → (0,1), outside → (2,−1) (empty). All divisions are
# double/int64 with identical text, so t0/t1 are bit-equal cross-engine.
_LB_TMIN_X = ("(CASE WHEN vx > 0 THEN CAST(x1 - ax AS DOUBLE) / vx "
              "WHEN vx < 0 THEN CAST(x2 - ax AS DOUBLE) / vx "
              "ELSE (CASE WHEN ax >= x1 AND ax <= x2 THEN 0.0 ELSE 2.0 END) "
              "END)")
_LB_TMAX_X = ("(CASE WHEN vx > 0 THEN CAST(x2 - ax AS DOUBLE) / vx "
              "WHEN vx < 0 THEN CAST(x1 - ax AS DOUBLE) / vx "
              "ELSE (CASE WHEN ax >= x1 AND ax <= x2 THEN 1.0 ELSE -1.0 END) "
              "END)")
_LB_TMIN_Y = _LB_TMIN_X.replace("vx", "vy").replace("ax", "ay") \
    .replace("x1", "y1").replace("x2", "y2")
_LB_TMAX_Y = _LB_TMAX_X.replace("vx", "vy").replace("ax", "ay") \
    .replace("x1", "y1").replace("x2", "y2")
_LB_T0 = f"greatest(0.0, {_LB_TMIN_X}, {_LB_TMIN_Y})"
_LB_T1 = f"least(1.0, {_LB_TMAX_X}, {_LB_TMAX_Y})"

# clipped piece length, fixed-point floor: per-row doubles are bit-equal
# (identical text), floor makes them exact integers, and the INTEGER sum
# is order-independent — the trick that lets a float-valued rollup hash
# match across engines and partitionings.
_LB_PIECE_FP = (f"CAST(floor(({_LB_T1} - {_LB_T0}) "
                f"* sqrt(CAST(vx * vx + vy * vy AS DOUBLE)) * {GLD_FP}.0) "
                "AS BIGINT)")

# ---------------------------------------------------------------------------
# origin-destination flows / weekly corpus novelty / exact union area of
# boxes — batch 29
# ---------------------------------------------------------------------------

OD_BIN = 400_000                 # traj lattice span 2e6 → 5×5 OD grid

# ---------------------------------------------------------------------------
# positional phrase search / integer IDW interpolation / tile percentile
# ranks — batch 30
# ---------------------------------------------------------------------------

PHRASE_W1, PHRASE_W2 = "data", "slow"
IDW_G = 20_000_000

# ---------------------------------------------------------------------------
# rolling 7-day actives / OD flow divergence / conjunctive search
# — batch 31
# ---------------------------------------------------------------------------

WAU_DAYS = 7
CONJ_TERMS = ("data", "spark", "join")

# ---------------------------------------------------------------------------
# SCD2 as-of enrichment / bot behavior flags / FK integrity audit
# — batch 32
# ---------------------------------------------------------------------------

VISITS_PER_URL = 3
BOT_BURST = 3  # flag users with ≥ this many events inside one minute

# ---------------------------------------------------------------------------
# interval intersection (dwell∩session) / per-tile p90 / multi-grain
# actives — batch 33
# ---------------------------------------------------------------------------


def _user_islands(spark, sf, gate_expr, min_ev):
    """Shared gaps-and-islands builder: per-user maximal runs where the
    new-island gate holds, as disjoint [t0, t1] intervals (staypoints /
    sessionize share this shape)."""
    from pyspark.sql import Window as Win
    e = spark.read.parquet(f"{sf}/events.parquet")

    def pos(axis):
        return F.pmod(
            phash.hash60(F.concat(F.lit(axis),
                                  F.col("event_id").cast("string"))),
            F.lit(2_000_001)) - 1_000_000

    d = e.select("user_id", "ts", "event_id",
                 F.unix_timestamp("ts").alias("te"),
                 pos("tx").alias("px"), pos("ty").alias("py"))
    w = Win.partitionBy("user_id").orderBy("ts", "event_id")
    d = (d.withColumn("gap", F.col("te") - F.lag("te").over(w))
         .withColumn("dx", F.col("px") - F.lag("px").over(w))
         .withColumn("dy", F.col("py") - F.lag("py").over(w)))
    iv = (d.withColumn("ni", F.when(F.expr(gate_expr), 0).otherwise(1))
          .withColumn("island", F.sum("ni").over(
              w.rowsBetween(Win.unboundedPreceding, 0))))
    return (iv.groupBy("user_id", "island")
            .agg(F.count("*").alias("n_ev"),
                 F.min("te").alias("t0"), F.max("te").alias("t1"))
            .filter(F.col("n_ev") >= min_ev)
            .drop("island", "n_ev"))

_STAY_GATE = f"dx IS NOT NULL AND dx * dx + dy * dy <= {STAY_R2}"
_SESS_GATE = f"gap IS NOT NULL AND gap <= {SESSION_GAP_S}"

# ---------------------------------------------------------------------------
# host URL longest-common-prefix / tile spatial outliers / ship-delay
# order statistics — batch 35
# ---------------------------------------------------------------------------

SPATIAL_OUT_K = 2  # own-count × neighbours > K × focal-sum ⇒ outlier
SPATIAL_OUT_G = 20_000_000

# ---------------------------------------------------------------------------
# range-partition boundary planner / host concentration / dominant
# bearing — batch 36
# ---------------------------------------------------------------------------

RANGE_BUCKETS = 16

# ---------------------------------------------------------------------------
# reciprocal-rank fusion / A/B lift / time-to-purchase survival
# — batch 37
# ---------------------------------------------------------------------------

RRF_K, RRF_TOP = 60, 20
RRF_SCALE = 1_000_000_000

# ---------------------------------------------------------------------------
# ring orientation normalization / cluster bounding circles / spatial
# split leakage audit — batch 39
# ---------------------------------------------------------------------------

SPLIT_BLOCK = 4 * DBSCAN_EPS     # block-level split grain
SPLIT_TEST_MOD = 5               # 1-in-5 blocks → test

# ---------------------------------------------------------------------------
# watermark policy simulator / turning angles / outage gaps — batch 40
# ---------------------------------------------------------------------------

WM_DELAYS = (0, 60, 600, 3600)

# ---------------------------------------------------------------------------
# exact KS drift statistic / top-k vocabulary drift / cell coverage
# curve — batch 41
# ---------------------------------------------------------------------------

KS_LANG_A, KS_LANG_B = "en", "de"
DRIFT_TOPK = 25

# ---------------------------------------------------------------------------
# rectangle nesting depth / dwell event mix — batch 42
# ---------------------------------------------------------------------------

NEST_CELL = 100_000_000

# ---------------------------------------------------------------------------
# event 3-motifs / dup-pair language mix / week-over-week change
# — batch 43
# ---------------------------------------------------------------------------

MOTIF_MIN = 5

# ---------------------------------------------------------------------------
# Ripley distance-band pair counts / churn rollup — batch 44
# ---------------------------------------------------------------------------

RIPLEY_BAND = 2_000_000
RIPLEY_MAX = 8_000_000  # 4 bands; cell = max radius ⇒ 3×3 ring complete

# ---------------------------------------------------------------------------
# batch 46 — cluster diameter, polyline self-intersection, autocorrelation
# ---------------------------------------------------------------------------

DIAM_PACK = 10_000_000  # witness-pair packing: safe to 1e7 docs (sf ~200)

def _self_xing_count(elem, k: int = 9) -> str:
    """Shared-text self-intersection counter over a k-vertex polyline:
    Σ over non-adjacent segment pairs (i, j≥i+2) of the strict integer
    proper-crossing predicate (sj.sql_cross orientation signs). `elem`
    formats an element accessor, e.g. lambda a, i: f"{a}[{i+1}]" —
    integer-exact, so accessor SYNTAX may differ per engine even though
    the arithmetic is shared."""
    terms = []
    for i in range(k - 1):
        for j in range(i + 2, k - 1):
            ax, ay = elem("xs", i), elem("ys", i)
            bx, by = elem("xs", i + 1), elem("ys", i + 1)
            cx, cy = elem("xs", j), elem("ys", j)
            dx, dy = elem("xs", j + 1), elem("ys", j + 1)
            d1 = sj.sql_cross(cx, cy, dx, dy, ax, ay)
            d2 = sj.sql_cross(cx, cy, dx, dy, bx, by)
            d3 = sj.sql_cross(ax, ay, bx, by, cx, cy)
            d4 = sj.sql_cross(ax, ay, bx, by, dx, dy)
            opp1 = f"(({d1}) > 0 AND ({d2}) < 0 OR ({d1}) < 0 AND ({d2}) > 0)"
            opp2 = f"(({d3}) > 0 AND ({d4}) < 0 OR ({d3}) < 0 AND ({d4}) > 0)"
            terms.append(f"(CASE WHEN {opp1} AND {opp2} THEN 1 ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"

# ---------------------------------------------------------------------------
# batch 48 — quadkey prefix-range PIP join, exact trimmed mean
# ---------------------------------------------------------------------------

QKRJ_Z, QKRJ_ZMIN, QKRJ_ZMAX = 12, 6, 7  # z6 buckets: 1.5 s at sf0.1

EMB_COV_SCALE = 10_000  # |x|≤1 floats → |q|≤1e4; moments int64-safe to sf1

# ---------------------------------------------------------------------------
# batch 50 — per-host fan-out capping, HLL estimate-vs-exact evaluation
# ---------------------------------------------------------------------------

HOST_CAP = 5

# ---------------------------------------------------------------------------
# batch 52 — Markov stationary distribution, exact rolling median
# ---------------------------------------------------------------------------

MARKOV_V0 = 200_000  # uniform start over the 5 event types, ppm

def _markov_step(v, trans):
    # one synchronous integer power-iteration step: v'[t] =
    # Σ_p v[p]·C[p,t] div R[p] — the per-term integer div is the SAME
    # arithmetic the oracle chains, so the iterate is bit-exact
    return (trans.join(v, trans["p"] == v["event_type"])
            .select("t", F.expr("v * c div r").alias("term"))
            .groupBy(F.col("t").alias("event_type"))
            .agg(F.sum("term").alias("v")))

# ---------------------------------------------------------------------------
# batch 53 — vocabulary growth, peak session concurrency, grid morphology
# ---------------------------------------------------------------------------

VOCAB_KS = [10, 25, 50, 100, 250, 500]

GRIDB_CELL = 5_000_000

# ---------------------------------------------------------------------------
# batch 54 — redirect chain resolution (pointer doubling), tile gradient
# ---------------------------------------------------------------------------

REDIR_N = 2000

def _redir_parent_col():
    # deterministic redirect graph over page ids: multiples of 5 are
    # terminal; everyone else redirects DOWN by 1 + (id % 3), clamped at
    # 0 — strictly decreasing, so chains terminate but depth has no
    # closed form (the resolver must actually walk).
    return F.when(F.col("id") % 5 == 0, F.col("id")).otherwise(
        F.greatest(F.col("id") - (F.lit(1) + F.col("id") % 3), F.lit(0)))

GRAD_Z = 6

# ---------------------------------------------------------------------------
# batch 55 — SCD2-versioned PIP join, seasonally-adjusted outliers
# ---------------------------------------------------------------------------

PIPV_T0 = 1_704_067_200     # 2024-01-01, the events fixture's epoch floor
PIPV_EPOCH_S = 10 * 86400   # three 10-day validity windows span the month

DOW_K = 4  # Chebyshev multiplier on the residual second moment

# ---------------------------------------------------------------------------
# batch 56 — rank-biased overlap, longest duplicated-span run
# ---------------------------------------------------------------------------

RBO_DEPTH = 20

# ---------------------------------------------------------------------------
# batch 57 — bulk kNN graph, language unigram-profile cosine
# ---------------------------------------------------------------------------

KNNG_K = 3

# ---------------------------------------------------------------------------
# batch 58 — integer Epanechnikov KDE, market-basket pair lift
# ---------------------------------------------------------------------------

KDE_R = 9_000_000  # bandwidth = cell size ⇒ the 3×3 ring is complete

BASKET_MIN = 2

# ---------------------------------------------------------------------------
# batch 59 — prefix-filtered set-similarity join, summed-area-table counts
# ---------------------------------------------------------------------------

SSJOIN_TAU_PPM = 500_000  # Jaccard ≥ 0.5, kept rational: 2·inter ≥ union

# summed-area table over the full minted lattice: cell = 1e8 lattice units
# (10°), so the dense grid is a CONSTANT 36×17 = 612 cells at every scale —
# the separable two-scan SAT costs O(grid), only the per-cell count sees N.
SAT_R = 100_000_000
SAT_W = 36  # ceil(LON_MOD / SAT_R)
SAT_H = 17  # ceil(LAT_MOD / SAT_R)

def _sat_rects(spark, sf):
    # deterministic cell-space query rectangles, one per customer —
    # the same chained-mulmod mint idiom as the geometry fixtures
    return spark.read.parquet(f"{sf}/customer.parquet").selectExpr(*_sat_rect_cols())

def _sat_rect_cols() -> tuple:
    """_sat_rects' select list over `customer`, shared with its oracle."""
    x1 = minted._sql_mulmod("c_custkey", 48271, SAT_W)
    y1 = minted._sql_mulmod("c_custkey", 69621, SAT_H)
    wd = f"({minted._sql_mulmod('c_custkey', 7919, 12)} + 1)"
    ht = f"({minted._sql_mulmod('c_custkey', 104729, 8)} + 1)"
    return ("c_custkey AS rect_id",
            f"CAST({x1} AS BIGINT) AS x1", f"CAST({y1} AS BIGINT) AS y1",
            f"CAST(least({x1} + {wd}, {SAT_W - 1}) AS BIGINT) AS x2",
            f"CAST(least({y1} + {ht}, {SAT_H - 1}) AS BIGINT) AS y2")

# ---------------------------------------------------------------------------
# batch 60 — bounded weighted shortest path, Allen interval-relation census
# ---------------------------------------------------------------------------


def _host_wedges(spark):
    # weighted host-link edges: the shared _host_edges mint plus a
    # deterministic integer latency weight 10..99 per UNDIRECTED pair
    # (hash60 of the canonicalised "u>v" string, so both directions and
    # both engines agree)
    ed = _host_edges(spark)
    u = F.least("src_host", "dst_host")
    v = F.greatest("src_host", "dst_host")
    w = F.pmod(phash.hash60(F.concat(u, F.lit(">"), v)), F.lit(90)) + F.lit(10)
    return ed.select(F.col("src_host").alias("src"),
                     F.col("dst_host").alias("dst"), w.alias("w"))

# ---------------------------------------------------------------------------
# batch 62 — MMR diversified top-k selection, per-language TF-IDF
# characteristic terms
# ---------------------------------------------------------------------------

MMR_K = 3          # selections (bounded constant — one 1-row driver
MMR_LAM = 200      # round-trip per pick, never data-sized)

# ---------------------------------------------------------------------------
# batch 63 — label-propagation communities, consistent-hash ring sharding
# ---------------------------------------------------------------------------

N_VNODES = 64

# ---------------------------------------------------------------------------
# batch 64 — nearest-either-direction as-of join, exact collinear
# polyline simplification
# ---------------------------------------------------------------------------

ASOF_NEAR_TOL = 86_400  # 1 day — partial coverage at fixture density

# ---------------------------------------------------------------------------
# batch 65 — greedy max-coverage host selection, exact Welch t² gate
# ---------------------------------------------------------------------------

MAXCOV_K = 3
WELCH_K = 4  # |t| > 2

# ---------------------------------------------------------------------------
# batch 66 — IBLT snapshot reconciliation, persistent heavy hitters
# ---------------------------------------------------------------------------

RECON_CELLS = 256
PHH_TOP = 5
PHH_MIN_DAYS = 4  # splits (neither empty nor all-users) at both test SFs

# ---------------------------------------------------------------------------
# batch 67 — STR R-tree bulk-load packing, Cohen's kappa
# ---------------------------------------------------------------------------

STR_S = 8  # 8 x-slices × 8 y-leaves = 64 leaves

# ---------------------------------------------------------------------------
# batch 68 — content-defined chunking, k-anonymity audit
# ---------------------------------------------------------------------------

CDC_P = 16    # boundary when pair-hash % P == 0 → ~16-token chunks
CDC_TOP = 10
K_ANON = 5

# ---------------------------------------------------------------------------
# batch 69 — winnowing fingerprints, log-bucketed percentile histogram
# ---------------------------------------------------------------------------

WINNOW_K, WINNOW_W, WINNOW_TOP = 5, 4, 10
LOGH_SUB_BITS = 4  # 16 subbuckets → relative error ≤ 1/16

# ---------------------------------------------------------------------------
# batch 70 — distributed BPE merge rounds, exact L1 medoid per cluster
# ---------------------------------------------------------------------------

BPE_ROUNDS = 3

# ---------------------------------------------------------------------------
# batch 71 — deterministic maximal matching, topic segmentation
# ---------------------------------------------------------------------------

TSEG_BLOCK = 10
TSEG_TAU = 300_000  # boundary when adjacent-block Jaccard < τ ppm

MAXSIM_SUB = 4    # 64-dim embeddings → 4 sub-vectors of 16
MAXSIM_EVERY = 50
MAXSIM_K = 3

# ---------------------------------------------------------------------------
# batch 73 — two-phase exact median, first-vs-last-touch attribution
# ---------------------------------------------------------------------------

TPM_BUCKET = 1024
ATTR_WINDOW = 7 * 86_400

# ---------------------------------------------------------------------------
# batch 74 — gap-bounded sequence mining, integer Otsu thresholding
# ---------------------------------------------------------------------------

SEQ_GAP = 3
OTSU_LEVEL = 128  # cents → 256-ish levels before the threshold scan
OTSU_Q = 1000     # |diff| quantum — keeps the squared score in int64

# ---------------------------------------------------------------------------
# batch 75 — Apriori frequent triples, double-sweep diameter bound
# ---------------------------------------------------------------------------

APRIORI_SUP = 12  # basket support threshold (tuned to split at both SFs)

def _baskets(spark, sf):
    # basket = (user, day); item = event_type × value-quartile — 20
    # possible items, sparse enough per basket that the apriori lattice
    # actually prunes
    e = spark.read.parquet(f"{sf}/events.parquet")
    day = F.expr("unix_timestamp(ts) div 86400")
    it = F.concat_ws(
        "#", F.col("event_type"),
        F.least(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"
                       " div 10000"), F.lit(3)).cast("string"))
    return (e.select(F.concat_ws("|", F.col("user_id").cast("string"),
                                 day.cast("string")).alias("bk"),
                     it.alias("item"))
            .distinct())

DIAM_CAP = 10

# ---------------------------------------------------------------------------
# batch 76 — Gonzalez k-center coreset, dedup-aware fold-leakage audit
# ---------------------------------------------------------------------------

KCENTER_K = 5
FOLD_N = 5

# ---------------------------------------------------------------------------
# batch 77 — independence-assumption selectivity audit, rsync block delta
# ---------------------------------------------------------------------------

RSYNC_BLOCK = 16

# ---------------------------------------------------------------------------
# batch 79 — Haar multiresolution energy, negative-sample audit
# ---------------------------------------------------------------------------

HAAR_N = 32  # days padded to the next power of two
NEG_K = 2

# ---------------------------------------------------------------------------
# batch 80 — greedy bandit replay evaluation, LSH blocking quality
# ---------------------------------------------------------------------------

BANDIT_ARMS = ["click", "error", "purchase", "signup", "view"]

# ---------------------------------------------------------------------------
# batch 81 — full k-core decomposition, Gini decision stump
# ---------------------------------------------------------------------------

STUMP_LEVEL = 100  # n_chars bucket width for candidate thresholds
STUMP_Q = 1000     # impurity quantum (the otsu_threshold trick)

# ---------------------------------------------------------------------------
# batch 82 — two-level exact top-k, difference-in-differences
# ---------------------------------------------------------------------------

TOPK2_K = 10
TOPK2_B = 8
DID_SPLIT_DAY = 15  # cutover: day-of-series < 15 = "before"

# ---------------------------------------------------------------------------
# batch 83 — k-truss peeling, deterministic Poisson bootstrap
# ---------------------------------------------------------------------------

KTRUSS_K = 3
KTRUSS_ROUNDS = 8

_PB_B = 40         # bootstrap resamples
_PB_LO, _PB_HI = 2, 39  # order-statistic ranks of the 95%-ish CI

# integer thresholds of the Poisson(1) inverse CDF on a 60-bit hash:
# u < _PB_T[j] ⇒ weight j (first match), else 5 — exact in both engines
import math as _math
_PB_T = []
_c = 0.0
for _j in range(5):
    _c += _math.exp(-1.0) / _math.factorial(_j)
    _PB_T.append(int(_c * (1 << 60)))
del _c, _j

# ---------------------------------------------------------------------------
# batch 84 — per-cluster convex hull, token-bucket rate-limit replay
# ---------------------------------------------------------------------------

TB_CAP = 3
TB_REFILL = 14_400  # one token per 4 h — sized so fixture bursts throttle

# ---------------------------------------------------------------------------
# batch 85 — full DBSCAN labels, Theil–Sen robust slope
# ---------------------------------------------------------------------------

# lcm(1..42) — day gaps on the 30-day fixture are ≤ 29, so LCM div gap is
# exact; the sort key num·(LCM div den) is an exact rational order
# (decimal(38)/HUGEINT: |num|·LCM can pass int64 at larger SFs)
TS_LCM = 219_060_189_739_591_200

def _dbscan_nbr_pairs_spark(spark, sf):
    """(a_id, b_id) point pairs within DBSCAN_EPS via the 3×3 cell join
    (the dbscan_core candidate structure, kept as pairs)."""
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
    d2 = ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
          + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
    return (a.join(b, ["cx", "cy"])
            .filter((F.col("a_id") != F.col("b_id"))
                    & (d2 <= DBSCAN_EPS * DBSCAN_EPS))
            .select("a_id", "b_id"))

# ---------------------------------------------------------------------------
# batch 86 — compaction bin-packing plan, Simpson's-paradox audit
# ---------------------------------------------------------------------------

COMPACT_TARGET = 4096  # bytes per compacted output file (fixture-scaled)

# ---------------------------------------------------------------------------
# batch 87 — sorted-neighborhood blocking, LZ76 prefix complexity
# ---------------------------------------------------------------------------

SN_W = 6        # sorted-neighborhood sliding-window width
LZ_PREFIX = 48  # chars of each doc the LZ76 pass reads

# ---------------------------------------------------------------------------
# batch 88 — integer power iteration, Huffman code lengths
# ---------------------------------------------------------------------------

PI_ROUNDS = 30             # the fixture spectrum is nearly flat
                           # (λ1/λ2 ≈ 1.07) — 30 rounds reach |cos|>0.9
PI_SCALE = 1_000_000       # |v| normalization target after each round
PI_SHIFT = 1_048_576       # covariance numerator downscale (2^20) —
                           # keeps w = C'·v inside int64 at 64 dims
HUF_ROUNDS = 34            # ≥ vocab−1 merges; extra rounds are no-ops

# ---------------------------------------------------------------------------
# batch 89 — bipartiteness audit, mutual-kNN pairs
# ---------------------------------------------------------------------------

BIP_CAP = 12  # BFS budget; > the host graph's sweep eccentricity (≤10)

# ---------------------------------------------------------------------------
# batch 90 — Gale–Shapley stable matching, deterministic RANSAC line
# ---------------------------------------------------------------------------

SM_U, SM_S = 12, 6   # proposers × slots; 10 simultaneous rounds on the
SM_ROUNDS = 14       # fixture, cap (and fixed oracle length) 14
RS_TOL = 1_000_000   # RANSAC inlier distance (0.1° in lattice units)

# ---------------------------------------------------------------------------
# batch 91 — max-burst window (Kadane via prefix-min), DTW between
# daily series
# ---------------------------------------------------------------------------

DTW_N = 30  # fixture day count per event type (guarded at runtime)

# ---------------------------------------------------------------------------
# batch 93 — activity-selection scheduling, sparse-table RMQ
# ---------------------------------------------------------------------------

RMQ_K = 4        # sparse-table levels (2^4 = 16 ≤ 30-day series)
RMQ_NQ = 16      # hash-drawn range queries

def _rmq_queries() -> list:
    """Plan-time hash-drawn (qid, l, r) over positions 1..30 — both
    engines fold the same literals (py_hash60 = their column hash)."""
    from geobuf_spark.functions import phash
    out = []
    n = 30
    for q in range(1, RMQ_NQ + 1):
        l = 1 + phash.py_hash60(f"rmq-l\x1e{q}") % n
        r = l + phash.py_hash60(f"rmq-r\x1e{q}") % (n - l + 1)
        out.append((q, l, r))
    return out

# ---------------------------------------------------------------------------
# batch 94 — isotonic regression (parallel PAVA), seasonal MASE eval
# ---------------------------------------------------------------------------

ISO_ROUNDS = 10

# ---------------------------------------------------------------------------
# batch 96 — Luby maximal independent set, Burrows–Wheeler runs
# ---------------------------------------------------------------------------

MIS_ROUNDS = 12
BWT_PREFIX = 32

# ---------------------------------------------------------------------------
# batch 97 — ear-clipping triangulation, feature-hash collision audit
# ---------------------------------------------------------------------------

FH_BUCKETS = 64

# ---------------------------------------------------------------------------
# batch 98 — convex layers (onion peeling), Soundex phonetic groups
# ---------------------------------------------------------------------------

CL_ROUNDS = 8  # ≥ ceil(n/3) layers on the largest cluster

_SOUNDEX = {**{c: "1" for c in "bfpv"}, **{c: "2" for c in "cgjkqsxz"},
            **{c: "3" for c in "dt"}, "l": "4",
            **{c: "5" for c in "mn"}, "r": "6",
            **{c: "0" for c in "aeiouy"}}

def _soundex_spark(col):
    # digits of every non-h/w letter (vowels → '0'), adjacent equal
    # digits collapsed, first-letter digit dropped (unless the first
    # letter itself is h/w), zeros removed, 3 digits zero-padded
    cases = " ".join(f"WHEN x = '{k}' THEN '{v}'"
                     for k, v in _SOUNDEX.items())
    seq = (f"filter(transform(split({col}, ''), "
           f"x -> CASE {cases} ELSE '~' END), x -> x != '~')")
    coll = (f"filter({seq}, (x, i) -> i = 0 OR x != {seq}[i - 1])")
    first_hw = f"substring({col}, 1, 1) IN ('h', 'w')"
    tail = (f"CASE WHEN {first_hw} THEN {coll} "
            f"ELSE slice({coll}, 2, 1000) END")
    digits = f"filter({tail}, x -> x != '0')"
    return (f"concat(upper(substring({col}, 1, 1)), "
            f"rpad(array_join(slice({digits}, 1, 3), ''), 3, '0'))")

# ---------------------------------------------------------------------------
# batch 100 — DAG longest-path layers, space-filling-curve locality audit
# ---------------------------------------------------------------------------

DAG_ROUNDS = 24  # > the fixture DAG's depth (20)

# ---------------------------------------------------------------------------
# batch 102 — linear-threshold influence spread, rich-club coefficient
# ---------------------------------------------------------------------------

INF_ROUNDS = 20
RC_KS = [2, 4, 8, 16, 32]

# ---------------------------------------------------------------------------
# batch 103 — Morisita aggregation index, Wald–Wolfowitz runs test
# ---------------------------------------------------------------------------

MOR_CELLS = [32_000_000, 16_000_000, 8_000_000]

def _sql_zigzag(v: str) -> str:
    return f"(CASE WHEN ({v}) >= 0 THEN 2*({v}) ELSE -2*({v}) - 1 END)"

def _ngram_sql(k: int = 3, threshold: float = 0.4) -> str:
    """Shared CTE chain for the exact n-gram Jaccard tier: token shingles
    (distinct, chr(31)-joined — identical to dedup._shingles) → shingle
    self-join → inclusion-exclusion Jaccard."""
    return f"""
        d AS (SELECT doc_id, string_split(text, chr(32)) AS toks
              FROM documents),
        sh0 AS (SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len(toks) - {k - 1}, 1) + 1),
                           i -> array_to_string(list_slice(toks, i, i + {k - 1}),
                                                chr(31)))) AS shs
                FROM d),
        sh AS (SELECT doc_id, unnest(shs) AS s FROM sh0),
        counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        shared AS (
            SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
            FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
            GROUP BY 1, 2),
        j AS (
            SELECT a, b,
                   CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) AS jaccard
            FROM shared
            JOIN counts ca ON ca.doc_id = a
            JOIN counts cb ON cb.doc_id = b),
        pairs AS (SELECT a, b, jaccard FROM j WHERE jaccard >= {threshold})"""

def _vec_lit(row) -> str:
    """A float64 vector as an exact DuckDB list literal (repr round-trips)."""
    return "[" + ", ".join(repr(float(v)) for v in row) + "]"

def _ann_ivf_sql(k: int = 5, every: int = 25, n_centroids: int = 8,
                 nprobe: int = 3, iters: int = 3) -> str:
    """Oracle for q_ann_ivf_top5. The coarse quantizer's 3-iteration
    k-means is not SQL-expressible, but it IS a deterministic function of
    the table (portable md5-ordered sample seed, similarity.ivf_centroids):
    `ivf_centroids_local` reproduces it bit-for-bit from the parquet at
    SQL-generation time (tests assert exact equality with the Spark path),
    and the centroids are pinned as literals. DuckDB then independently
    verifies assignment (argmax dot — normalization-invariant, first-max
    tie-break like numpy), the nprobe=3 probe set, the candidate join and
    the cosine top-k re-rank. Set GEOBUF_ORACLE_SF_DIR to point the
    generation-time read somewhere other than the driver's sf0.01."""
    import os

    import numpy as _np
    import pyarrow.parquet as _pq

    from geobuf_spark.operators.similarity import ivf_centroids_local

    sf = os.environ.get("GEOBUF_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    t = _pq.read_table(f"{sf}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_numpy()
    mat = _np.asarray(t.column("embedding").combine_chunks().flatten()
                      .to_numpy(zero_copy_only=False)).reshape(len(ids), -1)
    cents = ivf_centroids_local(ids, mat, n_centroids, iters)

    dots = ", ".join(f"list_dot_product(e, {_vec_lit(cents[i])})"
                     for i in range(n_centroids))
    return f"""
        WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                     FROM embeddings),
        d AS (SELECT vec_id, e, [{dots}] AS dots FROM emb),
        asg AS (SELECT vec_id, list_position(dots, list_max(dots)) - 1 AS cluster
                FROM d),
        qp AS (SELECT vec_id AS query_id, cluster FROM (
                   SELECT d.vec_id, t.cl AS cluster,
                          row_number() OVER (PARTITION BY d.vec_id
                              ORDER BY dots[t.cl + 1] DESC, t.cl) AS rk
                   FROM d, (SELECT unnest(range({n_centroids})) AS cl) t
                   WHERE d.vec_id % {every} = 0) x
               WHERE rk <= {nprobe}),
        cand AS (SELECT q.query_id, v.vec_id
                 FROM qp q JOIN asg v ON q.cluster = v.cluster
                 WHERE v.vec_id <> q.query_id),
        scored AS (SELECT c.query_id, c.vec_id AS neighbor_id,
                          list_cosine_similarity(qe.e, ve.e) AS cos
                   FROM cand c
                   JOIN emb qe ON qe.vec_id = c.query_id
                   JOIN emb ve ON ve.vec_id = c.vec_id),
        r AS (SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY cos DESC, neighbor_id) AS rank
              FROM scored)
        SELECT query_id, neighbor_id, rank FROM r WHERE rank <= {k}"""

def _links_cte(n: int = 2000, seed: int = 42) -> str:
    """Shared link-edge regeneration (q_link_host_graph / q_pagerank_hosts):
    rebuild the html envelope with the same k∈{1,2,3} hash60-derived
    anchors injected before </body>, run the same regexp_extract_all.
    Ends in e(src_host, dst). MATERIALIZED: the iterative twins
    (hits/pagerank) reference e once per half-step and DuckDB would
    otherwise re-run the whole envelope regeneration each time
    (11.3 s -> 1.7 s measured on the hits_hosts oracle, r5)."""
    return f"""{_pages_cte(n, seed)},
        a AS (SELECT id, url, {_html_sql(body_tail=_sql_link_anchors())} AS html2
              FROM txt),
        e AS MATERIALIZED (
              SELECT {TXT.sql_url_host('url')} AS src_host,
                     unnest({TXT.sql_extract_links('html2')}) AS dst
              FROM a)"""

def _with_ivf_oracle(out: dict[str, str]) -> dict[str, str]:
    # _ann_ivf_sql reads the embeddings parquet at generation time (the
    # k-means training sample is pinned as centroid literals); on a host
    # without the fixture, degrade ONLY ann_ivf_top5 to rows-only instead
    # of taking all 90 other oracles down with a FileNotFoundError.
    # Only the documented missing-fixture case degrades; a real bug in
    # _ann_ivf_sql must surface, not silently drop value verification.
    try:
        out["ann_ivf_top5"] = _ann_ivf_sql()
    except (FileNotFoundError, OSError) as e:
        import sys
        print(f"[oracle] ann_ivf_top5 degraded to rows-only: {e}",
              file=sys.stderr)
    return out


# names deleted at module-exec time (e.g. loop temps followed by `del`)
# are filtered out at runtime
__all__ = [n for n in [
    "ANOM_K2",
    "APRIORI_SUP",
    "AREAL_CELL",
    "AREAL_SHIFT_X",
    "AREAL_SHIFT_Y",
    "ASOF_NEAR_TOL",
    "ATTR_WINDOW",
    "BANDIT_ARMS",
    "BASKET_MIN",
    "BIP_CAP",
    "BM25_TERMS",
    "BOT_BURST",
    "BPE_ROUNDS",
    "BWT_PREFIX",
    "CDC_P",
    "CDC_TOP",
    "CL_ROUNDS",
    "COHORT_T0",
    "COMPACT_TARGET",
    "CONJ_TERMS",
    "COOC_MIN_COS",
    "COOC_MIN_DIMS",
    "COPRES_BIN_X",
    "COPRES_BIN_Y",
    "COPRES_JIT",
    "COPRES_MIN",
    "COPRES_Z",
    "CRAWL_W_FRESH",
    "CRAWL_W_RANK",
    "Callable",
    "DAG_ROUNDS",
    "DBSCAN_EPS",
    "DBSCAN_MIN_NBRS",
    "DELTA_GRID",
    "DIAM_CAP",
    "DIAM_PACK",
    "DID_SPLIT_DAY",
    "DOW_K",
    "DRIFT_TOPK",
    "DTW_N",
    "DataFrame",
    "EMB_COV_SCALE",
    "F",
    "FH_BUCKETS",
    "FOCAL_Z",
    "FOLD_N",
    "GLD_FP",
    "GLD_G",
    "GRAD_Z",
    "GRIDB_CELL",
    "HAAR_N",
    "HEAT_T_REF",
    "HEAT_Z",
    "HOST_CAP",
    "HOT_MIN_PTS",
    "HOT_Z",
    "HUF_ROUNDS",
    "IDW_G",
    "INF_ROUNDS",
    "ISO_ROUNDS",
    "IVL_LEN_EXPR",
    "KCENTER_K",
    "KCORE_K",
    "KCORE_ROUNDS",
    "KDE_R",
    "KNNG_K",
    "KS_LANG_A",
    "KS_LANG_B",
    "KTRUSS_K",
    "KTRUSS_ROUNDS",
    "K_ANON",
    "LOGH_SUB_BITS",
    "LZ_PREFIX",
    "MAD_K",
    "MARKOV_V0",
    "MAXCOV_K",
    "MAXSIM_EVERY",
    "MAXSIM_K",
    "MAXSIM_SUB",
    "MIS_ROUNDS",
    "MLT_SEED_DOC",
    "MMR_K",
    "MMR_LAM",
    "MORAN_BIN",
    "MOR_CELLS",
    "MOTIF_MIN",
    "NEG_K",
    "NEST_CELL",
    "N_SHARDS",
    "N_VNODES",
    "OD_BIN",
    "OTSU_LEVEL",
    "OTSU_Q",
    "PHH_MIN_DAYS",
    "PHH_TOP",
    "PHRASE_W1",
    "PHRASE_W2",
    "PIPV_EPOCH_S",
    "PIPV_T0",
    "PI_ROUNDS",
    "PI_SCALE",
    "PI_SHIFT",
    "PMI_MIN_COUNT",
    "PMI_MIN_LIFT_PPM",
    "QKRJ_Z",
    "QKRJ_ZMAX",
    "QKRJ_ZMIN",
    "RADIUS_R",
    "RANGE_BUCKETS",
    "RBO_DEPTH",
    "RC_KS",
    "RECON_CELLS",
    "REDIR_N",
    "RIPLEY_BAND",
    "RIPLEY_MAX",
    "RMQ_K",
    "RMQ_NQ",
    "ROBOTS_PAGES",
    "ROBOTS_SITES",
    "RRF_K",
    "RRF_SCALE",
    "RRF_TOP",
    "RSYNC_BLOCK",
    "RS_TOL",
    "SAT_H",
    "SAT_R",
    "SAT_W",
    "SCD2_T0",
    "SEG_CELL",
    "SEQ_GAP",
    "SESSION_GAP_S",
    "SM_ROUNDS",
    "SM_S",
    "SM_U",
    "SNAP_CELL",
    "SNAP_R",
    "SN_W",
    "SPATIAL_OUT_G",
    "SPATIAL_OUT_K",
    "SPLIT_BLOCK",
    "SPLIT_TEST_MOD",
    "SSJOIN_TAU_PPM",
    "STAY_R2",
    "STR_S",
    "STUMP_LEVEL",
    "STUMP_Q",
    "SparkSession",
    "TB_CAP",
    "TB_REFILL",
    "TOPK2_B",
    "TOPK2_K",
    "TPM_BUCKET",
    "TSEG_BLOCK",
    "TSEG_TAU",
    "TS_LCM",
    "TXT",
    "VISITS_PER_URL",
    "VOCAB_KS",
    "VW_AREA2_MIN",
    "W",
    "WAU_DAYS",
    "WELCH_K",
    "WINNOW_K",
    "WINNOW_TOP",
    "WINNOW_W",
    "WM_DELAYS",
    "WSAMPLE_MOD",
    "ZIPF_DOCS_N",
    "ZIPF_DOC_TOKENS",
    "ZIPF_U_MOD",
    "_LB_PIECE_FP",
    "_LB_T0",
    "_LB_T1",
    "_LB_TMAX_X",
    "_LB_TMAX_Y",
    "_LB_TMIN_X",
    "_LB_TMIN_Y",
    "_OCTANT_EXPR",
    "_OVA",
    "_OVB",
    "_PB_B",
    "_PB_HI",
    "_PB_LO",
    "_PB_T",
    "_SESS_GATE",
    "_SNAP_D2",
    "_SOUNDEX",
    "_STAY_GATE",
    "_ann_ivf_sql",
    "_baskets",
    "_c",
    "_dbscan_nbr_pairs_spark",
    "_docs",
    "_emb",
    "_host_edges",
    "_host_edges_cte",
    "_host_wedges",
    "_html_sql",
    "_lang_confusion_sql",
    "_links_cte",
    "_markov_step",
    "_math",
    "_ngram_sql",
    "_overlay_boxes",
    "_page_link_edges",
    "_page_link_edges_anchored",
    "_pages_cte",
    "_pages_geo_cte",
    "_points",
    "_rects",
    "_redir_parent_col",
    "_rmq_queries",
    "_sat_rect_cols",
    "_sat_rects",
    "_self_xing_count",
    "_shifted_rects",
    "_shifted_rects_cte",
    "_soundex_spark",
    "_sql_link_anchors",
    "_sql_varint_len",
    "_sql_zigzag",
    "_stratified_sample",
    "_tris",
    "_user_islands",
    "_vec_lit",
    "_with_ivf_oracle",
    "_zipf_docs",
    "dedup",
    "geom",
    "hexgrid",
    "knn",
    "minted",
    "pages",
    "phash",
    "ranking",
    "similarity",
    "sj",
    "sketch",
    "tiles",
    "tiling",
] if n in globals()]
