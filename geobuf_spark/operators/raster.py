"""Raster ↔ vector tile materialization (north-star requirement).

rasterize: points → per-tile pixel grids. A tile at zoom z is divided into
`res × res` pixels; each point maps to (tile, px, py) by pure arithmetic —
the same slippy-map formula at zoom z + log2(res), so the pixel index IS a
higher-zoom tile index and inherits all tile-math tests. Output is sparse
(one row per occupied pixel with a count) — the right shape at 100 TB,
where dense grids would explode; assembling a dense array per tile is a
trivial applyInPandas at the consumer edge.

vectorize: occupied pixels (count ≥ threshold) → axis-aligned boxes by
horizontal run-length merge (consecutive px runs per (tile, py)), the
marching-squares-lite inverse. Runs are found with window functions
(lag + cumsum gap flags) — one shuffle, SQL-expressible, so the DuckDB
oracle runs the identical logic.

Round-trip invariant (tested): vectorize(rasterize(points)) boxes cover
exactly the occupied pixels, and every input point falls inside some box.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geobuf_spark.functions import tiles


def rasterize(points: DataFrame, z: int, res_bits: int = 4,
              lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Sparse raster: (z, x, y, px, py, n) — pixel = tile at zoom z+res_bits."""
    zz = z + res_bits
    res = 1 << res_bits
    return (
        points.selectExpr(f"{tiles.sql_tile_x(lon, zz)} AS _fx",
                          f"{tiles.spark_tile_y(lat, zz)} AS _fy")
        .select(
            F.lit(z).cast("int").alias("z"),
            (F.col("_fx") / res).cast("bigint").alias("x"),
            (F.col("_fy") / res).cast("bigint").alias("y"),
            F.pmod(F.col("_fx"), F.lit(res)).alias("px"),
            F.pmod(F.col("_fy"), F.lit(res)).alias("py"),
        )
        .groupBy("z", "x", "y", "px", "py")
        .agg(F.count("*").alias("n"))
    )


def sql_rasterize(pts_sql: str, z: int, res_bits: int = 4) -> str:
    """DuckDB twin of rasterize over a points subquery with lon/lat."""
    zz = z + res_bits
    res = 1 << res_bits
    fx, fy = tiles.sql_tile_x("lon", zz), tiles.sql_tile_y("lat", zz)
    return f"""
        SELECT {z} AS z, ({fx}) // {res} AS x, ({fy}) // {res} AS y,
               ({fx}) % {res} AS px, ({fy}) % {res} AS py,
               count(*) AS n
        FROM ({pts_sql})
        GROUP BY 1, 2, 3, 4, 5"""


def vectorize(raster: DataFrame, threshold: int = 1) -> DataFrame:
    """Occupied pixels → horizontal run boxes:
    (z, x, y, py, px0, px1, total) — one row per maximal run."""
    occ = raster.filter(F.col("n") >= threshold)
    w = Window.partitionBy("z", "x", "y", "py").orderBy("px")
    runs = (
        occ.withColumn("_gap", F.when(F.col("px") - F.lag("px").over(w) == 1, 0).otherwise(1))
        .withColumn("_run", F.sum("_gap").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("z", "x", "y", "py", "_run")
        .agg(F.min("px").alias("px0"), F.max("px").alias("px1"), F.sum("n").alias("total"))
        .drop("_run")
    )
    return runs


def sql_vectorize(raster_sql: str, threshold: int = 1) -> str:
    return f"""
        WITH occ AS (SELECT * FROM ({raster_sql}) WHERE n >= {threshold}),
        flagged AS (
            SELECT z, x, y, py, px, n,
                   CASE WHEN px - lag(px) OVER
                        (PARTITION BY z, x, y, py ORDER BY px) = 1
                        THEN 0 ELSE 1 END AS gap
            FROM occ),
        runs AS (
            SELECT z, x, y, py, px, n,
                   sum(gap) OVER (PARTITION BY z, x, y, py ORDER BY px
                                  ROWS UNBOUNDED PRECEDING) AS run
            FROM flagged)
        SELECT z, x, y, py, min(px) AS px0, max(px) AS px1,
               CAST(sum(n) AS BIGINT) AS total
        FROM runs GROUP BY z, x, y, py, run"""


def raster_to_tiles(raster: DataFrame, path: str) -> None:
    """Persist the sparse raster partitioned by tile — the materialization
    sink shared with operators.tiling.write_tiles."""
    from geobuf_spark.operators.tiling import write_tiles

    write_tiles(raster, path)


def morans_i(counts: DataFrame, x: str = "x", y: str = "y",
             v: str = "n") -> DataFrame:
    """Global Moran's I over a sparse tile-count lattice with queen
    (8-neighbor) binary weights — the standard spatial-autocorrelation
    statistic ("are dense tiles next to dense tiles?"), in EXACT integer
    arithmetic so the DuckDB twin hashes identically.

    With dev_i = n·v_i − S (deviations multiplied through by n to stay
    integral, S = Σv), Moran's I = (n/W) · Σ_w dev_i dev_j / Σ dev_i².
    The pair sum expands so each piece is a plain aggregate — no scalar
    needs to reach the pair join:

        Σ_w dev_i dev_j = n²·A − n·S·B + S²·W
        Σ   dev_i²      = n²·Q − n·S²

    where A = Σ_w v_i v_j, B = Σ_w (v_i + v_j), W = ordered adjacent pair
    count, Q = Σ v². Plan: one 8-offset fan-out + ONE equi-join shuffle
    over occupied tiles + two single-row aggregates joined on a literal
    key (broadcast). Only observed (count>0) cells enter the lattice —
    the sparse convention; at 10^12 docs the occupied-tile table is the
    small rollup, never the corpus. num/den stay exact BIGINTs at any
    bench SF (|num| ≤ n²·S² needs n·S < 3·10^9 — document scale, not
    row scale); the headline double is two IEEE-exact casts, one multiply
    each side, one divide — bit-equal cross-engine."""
    cells = counts.select(
        F.col(x).cast("bigint").alias("cx"),
        F.col(y).cast("bigint").alias("cy"),
        F.col(v).cast("bigint").alias("cv"),
    ).localCheckpoint(eager=False)

    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)
    ])
    probe = (cells.select("cx", "cy", "cv", F.explode(offs).alias("o"))
             .select((F.col("cx") + F.col("o.dx")).alias("cx"),
                     (F.col("cy") + F.col("o.dy")).alias("cy"),
                     F.col("cv").alias("v_i")))
    pairs = probe.join(cells, ["cx", "cy"]).select("v_i", F.col("cv").alias("v_j"))
    pair_agg = pairs.agg(
        F.count("*").alias("w_pairs"),
        F.sum(F.col("v_i") * F.col("v_j")).alias("a_sum"),
        F.sum(F.col("v_i") + F.col("v_j")).alias("b_sum"),
    ).withColumn("_k", F.lit(1))
    cell_agg = cells.agg(
        F.count("*").alias("n_cells"),
        F.sum("cv").alias("s_sum"),
        F.sum(F.col("cv") * F.col("cv")).alias("q_sum"),
    ).withColumn("_k", F.lit(1))
    j = cell_agg.join(F.broadcast(pair_agg), "_k")
    n, s = F.col("n_cells"), F.col("s_sum")
    num = n * n * F.col("a_sum") - n * s * F.col("b_sum") + s * s * F.col("w_pairs")
    den = n * n * F.col("q_sum") - n * s * s
    # zero variance (every occupied cell holds the same count) leaves I
    # undefined — NULL, matching the oracle's NULLIF
    ok = (den != 0) & (F.col("w_pairs") != 0)
    return j.select(
        "n_cells", "w_pairs",
        num.alias("num_scaled"), den.alias("den_scaled"),
        F.when(ok, (n.cast("double") * num.cast("double"))
               / (F.col("w_pairs").cast("double") * den.cast("double")))
        .alias("morans_i"),
    )


def sql_morans_i(counts_sql: str, x: str = "x", y: str = "y",
                 v: str = "n") -> str:
    """DuckDB twin of morans_i over a (x, y, v) counts subquery."""
    return f"""
        WITH mi_cells AS (SELECT CAST({x} AS BIGINT) AS cx,
                                 CAST({y} AS BIGINT) AS cy,
                                 CAST({v} AS BIGINT) AS cv
                          FROM ({counts_sql})),
        mi_offs AS (SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                    (0,1),(1,-1),(1,0),(1,1)) o(dx, dy)),
        mi_pairs AS (SELECT i.cv AS v_i, j.cv AS v_j
                     FROM mi_cells i CROSS JOIN mi_offs o
                     JOIN mi_cells j ON j.cx = i.cx + o.dx
                                    AND j.cy = i.cy + o.dy),
        mi_pa AS (SELECT count(*) AS w_pairs, sum(v_i * v_j) AS a_sum,
                         sum(v_i + v_j) AS b_sum FROM mi_pairs),
        mi_ca AS (SELECT count(*) AS n_cells, sum(cv) AS s_sum,
                         sum(cv * cv) AS q_sum FROM mi_cells)
        SELECT CAST(n_cells AS BIGINT) AS n_cells,
               CAST(w_pairs AS BIGINT) AS w_pairs,
               CAST(n_cells * n_cells * a_sum - n_cells * s_sum * b_sum
                    + s_sum * s_sum * w_pairs AS BIGINT) AS num_scaled,
               CAST(n_cells * n_cells * q_sum - n_cells * s_sum * s_sum
                    AS BIGINT) AS den_scaled,
               (CAST(n_cells AS DOUBLE)
                * CAST(CAST(n_cells * n_cells * a_sum - n_cells * s_sum * b_sum
                       + s_sum * s_sum * w_pairs AS BIGINT) AS DOUBLE))
               / NULLIF(CAST(w_pairs AS DOUBLE)
                  * CAST(CAST(n_cells * n_cells * q_sum
                         - n_cells * s_sum * s_sum AS BIGINT) AS DOUBLE), 0.0)
               AS morans_i
        FROM mi_ca CROSS JOIN mi_pa"""
