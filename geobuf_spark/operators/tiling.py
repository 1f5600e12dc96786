"""Tile materialization — the reference's split/combine pipeline as ONE shuffle.

The reference repartitions a file by web-mercator tile in multiple passes
bounded by the OS fd limit (≤750 open subfiles, zoom steps of ≤4 —
split_combine.go:425-559 MapGeobuf), building a gob byte-range index
(split_combine.go:186-232 Combine). Spark has neither constraint: we explode
the tile cover at the *target* zoom directly and write partitioned by
(z, x, y) in a single job; the partitioned layout + parquet footers replace
the subfile index, and `WHERE z=… AND x=… AND y=…` prunes exactly like
SubFileSeek (reader.go:278-287).

What must match the reference is the assignment semantics (SURVEY §3.3):
which (feature, z/x/y) pairs exist — bbox tile cover with 1:N duplication
(split_combine.go:166-183) and parent promotion (x>>Δ, y>>Δ, z-Δ)
(split_combine.go:390-394). Both are pure SQL expressions here, the tile
formulas read from `functions/tiles` text.

At 100 TB: one wide shuffle keyed by cell; AQE coalesces small tiles and
splits hot ones; `maxRecordsPerFile` bounds output skew. No multi-pass I/O,
no subprocess `cat`, no fd planning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geobuf_spark.functions import tiles


def assign_tiles_points(points: DataFrame, z: int, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Point → exactly one (z, x, y); a NULL coordinate gets a NULL key."""
    return points.withColumns({
        "z": F.expr(f"CAST({z} AS INT)"),
        "x": F.expr(tiles.sql_tile_x(lon, z)),
        "y": F.expr(tiles.spark_tile_y(lat, z))})


def assign_tiles_bbox(feats: DataFrame, z: int) -> DataFrame:
    """Feature with bbox → one row per covered tile (1:N duplication)."""
    covered = tiles.explode_bbox_cover(feats, z)
    return covered.withColumn("z", F.lit(z).cast("int")) \
        .withColumnRenamed("tile_x", "x").withColumnRenamed("tile_y", "y")


def promote_to_zoom(assigned: DataFrame, target_z: int) -> DataFrame:
    """Re-key tile assignments to a coarser zoom via parent promotion,
    deduplicating tiles that merge (the refine loop of MapGeobuf run in
    reverse, without any I/O)."""
    # x >> dz as integer division (dz is per-row when z is a column)
    div = f"CAST(pow(2, z - {target_z}) AS BIGINT)"
    return assigned.withColumn("x", F.expr(f"x div {div}")) \
        .withColumn("y", F.expr(f"y div {div}")) \
        .withColumn("z", F.lit(target_z).cast("int"))


def write_tiles(assigned: DataFrame, path: str, max_records_per_file: int = 5_000_000,
                fmt: str = "parquet") -> None:
    """Partitioned write clustered by tile — the Combine analog.

    `repartition(z, x, y)` co-locates each tile's rows so every tile writes
    contiguous files (the reference's physical clustering, README.md:21);
    partition pruning on read replaces the gob index."""
    (
        assigned.repartition("z", "x", "y")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("z", "x", "y")
        .format(fmt)
        .save(path)
    )


def read_tile(spark, path: str, z: int, x: int, y: int) -> DataFrame:
    """SubFileSeek analog — partition-pruned point lookup of one tile."""
    return spark.read.parquet(path).where(
        (F.col("z") == z) & (F.col("x") == x) & (F.col("y") == y)
    )


def tile_histogram(assigned: DataFrame) -> DataFrame:
    """Per-tile feature counts (NumberFeatures analog, split_combine.go:145)
    — also the hot-tile diagnostic (registry query cell_skew_stats)."""
    return assigned.groupBy("z", "x", "y").agg(F.count("*").alias("n_features"))


def tile_pyramid(assigned: DataFrame, z_min: int = 0) -> DataFrame:
    """Multi-zoom rollup: per-tile feature counts for every zoom from the
    assignment zoom down to `z_min` — the whole pyramid in one pass.

    The reference builds coarse zooms by physically re-splitting subfiles
    level by level (split_combine.go:504-550). Here the max-zoom histogram
    is aggregated once (the only scan of the data — materialized via an
    eager localCheckpoint, or every union branch would re-run the scan),
    then each coarser level folds the previous one with the parent
    arithmetic (x>>1, y>>1, z-1) — O(tiles) per level on the tiny cached
    aggregate. Returns (z, x, y, n_features)."""
    base = assigned.groupBy("z", "x", "y").agg(F.count("*").alias("n_features")) \
        .localCheckpoint(eager=True)
    levels = [base]
    cur = base
    # z must be constant across the input — a mixed-zoom frame would roll
    # coarser rows up from the wrong starting level, silently halving their
    # x/y once too often. One tiny action on the checkpointed aggregate.
    zr = base.agg(F.min("z").alias("lo"), F.max("z").alias("hi")).first()
    if zr is None or zr.lo is None:
        return base
    if zr.lo != zr.hi:
        raise ValueError(
            f"tile_pyramid: mixed zoom levels in input (z={zr.lo}..{zr.hi}); "
            "roll each zoom up separately or re-assign at one zoom first")
    top_z = zr.hi
    for zz in range(top_z - 1, z_min - 1, -1):
        cur = (
            cur.select(
                F.lit(zz).alias("z"),
                F.shiftright("x", 1).alias("x"),
                F.shiftright("y", 1).alias("y"),
                "n_features",
            )
            .groupBy("z", "x", "y")
            .agg(F.sum("n_features").alias("n_features"))
        )
        levels.append(cur)
    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    return out


def split_clip_tiles(polys: DataFrame, z: int) -> DataFrame:
    """The reference's full tiling semantics — MapGeobuf with
    tileclip.ClipFeature (split_combine.go:373-397): explode the bbox tile
    cover (1:N) AND clip each copy's rings to its tile's bounds. Output:
    one row per (feature, tile) with coords/ring_lens replaced by the
    clipped geometry; tiles whose intersection is empty are dropped.

    `polys` needs minx/miny/maxx/maxy (for the cover) + coords/ring_lens.
    One explode + one Arrow clip pass — still a single shuffle away from a
    partitioned tile write."""
    from geobuf_spark.operators.clip import clip_polygons

    covered = tiles.explode_bbox_cover(polys, z)
    w, s, e, n = tiles.tile_bounds(z, F.col("tile_x"), F.col("tile_y"))
    covered = covered.withColumn("tminx", w).withColumn("tminy", s) \
        .withColumn("tmaxx", e).withColumn("tmaxy", n) \
        .withColumn("z", F.lit(z)) \
        .withColumnRenamed("tile_x", "x").withColumnRenamed("tile_y", "y")
    clipped = clip_polygons(covered)
    return clipped.drop("tminx", "tminy", "tmaxx", "tmaxy")


def vector_tiles(polys: DataFrame, z: int, extent: int = 4096) -> DataFrame:
    """The complete vector-tile materialization: cover explode → clip to
    tile bounds (Sutherland–Hodgman) → snap to the tile-local integer grid
    with duplicate collapse, rings degenerating below 3 grid vertices
    dropped, and winding normalized to the vector-tile convention (outer
    ring positive area in screen space). Output rows (poly_id…, z, x, y,
    grid_coords array<bigint> interleaved, ring_lens) are exactly what a
    tile encoder serializes — partitioned-write-ready with one shuffle."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    from geobuf_spark.operators.clip import normalize_winding_kernel, tile_local_kernel

    clipped = split_clip_tiles(polys, z)
    w, s, e, n = tiles.tile_bounds(z, F.col("x"), F.col("y"))
    clipped = clipped.withColumn("_w", w).withColumn("_s", s) \
        .withColumn("_e", e).withColumn("_n", n)

    in_cols = clipped.columns
    keep = [c for c in in_cols if c not in ("coords", "ring_lens", "_w", "_s", "_e", "_n")]
    out_schema = T.StructType(
        [f for f in clipped.schema.fields if f.name in keep]
        + [T.StructField("grid_coords", T.ArrayType(T.LongType())),
           T.StructField("ring_lens", T.ArrayType(T.IntegerType()))]
    )
    ix = {c: in_cols.index(c) for c in in_cols}

    def _snap(batches):
        for batch in batches:
            carr = batch.column(ix["coords"])
            rarr = batch.column(ix["ring_lens"])
            nrows = len(carr)
            if nrows == 0:
                continue
            flat = carr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            ring_nv = rarr.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            roffs = rarr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            row_of_ring = np.repeat(np.arange(nrows), roffs[1:] - roffs[:-1])
            wv = batch.column(ix["_w"]).to_numpy(zero_copy_only=False)[row_of_ring]
            sv = batch.column(ix["_s"]).to_numpy(zero_copy_only=False)[row_of_ring]
            ev = batch.column(ix["_e"]).to_numpy(zero_copy_only=False)[row_of_ring]
            nv_ = batch.column(ix["_n"]).to_numpy(zero_copy_only=False)[row_of_ring]
            out_c, out_nv = tile_local_kernel(flat, ring_nv, wv, sv, ev, nv_, extent)
            # drop rings degenerating below 3 grid vertices (MVT spec:
            # polygon rings need LineTo count > 1), then rows left empty
            ring_keep = out_nv >= 3
            vert_ring = np.repeat(np.arange(len(out_nv)), out_nv)
            out_c = out_c.reshape(-1, 2)[ring_keep[vert_ring]].reshape(-1)
            kept_nv = out_nv[ring_keep]
            kept_row_of_ring = row_of_ring[ring_keep]
            rows_nr = np.bincount(kept_row_of_ring, minlength=nrows)
            row_keep = rows_nr > 0
            if not row_keep.any():
                continue
            # winding normalization per ROW (each row is one polygon: its
            # first surviving ring is the outer)
            out_c, kept_nv = normalize_winding_kernel(
                out_c.astype(np.float64), kept_nv, rows_nr[row_keep])
            out_c = out_c.astype(np.int64)
            rows_nv = np.zeros(nrows, dtype=np.int64)
            np.add.at(rows_nv, kept_row_of_ring, kept_nv)
            nkeep = int(row_keep.sum())
            take = pa.array(np.flatnonzero(row_keep))
            coffs = np.zeros(nkeep + 1, dtype=np.int32)
            np.cumsum(rows_nv[row_keep] * 2, out=coffs[1:])
            roffs_out = np.zeros(nkeep + 1, dtype=np.int32)
            np.cumsum(rows_nr[row_keep], out=roffs_out[1:])
            carr_out = pa.ListArray.from_arrays(
                pa.array(coffs), pa.array(out_c, type=pa.int64()))
            rarr_out = pa.ListArray.from_arrays(
                pa.array(roffs_out), pa.array(kept_nv.astype(np.int32), type=pa.int32()))
            yield pa.RecordBatch.from_arrays(
                [batch.column(ix[c]).take(take) for c in keep] + [carr_out, rarr_out],
                names=keep + ["grid_coords", "ring_lens"])

    return clipped.mapInArrow(_snap, out_schema)


def explode_multipolygon_parts(df: DataFrame, coords: str = "coords",
                               ring_lens: str = "ring_lens",
                               part_rings: str = "part_rings") -> DataFrame:
    """(coords, ring_lens, part_rings) MultiPolygon rows → one row per
    polygon part (coords/ring_lens sliced per part, `part_idx` added) —
    the adapter that feeds MultiPolygons through split_clip_tiles /
    vector_tiles, which operate on single-polygon ring lists.

    Pure expressions: per-part ring spans via running sums over the
    part_rings array, then vertex spans via the ring-length prefix sums."""
    # prefix sums as arrays (aggregate returns the running array)
    rl = F.col(ring_lens)
    pr = F.col(part_rings)
    # ring index range of part i: [rstart[i], rstart[i+1])
    rstart = F.aggregate(
        pr, F.array(F.lit(0)),
        lambda acc, x: F.concat(acc, F.array(F.element_at(acc, -1) + x)))
    # vertex prefix over rings: vstart[j] = vertices before ring j (×2 coords)
    vstart = F.aggregate(
        rl, F.array(F.lit(0)),
        lambda acc, x: F.concat(acc, F.array(F.element_at(acc, -1) + x)))
    out = (
        df.withColumn("_rs", rstart).withColumn("_vs", vstart)
        .select("*", F.posexplode(pr).alias("part_idx", "_nrings"))
    )
    r0 = F.element_at("_rs", F.col("part_idx") + 1)          # rings before part
    r1 = r0 + F.col("_nrings")
    v0 = F.element_at("_vs", r0 + 1)                         # vertices before part
    v1 = F.element_at("_vs", r1 + 1)
    return (
        out.withColumn(ring_lens, F.slice(rl, r0 + 1, F.col("_nrings")))
        .withColumn(coords, F.slice(F.col(coords), v0 * 2 + 1, (v1 - v0) * 2))
        .drop("_rs", "_vs", "_nrings", part_rings)
    )


def vector_tiles_multipolygons(mpolys: DataFrame, z: int, extent: int = 4096,
                               id_col: str = "poly_id") -> DataFrame:
    """vector_tiles for MultiPolygon rows (coords, ring_lens, part_rings +
    minx/miny/maxx/maxy): parts explode through the single-polygon
    pipeline (cover → clip → snap → winding) and regroup per (id, tile)
    with `part_rings` rebuilt from each part's SURVIVING rings — so the
    multi-part structure crosses the tiling stage intact instead of the
    caller juggling part-by-part rows (TODO r01). One extra per-tile
    regroup shuffle, pure expressions otherwise."""
    parts = explode_multipolygon_parts(mpolys)
    vt = vector_tiles(parts, z, extent=extent)
    agg = vt.groupBy(id_col, "z", "x", "y").agg(
        F.sort_array(F.collect_list(
            F.struct("part_idx", "grid_coords", "ring_lens"))).alias("_p"))
    return (
        agg.withColumn("grid_coords",
                       F.flatten(F.transform("_p", lambda p: p.grid_coords)))
        .withColumn("ring_lens",
                    F.flatten(F.transform("_p", lambda p: p.ring_lens)))
        .withColumn("part_rings",
                    F.transform("_p", lambda p: F.size(p.ring_lens)))
        .drop("_p")
    )


def vector_tiles_points(points: DataFrame, z: int, extent: int = 4096,
                        id_col: str = "doc_id", lon: str = "lon",
                        lat: str = "lat") -> DataFrame:
    """vector_tiles for point features — PURE column expressions (a point
    covers exactly one tile, so there is no cover explode, no clip and no
    kernel: tile assign + tile-local grid snap, zero Python). Output rows
    (id, z, x, y, grid_coords=[px,py], ring_lens=[1]) feed
    `mvt.build_mvt_tiles(..., geom="point")`."""
    lo, la = F.col(lon), F.col(lat)
    x = F.expr(tiles.sql_tile_x(lon, z))
    y = F.expr(tiles.spark_tile_y(lat, z))
    w, s, e, n = tiles.tile_bounds(z, x, y)
    ext = F.lit(float(extent))
    # clamp hi = extent (not extent-1): east/north tile-edge points snap
    # to extent per the MVT convention, matching tile_local_kernel
    px = F.least(F.greatest(F.floor((lo - w) / (e - w) * ext), F.lit(0)),
                 F.lit(extent)).cast("bigint")
    py = F.least(F.greatest(F.floor((n - la) / (n - s) * ext), F.lit(0)),
                 F.lit(extent)).cast("bigint")
    return points.select(
        F.col(id_col),
        F.lit(z).alias("z"), x.alias("x"), y.alias("y"),
        F.array(px, py).alias("grid_coords"),
        F.array(F.lit(1)).alias("ring_lens"),
    )


def vector_tiles_lines(lines: DataFrame, z: int, extent: int = 4096) -> DataFrame:
    """vector_tiles for polyline features: cover → Liang–Barsky clip →
    tile-local grid snap; parts degenerating below 2 grid vertices are
    dropped. Output (…, z, x, y, grid_coords, ring_lens=part lengths) is
    ready for `mvt.build_mvt_tiles(..., geom="line")`."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    from geobuf_spark.operators.clip import tile_local_kernel

    clipped = split_clip_lines(lines, z)
    w, s, e, n = tiles.tile_bounds(z, F.col("x"), F.col("y"))
    snapped = clipped.withColumn("_w", w).withColumn("_s", s) \
        .withColumn("_e", e).withColumn("_n", n)
    names = snapped.columns
    keep = [c for c in names if c not in ("coords", "ring_lens", "_w", "_s", "_e", "_n")]
    ix = {c: names.index(c) for c in names}
    out_schema = T.StructType(
        [f for f in snapped.schema.fields if f.name in keep]
        + [T.StructField("grid_coords", T.ArrayType(T.LongType())),
           T.StructField("ring_lens", T.ArrayType(T.IntegerType()))])

    def _snap(batches):
        for batch in batches:
            nrows = batch.num_rows
            if nrows == 0:
                continue
            carr = batch.column(ix["coords"])
            rarr = batch.column(ix["ring_lens"])
            flat = carr.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            pnv = rarr.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
            roffs = rarr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            row_of = np.repeat(np.arange(nrows), roffs[1:] - roffs[:-1])
            bounds = [batch.column(ix[c]).to_numpy(zero_copy_only=False)[row_of]
                      for c in ("_w", "_s", "_e", "_n")]
            out_c, out_nv = tile_local_kernel(flat, pnv, *bounds, extent=extent)
            pkeep = out_nv >= 2
            vr = np.repeat(np.arange(len(out_nv)), out_nv)
            out_c = out_c.reshape(-1, 2)[pkeep[vr]].reshape(-1)
            knv = out_nv[pkeep]
            krow = row_of[pkeep]
            rows_np = np.bincount(krow, minlength=nrows)
            rk = rows_np > 0
            if not rk.any():
                continue
            rows_nv = np.zeros(nrows, np.int64)
            np.add.at(rows_nv, krow, knv)
            take = pa.array(np.flatnonzero(rk))
            coffs = np.zeros(int(rk.sum()) + 1, np.int32)
            np.cumsum(rows_nv[rk] * 2, out=coffs[1:])
            poffs = np.zeros(int(rk.sum()) + 1, np.int32)
            np.cumsum(rows_np[rk], out=poffs[1:])
            yield pa.RecordBatch.from_arrays(
                [batch.column(ix[c]).take(take) for c in keep]
                + [pa.ListArray.from_arrays(pa.array(coffs), pa.array(out_c, type=pa.int64())),
                   pa.ListArray.from_arrays(pa.array(poffs), pa.array(knv.astype(np.int32)))],
                names=keep + ["grid_coords", "ring_lens"])

    return snapped.mapInArrow(_snap, out_schema)


def split_clip_lines(lines: DataFrame, z: int) -> DataFrame:
    """split_clip_tiles for polyline features (the reference's roads
    corpus): cover explode → Liang–Barsky clip per tile; re-entrant lines
    become MultiLineString parts within the tile."""
    from geobuf_spark.operators.clip import clip_polylines

    covered = tiles.explode_bbox_cover(lines, z)
    w, s, e, n = tiles.tile_bounds(z, F.col("tile_x"), F.col("tile_y"))
    covered = covered.withColumn("tminx", w).withColumn("tminy", s) \
        .withColumn("tmaxx", e).withColumn("tmaxy", n) \
        .withColumn("z", F.lit(z)) \
        .withColumnRenamed("tile_x", "x").withColumnRenamed("tile_y", "y")
    return clip_polylines(covered).drop("tminx", "tminy", "tmaxx", "tmaxy")


def adaptive_cover(rects_q: DataFrame, z_min: int = 4, z_max: int = 8,
                   span_bits: int = 32, id_col: str = "poly_id") -> DataFrame:
    """S2-style ADAPTIVE region covering on the planar integer lattice:
    mixed-level cells, coarse where the region fully contains them,
    refined along the boundary — the normalized covering every spatial
    index builds its query ranges from (S2 RegionCoverer parity; the
    fixed-z tile cover is the degenerate z_min == z_max case).

    Input: (id_col, x1, y1, x2, y2) non-negative half-open lattice boxes.
    A level-z cell spans 2^(span_bits - z) lattice units. Per level:
    cells FULLY inside the box emit (is_full=1) and stop; cells merely
    intersecting refine into their 4 children; at z_max the boundary
    cells emit with is_full=0. Output: (id_col, z, cx, cy, is_full).

    Scale shape: the z_min seed is a bbox-cover explode; every deeper
    level explodes exactly 4 children per surviving boundary cell, so
    the work per region is O(perimeter / leaf_cell) — not O(area) — and
    it's all generator expressions, NO shuffle and NO iteration-barrier:
    the per-level frames are a lazy union the optimizer pipelines in one
    stage. Cell coordinates are `div`s of non-negative ints, matching
    the DuckDB oracle's `//` exactly."""
    def cell_px(z):
        return 1 << (span_bits - z)

    def seed(z):
        c = cell_px(z)
        g = rects_q.select(
            id_col, "x1", "y1", "x2", "y2",
            F.expr(f"x1 div {c}").alias("gx1"),
            F.expr(f"(x2 - 1) div {c}").alias("gx2"),
            F.expr(f"y1 div {c}").alias("gy1"),
            F.expr(f"(y2 - 1) div {c}").alias("gy2"))
        return (g.select(id_col, "x1", "y1", "x2", "y2", "gy1", "gy2",
                         F.explode(F.sequence(F.col("gx1"), F.col("gx2")))
                         .alias("cx"))
                .select(id_col, "x1", "y1", "x2", "y2", "cx",
                        F.explode(F.sequence(F.col("gy1"), F.col("gy2")))
                        .alias("cy")))

    def full_pred(z):
        c = cell_px(z)
        return ((F.col("cx") * c >= F.col("x1"))
                & ((F.col("cx") + 1) * c <= F.col("x2"))
                & (F.col("cy") * c >= F.col("y1"))
                & ((F.col("cy") + 1) * c <= F.col("y2")))

    def intersect_pred(z):
        c = cell_px(z)
        return ((F.col("cx") * c < F.col("x2"))
                & ((F.col("cx") + 1) * c > F.col("x1"))
                & (F.col("cy") * c < F.col("y2"))
                & ((F.col("cy") + 1) * c > F.col("y1")))

    def emit(df, z, is_full):
        return df.select(id_col, F.lit(z).alias("z"), "cx", "cy",
                         F.lit(is_full).alias("is_full"))

    lvl = seed(z_min)
    out = []
    for z in range(z_min, z_max + 1):
        fp = full_pred(z)
        out.append(emit(lvl.filter(fp), z, 1))
        boundary = lvl.filter(~fp)
        if z == z_max:
            out.append(emit(boundary, z, 0))
            break
        # subdivide: 4 children each, keep those intersecting the box
        kids = (boundary
                .select(id_col, "x1", "y1", "x2", "y2",
                        F.explode(F.array(
                            *[F.struct(F.lit(dx).alias("dx"),
                                       F.lit(dy).alias("dy"))
                              for dx in (0, 1) for dy in (0, 1)])).alias("k"),
                        "cx", "cy")
                .select(id_col, "x1", "y1", "x2", "y2",
                        (F.col("cx") * 2 + F.col("k.dx")).alias("cx"),
                        (F.col("cy") * 2 + F.col("k.dy")).alias("cy")))
        lvl = kids.filter(intersect_pred(z + 1))
    res = out[0]
    for o in out[1:]:
        res = res.unionAll(o)
    return res


def sql_adaptive_cover(rects_cte: str, z_min: int = 4, z_max: int = 8,
                       span_bits: int = 32, id_col: str = "poly_id") -> str:
    """DuckDB twin of adaptive_cover over a WITH body ending in
    r({id_col}, x1, y1, x2, y2): the same per-level refinement unrolled
    as chained CTEs."""
    def cell_px(z):
        return 1 << (span_bits - z)

    def full(z):
        c = cell_px(z)
        return (f"cx * {c} >= x1 AND (cx + 1) * {c} <= x2"
                f" AND cy * {c} >= y1 AND (cy + 1) * {c} <= y2")

    def inter(z):
        c = cell_px(z)
        return (f"cx * {c} < x2 AND (cx + 1) * {c} > x1"
                f" AND cy * {c} < y2 AND (cy + 1) * {c} > y1")

    c0 = cell_px(z_min)
    ctes = [f"""lvl{z_min} AS (
        SELECT {id_col}, x1, y1, x2, y2, cx,
               unnest(generate_series(y1 // {c0}, (y2 - 1) // {c0})) AS cy
        FROM (SELECT {id_col}, x1, y1, x2, y2,
                     unnest(generate_series(x1 // {c0}, (x2 - 1) // {c0})) AS cx
              FROM r))"""]
    emits = []
    for z in range(z_min, z_max + 1):
        emits.append(f"""SELECT {id_col}, {z} AS z, cx, cy, 1 AS is_full
            FROM lvl{z} WHERE {full(z)}""")
        if z == z_max:
            emits.append(f"""SELECT {id_col}, {z} AS z, cx, cy, 0 AS is_full
                FROM lvl{z} WHERE NOT ({full(z)})""")
            break
        ctes.append(f"""lvl{z + 1} AS (
            SELECT * FROM (
                SELECT {id_col}, x1, y1, x2, y2,
                       cx * 2 + k.dx AS cx, cy * 2 + k.dy AS cy
                FROM lvl{z},
                     (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) k(dx, dy)
                WHERE NOT ({full(z)}))
            WHERE {inter(z + 1)})""")
    body = "\n        UNION ALL ".join(emits)
    return f"""
        WITH {rects_cte},
        {', '.join(ctes)}
        {body}"""
