"""Join-strategy planning (SURVEY §2.5/§4 custom policies).

The reference has no strategy selection — hot tiles just make big subfiles.
Here the policy is explicit and recorded:

- `choose_strategy`: broadcast when the exploded build side fits the
  broadcast budget, else shuffle. Hot cells are not planned for: AQE
  skew-join (`spark.sql.adaptive.skewJoin.enabled`, set by `session.py`)
  splits an oversized shuffle partition at runtime, so the plan never
  scans the probe side.
- `choose_build`: which side a broadcast tile join hashes. The cover is
  the polygons times their tile fan-out (GetSizeGrid's 1:N duplication,
  split_combine.go:166-183), so it is often the larger side; the smaller
  one is hashed. The point side's size is Spark's analyzed-plan estimate
  (no job). The cover's is counted only when the point side is under
  `spark.sql.autoBroadcastJoinThreshold`, so a fact-sized point table is
  never broadcast and starts no job.

Every count runs as one build-side aggregate, never on raw rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geobuf_spark.functions import tiles

CELL_BYTES = 8  # the bigint cell key both sides of a tile join carry


@dataclass
class JoinPlan:
    strategy: str  # broadcast | shuffle
    salt: int  # always 1: skewed cells are split by AQE skew-join
    build_rows: int  # cover rows
    reason: str
    build: str  # points | cover: the side the join hashes


def estimate_cover_rows(polys: DataFrame, z: int) -> int:
    """Exploded build-side size without exploding: Σ tiles-per-bbox —
    GetSizeGrid's fan-out estimate (split_combine.go:44-53) done exactly.
    The x run is the length of the one `explode_bbox_cover` explodes
    (wrapped at the antimeridian). The sum runs over one partition, so
    it is one job with no exchange."""
    xs = tiles.sql_cover_width("minx", "maxx", z)
    ys = (f"({tiles.spark_tile_y('miny', z)} - "
          f"{tiles.spark_tile_y('maxy', z)} + 1)")
    return polys.coalesce(1).selectExpr(
        f"sum(CAST({xs} AS BIGINT) * {ys})").first()[0] or 0


def _row_bytes(df: DataFrame) -> int:
    """Spark's size of one row of `df` (EstimationUtils.getSizePerRow:
    8 + the columns' default sizes)."""
    return 8 + df._jdf.schema().defaultSize()


def choose_build(points: DataFrame, polys: DataFrame, z: int, *,
                 cover_rows: int | None = None) -> tuple[str, str]:
    """(build, reason): the side a broadcast tile join of `points` and
    the bbox cover of `polys` at zoom `z` hashes, "points" or "cover".

    Both sides are sized as Spark sizes a plan, with the cell key added:
    the point side is the analyzed plan's estimate widened by the key
    (as Spark widens a projection), the cover is `cover_rows` (counted by
    `estimate_cover_rows` when not given) times its row size. The points
    are hashed when they are the smaller; the cover is counted only when
    the point side fits `spark.sql.autoBroadcastJoinThreshold`, so over
    it, or with the threshold at -1, the cover is hashed and no job runs."""
    jpoints = points._jdf
    width = _row_bytes(points)
    point_bytes = (int(jpoints.queryExecution().analyzed().stats().sizeInBytes())
                   * (width + CELL_BYTES) // width)
    limit = jpoints.sparkSession().sessionState().conf().autoBroadcastJoinThreshold()
    if point_bytes > limit:
        return "cover", (f"point side ~{point_bytes} B over "
                         f"autoBroadcastJoinThreshold {limit} B: hash the cover")
    if cover_rows is None:
        cover_rows = estimate_cover_rows(polys, z)
    cover_bytes = cover_rows * (_row_bytes(polys) + CELL_BYTES)
    build = "points" if point_bytes < cover_bytes else "cover"
    return build, (f"point side ~{point_bytes} B vs cover {cover_rows} rows = "
                   f"{cover_bytes} B: hash the {build}")


def choose_strategy(points: DataFrame, polys: DataFrame, z: int, *,
                    broadcast_budget_rows: int = 5_000_000) -> JoinPlan:
    """Cover-row budget check, then the broadcast's build side
    (`choose_build`, from the point side's plan estimate: `points` is
    never scanned). A shuffle join hashes the points (`pip_join`)."""
    build_rows = estimate_cover_rows(polys, z)
    if build_rows <= broadcast_budget_rows:
        build, why = choose_build(points, polys, z, cover_rows=build_rows)
        return JoinPlan("broadcast", 1, build_rows,
                        f"cover rows {build_rows} ≤ budget "
                        f"{broadcast_budget_rows}; {why}", build)
    return JoinPlan("shuffle", 1, build_rows,
                    f"cover rows {build_rows} > budget {broadcast_budget_rows}; "
                    "hot cells are split at runtime by AQE skew-join", "points")


def choose_s2_level(polys: DataFrame, *, max_level: int = 12,
                    cover_budget: int = 1_000_000) -> int:
    """Finest s2 level whose estimated bbox-cover stays under budget.

    Cover per box ≈ (w/cell + 2)·(h/cell + 2) with cell = 90°/2^L — a
    conservative per-face upper bound computed as one aggregate (the s2
    analog of GetSizeGrid, split_combine.go:44-53). Finer levels mean
    sharper pruning (fewer false candidates per cell) but multiply the
    exploded build side; the budget caps broadcast/shuffle bytes."""
    row = polys.agg(
        F.count("*").alias("n"),
        F.sum(F.col("maxx") - F.col("minx")).alias("sw"),
        F.sum(F.col("maxy") - F.col("miny")).alias("sh"),
        F.sum((F.col("maxx") - F.col("minx")) * (F.col("maxy") - F.col("miny"))).alias("sa"),
    ).first()
    n, sw, sh, sa = row.n, row.sw or 0.0, row.sh or 0.0, row.sa or 0.0
    best = 0
    for L in range(max_level + 1):
        cell = 90.0 / (1 << L)
        est = sa / (cell * cell) + 2.0 * (sw + sh) / cell + 4.0 * n
        if est > cover_budget:
            break
        best = L
    return best
