"""Join-strategy planning (SURVEY §2.5/§4 custom policies).

The reference has no strategy selection — hot tiles just make big subfiles.
Here the policy is explicit and recorded:

- `choose_strategy`: broadcast when the exploded build side fits the
  broadcast budget, else shuffle. Hot cells are not planned for: AQE
  skew-join (`spark.sql.adaptive.skewJoin.enabled`, set by `session.py`)
  splits an oversized shuffle partition at runtime, so the plan never
  scans the probe side.

The budget check runs on one build-side aggregate, never on raw rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geobuf_spark.functions import tiles


@dataclass
class JoinPlan:
    strategy: str  # broadcast | shuffle
    salt: int  # always 1: skewed cells are split by AQE skew-join
    build_rows: int
    reason: str


def estimate_cover_rows(polys: DataFrame, z: int) -> int:
    """Exploded build-side size without exploding: Σ tiles-per-bbox —
    GetSizeGrid's fan-out estimate (split_combine.go:44-53) done exactly.
    The x run is the length of the one `explode_bbox_cover` explodes
    (wrapped at the antimeridian)."""
    xs = tiles.sql_cover_width("minx", "maxx", z)
    ys = (f"({tiles.spark_tile_y('miny', z)} - "
          f"{tiles.spark_tile_y('maxy', z)} + 1)")
    return polys.selectExpr(f"sum(CAST({xs} AS BIGINT) * {ys})").first()[0] or 0


def choose_strategy(points: DataFrame, polys: DataFrame, z: int, *,
                    broadcast_budget_rows: int = 5_000_000) -> JoinPlan:
    """Cover-row budget check. `points` stays in the signature for callers
    and is never read."""
    build_rows = estimate_cover_rows(polys, z)
    if build_rows <= broadcast_budget_rows:
        return JoinPlan("broadcast", 1, build_rows,
                        f"cover rows {build_rows} ≤ budget {broadcast_budget_rows}")
    return JoinPlan("shuffle", 1, build_rows,
                    f"cover rows {build_rows} > budget {broadcast_budget_rows}; "
                    "hot cells are split at runtime by AQE skew-join")


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
