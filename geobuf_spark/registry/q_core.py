"""Registry family: flagship pipeline entry (geobuf encode + PIP join + tile assign).

Split out of the former __spark_entry__.py monolith (VERDICT r4 #2);
query functions keep their original text, oracles sit beside them in
this module's oracles(). Driver-window ORDER lives in window.py, not here.
"""
from __future__ import annotations
from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from geobuf_spark.codec import spark_codec
from geobuf_spark.functions import text as TXT
from geobuf_spark.functions import geom, hexgrid, phash, tiles
from geobuf_spark.operators import dedup, knn, ranking, similarity, sketch
from geobuf_spark.operators import spatial_join as sj
from geobuf_spark.operators import tiling
from geobuf_spark.sources import minted, pages
from geobuf_spark.streaming import windows as W
from ._shared import *  # noqa: F401,F403


SF_SMALL = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship pipeline on sf0.001: mint points from documents → encode to
    geobuf (JVM gb_point_enc) → decode back (exact integer path) →
    cell-indexed PIP join against minted rectangles → tile assignment at
    z=8 → per-tile feature counts. Exercises codec + join + tiling in one
    plan."""
    pts = minted.minted_points(spark, SF_SMALL)
    enc = spark_codec.encode_points(pts)
    dec = spark_codec.decode_points(enc)
    pts2 = dec.select(
        F.col("id").alias("doc_id"),
        (F.col("lon_q") / 1e7).alias("lon"),
        (F.col("lat_q") / 1e7).alias("lat"),
    )
    rects = minted.minted_rects(spark, SF_SMALL)
    joined = sj.pip_join(pts2, rects, z=6, strategy="broadcast")
    assigned = tiling.assign_tiles_points(joined, z=8)
    return (
        assigned.groupBy("z", "x", "y")
        .agg(F.count("*").alias("n_features"), F.countDistinct("poly_id").alias("n_polys"))
        .orderBy("z", "x", "y")
    )
