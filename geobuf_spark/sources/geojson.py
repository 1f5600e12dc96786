"""GeoJSON ingest — ConvertGeojson (convert_geojson.go:153-166) Spark-first.

Line-delimited GeoJSON (the reference's test_data/ld.geojson shape) maps to
`spark.read.text` + `from_json`: distributed parse, no brace-matching
chunker needed (ReadChunk's 10 MB splitter, convert_geojson.go:45-107, is
an artifact of single-process streaming). A whole-file FeatureCollection is
the driver-edge fallback (json.load → parallelize), like the reference's
one-shot path.

Output rows use the engine's columnar geometry model (codec.spark_codec
GEOM_SCHEMA) and re-encode to geobuf frames with the JVM generic encoder
(spark_codec.encode_features_generic) — the full geojson2geobuf pipeline.
"""

from __future__ import annotations

import json

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geobuf_spark.codec import core
from geobuf_spark.codec.spark_codec import GEOM_SCHEMA


def _feature_to_row(feat: dict) -> dict | None:
    """One GeoJSON feature → GEOM_SCHEMA row; None for null-geometry
    features (legal per RFC 7946 — unlocated records are skipped).

    Ids follow the reference's semantics (write_feature.go:195-209):
    numeric ids pass through (floats truncate), any other type drops the
    id field."""
    g = feat.get("geometry") or {}
    if not g.get("type") or "coordinates" not in g:
        return None
    fid = feat.get("id")
    if not isinstance(fid, (int, float)) or isinstance(fid, bool):
        fid = None
    f = core.Feature.from_geojson(
        g["type"], g["coordinates"], id=fid,
        properties=feat.get("properties") or {},
    )
    return {
        "id": None if f.id is None else int(f.id),
        "geom_type": f.geom_type, "dim": f.dim,
        "coords": f.coords.tolist(), "ring_lens": f.ring_lens.tolist(),
        "part_rings": f.part_rings.tolist(),
        "props_json": json.dumps(f.properties, sort_keys=True),
    }


_ARROW_SCHEMA = pa.schema([
    ("id", pa.int64()),
    ("geom_type", pa.int32()),
    ("dim", pa.int32()),
    ("coords", pa.list_(pa.float64())),
    ("ring_lens", pa.list_(pa.int32())),
    ("part_rings", pa.list_(pa.int32())),
    ("props_json", pa.string()),
])


def read_geojson_lines(spark: SparkSession, path: str) -> DataFrame:
    """Line-delimited GeoJSON file(s) → GEOM_SCHEMA rows (distributed)."""
    lines = spark.read.text(path).filter(F.length(F.trim("value")) > 1)

    def _parse(batches):
        for batch in batches:
            rows = []
            for raw in batch.column(0).to_pylist():
                s = raw.strip().rstrip(",")
                if s in ("", "[", "]", "{", "}"):
                    continue
                row = _feature_to_row(json.loads(s))
                if row is not None:
                    rows.append(row)
            arrays = [
                pa.array([r[name] for r in rows], type=field.type)
                for name, field in zip(_ARROW_SCHEMA.names, _ARROW_SCHEMA)
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=_ARROW_SCHEMA)

    return lines.mapInArrow(_parse, GEOM_SCHEMA)


def read_feature_collection(spark: SparkSession, path: str,
                            parallelism: int = 8) -> DataFrame:
    """Whole-file FeatureCollection → GEOM_SCHEMA rows (driver edge)."""
    with open(path) as f:
        fc = json.load(f)
    rows = [r for r in (_feature_to_row(feat) for feat in fc["features"])
            if r is not None]
    return spark.createDataFrame(rows, GEOM_SCHEMA).repartition(parallelism)


def geojson_to_geobuf(spark: SparkSession, in_path: str, out_path: str,
                      line_delimited: bool = False) -> int:
    """The geojson2geobuf CLI as one job: parse → encode → framed file."""
    from geobuf_spark.codec.spark_codec import encode_features_generic
    from geobuf_spark.sources.geobuf_file import write_geobuf

    df = (read_geojson_lines if line_delimited else read_feature_collection)(spark, in_path)
    return write_geobuf(encode_features_generic(df), out_path)


_GEOM_NAMES = {1: "Point", 2: "LineString", 3: "Polygon",
               4: "MultiPoint", 5: "MultiLineString", 6: "MultiPolygon"}


def _row_to_feature(row) -> dict:
    import numpy as np

    f = core.Feature(
        geom_type=int(row["geom_type"]), dim=int(row["dim"]),
        coords=np.asarray(row["coords"], dtype=np.float64),
        ring_lens=np.asarray(row["ring_lens"], dtype=np.int64),
        part_rings=np.asarray(row["part_rings"], dtype=np.int64),
        id=row["id"],
    )
    out = {
        "type": "Feature",
        "geometry": {"type": _GEOM_NAMES[f.geom_type],
                     "coordinates": f.to_geojson_coords()},
        "properties": json.loads(row["props_json"]) if row["props_json"] else {},
    }
    # pandas renders a nullable bigint as float64 NaN — `is not None` alone
    # lets NaN through and int(NaN) raises
    import pandas as _pd
    if row["id"] is not None and not _pd.isna(row["id"]):
        out["id"] = int(row["id"])
    return out


def features_to_geojson(df: DataFrame, out_col: str = "geojson") -> DataFrame:
    """GEOM_SCHEMA rows → one GeoJSON Feature string per row (distributed).

    The export half of ConvertGeobuf (convert_geojson.go:169-193), minus its
    double-Next() bug — every feature is emitted exactly once."""
    import pandas as pd
    from pyspark.sql import types as T

    def _ser(batches):
        for pdf in batches:
            yield pd.DataFrame({
                out_col: [json.dumps(_row_to_feature(r), sort_keys=True)
                          for r in pdf.to_dict("records")]
            })

    return df.mapInPandas(_ser, T.StructType([T.StructField(out_col, T.StringType())]))


def write_geojson_lines(df: DataFrame, path: str) -> None:
    """Line-delimited GeoJSON sink (the scalable shape — one file per task)."""
    features_to_geojson(df).write.mode("overwrite").text(path)


def geobuf_to_geojson(spark: SparkSession, in_path: str, out_path: str) -> int:
    """The geobuf2geojson CLI as one job: framed geobuf file → decoded rows
    → single FeatureCollection file (driver-edge assembly, matching the
    reference's output shape). Returns the feature count."""
    from geobuf_spark.sources.geobuf_file import decoded_features

    rows = features_to_geojson(decoded_features(spark, in_path)).collect()
    with open(out_path, "w") as f:
        f.write('{"type": "FeatureCollection", "features": [\n')
        for i, r in enumerate(rows):
            f.write(r[0] + (",\n" if i + 1 < len(rows) else "\n"))
        f.write("]}\n")
    return len(rows)
