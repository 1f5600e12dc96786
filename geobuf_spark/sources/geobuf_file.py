"""Geobuf file ingest/export — the ConvertGeojson/ConvertGeobuf edge
(convert_geojson.go:153-193) plus whole-file scan (ReaderFile, reader.go:64-80).

Ingest: `binaryFile` source → the JVM frame splitter gb_frames (codec/
jvm_codec) → posexplode → one row per feature frame (metadata dummy
skipped, reader.go:258-274 semantics). No Python runs in the split. A
geobuf file is a single stream, so splitting is single-task per file;
`repartition` afterwards distributes decode. At scale, many files (the
reference's subfiles) parallelize naturally.

Export: collect frames to the driver and write one framed file — inherently
a single-writer edge, like the reference's Writer (writer.go:43-89); for
distributed export use the partitioned-table sink (operators.tiling).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geobuf_spark.codec import core


def read_geobuf(spark: SparkSession, path: str, repartition: int | None = None) -> DataFrame:
    """Geobuf file(s) → DataFrame of raw frames (path, frame_idx, geobuf).

    The split runs in the JVM: gb_frames(content, true) is the twin of
    core.read_frames, so frame_idx counts the frames after a leading
    metadata dummy is dropped. Raises, naming the jar, when the JVM codec
    cannot be registered."""
    from geobuf_spark.codec import jvm_codec

    jvm_codec.require(spark)
    frames = (spark.read.format("binaryFile").load(path)
              .select("path", F.posexplode(F.expr("gb_frames(content, true)")))
              .select("path", F.col("pos").cast("long").alias("frame_idx"),
                      F.col("col").alias("geobuf")))
    return frames.repartition(repartition) if repartition else frames


def write_geobuf(df: DataFrame, out_path: str, bin_col: str = "geobuf") -> int:
    """Frames → one framed geobuf file (driver-side single-writer edge)."""
    frames = [bytes(r[0]) for r in df.select(bin_col).collect()]
    data = core.write_frames(frames)
    with open(out_path, "wb") as f:
        f.write(data)
    return len(frames)


def decoded_features(spark: SparkSession, path: str,
                     repartition: int | None = None) -> DataFrame:
    """Geobuf file → fully decoded feature rows (GEOM_SCHEMA), in the JVM:
    read_geobuf's gb_frames split, then decode_features_fast (gb_decode;
    reader.go:84-112 scan semantics), with no Python stage in the plan.
    Coords are lattice-exact, properties are parsed only for frames that
    carry them, and bare properties-only frames decode as geom_type 0."""
    from geobuf_spark.codec import spark_codec

    return spark_codec.decode_features_fast(
        read_geobuf(spark, path, repartition), bin_col="geobuf")


def write_geobuf_indexed(df: DataFrame, out_path: str, key_col: str,
                         bin_col: str = "geobuf",
                         num_ranges: int | None = None) -> dict:
    """Splitter.Combine parity (split_combine.go:186-232): one framed file
    physically clustered by key, plus a key → [start, end) byte-range
    index sidecar (`<out>.idx.json` — replacing the Go-gob metadata dummy
    feature with a portable JSON manifest).

    DISTRIBUTED: one `repartitionByRange(key).sortWithinPartitions(key)`
    shuffle clusters frames; every partition streams its own part file +
    local index (range partitioning never splits a key across partitions),
    and the driver only concatenates the part files and offset-shifts the
    indexes — the reference's `cat f1 f2 …` combine (split_combine.go:
    220-225) without materializing frames in driver memory. The final
    single-file concat is the only non-parallel step, exactly as in the
    reference.

    File-edge scope: part files and the final single file live on a
    filesystem shared by driver and executors (posix/NFS/fuse-mounted
    object store) — the same constraint any single-output-file export
    has, reference included. For cluster-native output use the
    partitioned-table sink (operators.tiling.write_tiles) instead."""
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    n_ranges = num_ranges or min(
        32, df.sparkSession.sparkContext.defaultParallelism)
    clustered = (df.select(F.col(key_col).cast("string").alias("_key"), bin_col)
                 .repartitionByRange(n_ranges, "_key")
                 .sortWithinPartitions("_key"))

    tmpdir = out_path + ".parts"
    os.makedirs(tmpdir, exist_ok=True)
    res_schema = T.StructType([
        T.StructField("pid", T.IntegerType()),
        T.StructField("path", T.StringType()),
        T.StructField("nbytes", T.LongType()),
        T.StructField("index_json", T.StringType()),
    ])

    def _write(batches):
        import json as _json

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        os.makedirs(tmpdir, exist_ok=True)  # executor-side (shared FS)
        path = os.path.join(tmpdir, f"part-{pid:05d}")
        # attempt-unique temp + atomic rename: a speculative or retried
        # attempt must never interleave bytes into a part another attempt
        # (or the driver concat) is touching — last finished attempt wins
        # whole-file
        attempt = os.path.join(tmpdir, f"part-{pid:05d}.attempt-{ctx.taskAttemptId()}")
        index: dict = {}
        pos = 0
        with open(attempt, "wb") as f:
            for batch in batches:
                keys = batch.column(0).to_pylist()
                frames = batch.column(1)
                if not keys:
                    continue
                # key runs (sorted within partition): one framing + write
                # call per RUN, not per feature
                runs = [0] + [i for i in range(1, len(keys))
                              if keys[i] != keys[i - 1]] + [len(keys)]
                for a, b in zip(runs[:-1], runs[1:]):
                    data = core.write_frames(
                        [frames[i].as_py() for i in range(a, b)])
                    f.write(data)
                    ent = index.setdefault(
                        keys[a], {"positions": [pos, pos],
                                  "number_features": 0, "size": 0})
                    pos += len(data)
                    ent["positions"][1] = pos
                    ent["size"] = pos - ent["positions"][0]
                    ent["number_features"] += b - a
        if pos == 0:
            os.remove(attempt)
            return
        os.replace(attempt, path)
        yield pa.RecordBatch.from_arrays(
            [pa.array([pid], type=pa.int32()), pa.array([path]),
             pa.array([pos], type=pa.int64()),
             pa.array([_json.dumps(index)])],
            names=["pid", "path", "nbytes", "index_json"])

    results = sorted(clustered.mapInArrow(_write, res_schema).collect(),
                     key=lambda r: r.pid)

    index: dict = {}
    pos = 0
    with open(out_path, "wb") as out:
        for r in results:
            before = out.tell()
            with open(r.path, "rb") as f:
                shutil.copyfileobj(f, out)
            if out.tell() - before != r.nbytes:
                raise IOError(
                    f"part {r.pid}: concatenated {out.tell() - before} bytes "
                    f"but the task reported {r.nbytes} — part file changed "
                    "between task completion and the driver concat")
            for k, ent in json.loads(r.index_json).items():
                if k in index:  # range partitioning keeps keys whole
                    raise ValueError(f"key {k!r} split across partitions")
                s, e = ent["positions"]
                index[k] = {"positions": [pos + s, pos + e],
                            "number_features": ent["number_features"],
                            "size": ent["size"]}
            pos += r.nbytes
    shutil.rmtree(tmpdir, ignore_errors=True)
    meta = {"file_size": pos, "number_features": sum(
        v["number_features"] for v in index.values()), "files": index}
    with open(out_path + ".idx.json", "w") as f:
        json.dump(meta, f)
    return meta


def read_geobuf_subfile(spark: SparkSession, path: str, key: str) -> DataFrame:
    """SubFileSeek/SubFileNext/SubFileBytes parity (reader.go:278-304):
    seek directly to one key's byte range — bytes outside it are never
    read — and scan only its frames."""
    import json

    with open(path + ".idx.json") as f:
        meta = json.load(f)
    ent = meta["files"].get(key)
    if ent is None:
        return spark.createDataFrame(
            [], T.StructType([T.StructField("frame_idx", T.LongType()),
                              T.StructField("geobuf", T.BinaryType())]))
    start, end = ent["positions"]
    with open(path, "rb") as f:
        f.seek(start)
        blob = f.read(end - start)
    # mid-file ranges written by write_geobuf_indexed never contain the
    # metadata dummy — skip the sniff so a user feature whose only
    # property is named "metadata" is not silently dropped
    frames = [(i, bytearray(fr))
              for i, fr in enumerate(core.read_frames(blob, skip_metadata=False))]
    return spark.createDataFrame(frames, "frame_idx bigint, geobuf binary")
