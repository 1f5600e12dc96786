"""The two benchmark workloads. Each builds its inputs from the seed, runs
ops through public geobuf_spark functions only, checks every call's output
outside its timed interval, and, when traced, replays each op as its
sequence of layer calls with every lazy layer materialized in its own span.

A workload's op is one closed-loop round of checked calls:
  flagship     1 call : mint pages -> codec round trip -> PIP join -> tiles -> collect
  roads_scan   3 calls: decode, bbox, jvm scans of the same framed files
After its loop, a traced flagship run also times the write side once
(TileCommit: run_job, its traced replay, tile lookups), and a traced
roads_scan run one pass over the iterative graph registry queries
(GraphPass), as layer spans of their own.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from harness import Loop, Tracer, median, now, tail

SIZES = {
    "full": {
        "flagship": {"pages": 50_000, "rects": 20_000, "join_z": 7, "tile_z": 9,
                     "commit": {"pages": 1_500, "zoom": 3, "lookups": 8}},
        "roads_scan": {"lines": 40_000, "files": 64, "min_v": 32, "max_v": 48},
    },
    "smoke": {
        "flagship": {"pages": 2_000, "rects": 500, "join_z": 5, "tile_z": 7,
                     "commit": {"pages": 300, "zoom": 4, "lookups": 2}},
        "roads_scan": {"lines": 2_000, "files": 4, "min_v": 4, "max_v": 8},
    },
}

GRAPH_QUERIES = ("pagerank_hosts", "hits_hosts", "ppr_hosts")


def _rm(path) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _write_parts(spark, sf_dir: Path, n: int, seed: int) -> None:
    """A `part` table of n seeded keys: minted_rects draws each rectangle
    from its key, so the seed picks the build side of the join. The keys are
    a sample, not a run: consecutive keys mint centres along one narrow
    strip, and the strip's position moved the join output by up to 1.8x
    between seeds."""
    keys = np.random.default_rng([seed, 7]).choice(10_000_000, n, replace=False) + 1
    (spark.createDataFrame(pa.table({"p_partkey": keys.astype(np.int64)}))
     .coalesce(1).write.mode("overwrite").parquet(str(sf_dir / "part.parquet")))


def _hist_checksum(rows) -> tuple[int, int, int]:
    """(tiles, sum of counts, xor of per-tile hashes) of a tile histogram."""
    x = 0
    for r in rows:
        x ^= hash((r["z"], r["x"], r["y"], r["n_features"]))
    return len(rows), sum(r["n_features"] for r in rows), x


def _expect(got, want, what: str) -> None:
    if got != want:
        raise AssertionError(f"{what}: got {got!r}, want {want!r}")


def _dir_files(path: Path) -> tuple[int, int]:
    """(data files, bytes) under path, ignoring Spark's marker files."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


class Workload:
    name = ""
    warm_ops = 3  # untimed ops in set-up

    def __init__(self, spark, work: Path, seed: int, size: dict, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.traced_run = tracer.enabled
        self.extra: dict = {}  # facts for the result header

    def build_inputs(self) -> None:
        """Generate inputs and goldens; repeated to time set-up."""

    def warm_up(self, loop: Loop) -> None:
        """Untimed ops: the first pays Python-worker fork, JIT and codegen,
        the rest let the JIT settle. After one warm-up op the first timed op
        still ran ~20% slower than the rest; after two, op times still fell
        ~10% over the first few timed ops."""
        for i in range(self.warm_ops):
            self.op(loop, f"warmup{i}", traced=False)

    def op(self, loop: Loop, op: str, traced: bool) -> None:
        raise NotImplementedError

    def after_run(self, loop: Loop) -> None:
        """Untimed counts a traced run reports beside its spans."""

    def report(self, loop: Loop) -> dict:
        """Named end-to-end metrics for this workload: name -> (value, unit)."""
        return {}

    def layers(self, loop: Loop) -> dict:
        """Per-layer metrics from the traced ops: name -> value."""
        return {}

    def _self_s(self, name: str) -> float:
        return median(self.tracer.layer_self_s(name))


class Flagship(Workload):
    """pages -> mint -> geobuf round trip -> broadcast PIP join -> tiles."""
    name = "flagship"

    def build_inputs(self):
        from geobuf_spark.operators import spatial_join as sj
        from geobuf_spark.operators import tiling
        from geobuf_spark.sources import minted

        s = self.size
        self.sf = self.work / "sf"
        _write_parts(self.spark, self.sf, s["rects"], self.seed)
        # golden: the same pipeline without the codec. The encoder truncates
        # x * 1e7 toward zero (core.quantize_vec), and a minted coordinate can
        # sit just below its lattice point, so the round trip can move a
        # point by one unit across a tile edge (seed 410 did). The golden
        # applies the same truncation in Spark arithmetic.
        def q(c):
            return ((F.col(c) * 1e7).cast("long") / 1e7).alias(c)
        pts = self._points().select(F.col("page_id").alias("doc_id"), q("lon"), q("lat"))
        rects = minted.minted_rects(self.spark, str(self.sf))
        joined = sj.pip_join(pts, rects, z=s["join_z"], strategy="broadcast")
        rows = tiling.tile_histogram(
            tiling.assign_tiles_points(joined, z=s["tile_z"])).collect()
        self.golden = _hist_checksum(rows)

    def _points(self):
        from geobuf_spark.sources import pages
        return pages.with_minted_geometry(
            pages.pages(self.spark, self.size["pages"], seed=self.seed)
        ).select("page_id", "lon", "lat")

    def _decoded(self, p):
        from geobuf_spark.codec import spark_codec
        return spark_codec.roundtrip_points(p, id_col="page_id").select(
            F.col("page_id").alias("doc_id"),
            (F.col("lon_q") / 1e7).alias("lon"),
            (F.col("lat_q") / 1e7).alias("lat"))

    def _rects(self):
        from geobuf_spark.sources import minted
        return minted.minted_rects(self.spark, str(self.sf))

    def _run(self):
        from geobuf_spark.operators import spatial_join as sj
        from geobuf_spark.operators import tiling

        s = self.size
        joined = sj.pip_join(self._decoded(self._points()), self._rects(),
                             z=s["join_z"], strategy="broadcast")
        return tiling.tile_histogram(
            tiling.assign_tiles_points(joined, z=s["tile_z"])).collect()

    def _run_traced(self, op):
        from geobuf_spark.operators import spatial_join as sj
        from geobuf_spark.operators import tiling
        from geobuf_spark.functions import tiles

        s, t = self.size, self.tracer
        with t.span("sources.pages", op):
            p = self._points().localCheckpoint(eager=True)
        with t.span("codec.spark_codec", op):
            pts = self._decoded(p).localCheckpoint(eager=True)
        with t.span("functions.tiles", op):
            tiles.explode_bbox_cover(self._rects(), s["join_z"]).localCheckpoint(eager=True)
        with t.span("operators.spatial_join", op):
            joined = sj.pip_join(pts, self._rects(), z=s["join_z"],
                                 strategy="broadcast").localCheckpoint(eager=True)
        with t.span("operators.tiling", op):
            return tiling.tile_histogram(
                tiling.assign_tiles_points(joined, z=s["tile_z"])).collect()

    def op(self, loop, op, traced):
        fn = (lambda: self._run_traced(op)) if traced else self._run
        loop.call(op, "flagship", fn,
                  lambda rows: _expect(_hist_checksum(rows), self.golden, "histogram"),
                  items=self.size["pages"])

    def after_run(self, loop):
        from geobuf_spark.codec import spark_codec
        from geobuf_spark.functions import tiles
        from geobuf_spark.operators import spatial_join as sj

        s = self.size
        pts = self._points().select(F.col("page_id").alias("doc_id"), "lon", "lat")
        self.cover_rows = tiles.explode_bbox_cover(self._rects(), s["join_z"]).count()
        self.candidates = sj.pip_join(pts, self._rects(), z=s["join_z"],
                                      refine=F.lit(True)).count()
        self.output_rows = sj.pip_join(pts, self._rects(), z=s["join_z"]).count()
        frames = spark_codec.encode_points(pts)
        self.frame_bytes = frames.agg(F.sum(F.length("geobuf"))).first()[0]
        # the write side, under a tracer of its own so that its
        # pages/codec/join spans do not mix with the flagship's
        self.commit = TileCommit(self.spark, self.work, self.seed, s["commit"], Tracer(True))
        self.commit.run(loop, self.sf)
        self.extra["job_metrics"] = self.commit.job_metrics
        self.extra["commit"] = self.commit.extra
        self.extra["commit_spans"] = {"spans": self.commit.tracer.spans,
                                      "self_s": self.commit.tracer.self_times()}

    def report(self, loop):
        named = {"features_per_s": (self.size["pages"] / median(loop.walls("flagship")),
                                    "pages/s")}
        if self.traced_run:
            named.update(self.commit.report(loop))
        return named

    def layers(self, loop):
        n = self.size["pages"]
        return {
            "sources.pages.busy_s": self._self_s("sources.pages"),
            "sources.pages.rows": n,
            "codec.spark_codec.roundtrip_s": self._self_s("codec.spark_codec"),
            "codec.frame_bytes_per_feature": self.frame_bytes / n,
            "functions.tiles.cover_s": self._self_s("functions.tiles"),
            "functions.tiles.cover_rows": self.cover_rows,
            "operators.spatial_join.probe_s": self._self_s("operators.spatial_join"),
            "operators.spatial_join.candidate_pairs": self.candidates,
            "operators.spatial_join.output_rows": self.output_rows,
            "operators.spatial_join.refine_yield": self.output_rows / self.candidates,
            "operators.tiling.busy_s": self._self_s("operators.tiling"),
            "operators.tiling.tiles": self.golden[0],
            **self.commit.layers(),
        }


def _coord(q: np.ndarray) -> np.ndarray:
    """Degrees whose encoding quantizes back to the integer q: the encoder
    truncates toward zero (core.quantize_vec), so q sits half a unit away
    from zero, where no rounding error can move it to a neighbour."""
    return (q + np.sign(q) * 0.5) / 1e7


class RoadsScan(Workload):
    """64 framed .geobuf subfiles of roads-shape LineStrings, scanned three
    ways: full Arrow decode, lazy bbox read, JVM decode."""
    name = "roads_scan"

    def _lines(self):
        """Seeded roads-shape lines: (line_id, coords) as an Arrow table, and
        the goldens a correct scan must reproduce."""
        s = self.size
        rng = np.random.default_rng([self.seed, 2026])
        n = s["lines"]
        nv = rng.integers(s["min_v"], s["max_v"] + 1, n)
        offs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(nv, out=offs[1:])
        total = int(offs[-1])
        j = np.arange(total) - np.repeat(offs[:-1], nv)
        xs = (np.repeat(rng.integers(-1_500_000_000, 1_500_000_000, n), nv)
              + j * 1000 + rng.integers(-1000, 1000, total))
        ys = (np.repeat(rng.integers(-750_000_000, 750_000_000, n), nv)
              + j * 800 + rng.integers(-800, 800, total))
        starts = offs[:-1]
        bbox = (np.minimum.reduceat(xs, starts) + np.minimum.reduceat(ys, starts)
                + np.maximum.reduceat(xs, starts) + np.maximum.reduceat(ys, starts))
        golden = {"n": n, "size": 2 * total, "first_x": int(xs[starts].sum()),
                  "bbox": int(bbox.sum())}
        coords = np.empty(2 * total)
        coords[0::2], coords[1::2] = _coord(xs), _coord(ys)
        table = pa.table({
            "line_id": pa.array(np.arange(n, dtype=np.int64)),
            "coords": pa.ListArray.from_arrays(pa.array(2 * offs.astype(np.int32)),
                                               pa.array(coords)),
        })
        return table, golden

    def build_inputs(self):
        from geobuf_spark.codec import core, spark_codec

        table, self.golden = self._lines()
        self.n = self.golden["n"]
        feats = self.spark.createDataFrame(table)
        gdir = self.work / "roads" / "geobuf"
        _rm(gdir)
        gdir.mkdir(parents=True)
        out = str(gdir)
        # the files are set-up scaffolding: frames are encoded by the engine,
        # then striped over the subfiles from the driver
        frames = spark_codec.encode_lines(feats).toArrow().column("geobuf").to_pylist()
        _expect(len(frames), self.n, "frames encoded")
        k = self.size["files"]
        for i in range(k):
            with open(f"{out}/part-{i:04d}.geobuf", "wb") as f:
                f.write(core.write_frames(frames[i::k]))
        self.gdir = out
        self.bytes_read = sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out))
        if self.traced_run:
            jdir = self.work / "roads" / "json"
            half = F.sequence(F.lit(0), (F.size("coords") / 2).cast("int") - 1)
            pairs = F.transform(half, lambda i: F.array(
                F.element_at("coords", 2 * i + 1), F.element_at("coords", 2 * i + 2)))
            geom = F.struct(F.lit("LineString").alias("type"), pairs.alias("coordinates"))
            (feats.select(F.to_json(F.struct(
                F.lit("Feature").alias("type"), F.col("line_id").alias("id"),
                geom.alias("geometry"))).alias("value"))
             .repartition(self.size["files"]).write.mode("overwrite").text(str(jdir)))
            self.jdir = str(jdir)
            self.json_bytes = _dir_files(jdir)[1]

    # -- the three scans; each returns one aggregate row ----------------------
    def _decode_agg(self, frames=None):
        from geobuf_spark.codec import spark_codec
        from geobuf_spark.sources import geobuf_file

        df = (geobuf_file.decoded_features(self.spark, self.gdir) if frames is None
              else spark_codec.decode_features_fast(frames, bin_col="geobuf"))
        # float coords follow the reference's go_round7 and may sit one unit
        # off the lattice, so the decode check stops at sizes
        return df.agg(F.count("*"), F.sum(F.size("coords"))).first()

    def _bbox_agg(self, frames):
        from geobuf_spark.codec import spark_codec
        b = spark_codec.frame_bbox(frames)
        return b.agg(F.count("w_q"), F.sum(F.col("w_q") + F.col("s_q")
                                           + F.col("e_q") + F.col("n_q"))).first()

    def _jvm_agg(self):
        from geobuf_spark.codec import jvm_codec
        s = F.expr("gb_line_stats(geobuf)")
        df = jvm_codec.read_geobuf_files_jvm(self.spark, self.gdir)
        return df.select(s.alias("s")).agg(
            F.count("*"), F.sum(F.element_at("s", 2)), F.sum(F.element_at("s", 3))).first()

    def _frames(self):
        from geobuf_spark.sources import geobuf_file
        return geobuf_file.read_geobuf(self.spark, self.gdir)

    def op(self, loop, op, traced):
        g, t = self.golden, self.tracer
        full = (g["n"], g["size"], g["first_x"])

        def decode():
            if not traced:
                return self._decode_agg()
            with t.span("sources.geobuf_file", op):
                frames = self._frames().localCheckpoint(eager=True)
            with t.span("codec.spark_codec.decode", op):
                return self._decode_agg(frames)

        def bbox():
            if not traced:
                return self._bbox_agg(self._frames())
            with t.span("sources.geobuf_file", op):
                frames = self._frames().localCheckpoint(eager=True)
            with t.span("codec.spark_codec.bbox", op):
                return self._bbox_agg(frames)

        def jvm():
            if not traced:
                return self._jvm_agg()
            with t.span("codec.jvm_codec", op):
                return self._jvm_agg()

        loop.call(op, "decode", decode,
                  lambda r: _expect(tuple(r), (g["n"], g["size"]), "decode"), self.n)
        loop.call(op, "bbox", bbox,
                  lambda r: _expect(tuple(r), (g["n"], g["bbox"]), "bbox"), self.n)
        loop.call(op, "jvm", jvm, lambda r: _expect(tuple(r), full, "jvm"), self.n)

    def after_run(self, loop):
        self.frame_bytes = self._frames().agg(F.sum(F.length("geobuf"))).first()[0]
        schema = ("type string, id bigint, "
                  "geometry struct<type string, coordinates array<array<double>>>")
        times = []
        for _ in range(3):
            t0 = now()
            with self.tracer.span("reference.from_json", "reference"):
                parsed = self.spark.read.text(self.jdir).select(
                    F.from_json("value", schema).alias("f"))
                r = parsed.agg(F.count("*"), F.sum(2 * F.size("f.geometry.coordinates"))).first()
            times.append(now() - t0)
            _expect(tuple(r), (self.golden["n"], self.golden["size"]), "from_json")
        self.from_json_s = median(times)
        graph = GraphPass(self.spark, self.work)
        graph.warm_up(loop)
        self.tracer.enabled = True
        graph.run(loop, self.tracer)
        self.tracer.enabled = False

    def _per_s(self, loop, kind):
        return self.n / median(loop.walls(kind))

    def report(self, loop):
        named = {
            "decode_features_per_s": (self._per_s(loop, "decode"), "lines/s"),
            "bbox_features_per_s": (self._per_s(loop, "bbox"), "lines/s"),
            "jvm_features_per_s": (self._per_s(loop, "jvm"), "lines/s"),
        }
        if self.traced_run:  # the graph pass ran after the loop
            named["pass_s"] = (sum(median(loop.walls(n)) for n in GRAPH_QUERIES), "s")
        return named

    def layers(self, loop):
        n = self.n
        return {
            "codec.spark_codec.decode_ns_per_feature":
                1e9 * self._self_s("codec.spark_codec.decode") / n,
            "codec.spark_codec.bbox_ns_per_feature":
                1e9 * self._self_s("codec.spark_codec.bbox") / n,
            "codec.frame_bytes_per_feature": self.frame_bytes / n,
            "codec.jvm_codec.ns_per_feature": 1e9 * self._self_s("codec.jvm_codec") / n,
            "sources.geobuf_file.split_s": self._self_s("sources.geobuf_file"),
            "sources.geobuf_file.frames": n,
            "sources.geobuf_file.bytes_read": self.bytes_read,
            "reference.from_json_ns_per_feature": 1e9 * self.from_json_s / n,
            "reference.json_bytes_per_feature": self.json_bytes / n,
            **{f"registry.{q}_s": self._self_s(f"registry.{q}") for q in GRAPH_QUERIES},
        }


class TileCommit(Workload):
    """The write side, timed once after a traced flagship loop: the
    production tile job (jobs.tile_pages.run_job) committing a partitioned
    table, its replay with a span per stage, then tile lookups against what
    the replay committed."""

    def run(self, loop: Loop, sf: Path) -> None:
        """sf holds the flagship's seeded `part` table, which picks the
        rectangles here too."""
        self.sf = sf
        self.golden = None  # lineage of the untraced run_job
        self.commits: list[dict] = []
        self.job_metrics: list[dict] = []
        self.op(loop, "commit-job", traced=False, lookups=1)
        self.op(loop, "commit-replay", traced=True)

    def _lineage(self, out: Path, run_id: str) -> list[tuple]:
        rows = self.spark.read.parquet(str(out / "_lineage" / f"run_id={run_id}")).collect()
        return sorted((r["z"], r["x"], r["y"], r["n_rows"], r["content_xor"]) for r in rows)

    def _job(self, out: Path, run_id: str):
        from geobuf_spark.jobs import tile_pages
        return tile_pages.run_job(self.spark, self.size["pages"], str(self.sf),
                                  str(out), self.size["zoom"], run_id)

    def _job_traced(self, out: Path, run_id: str, op: str):
        """run_job's stages as separate calls, each materialized in its span."""
        from geobuf_spark.codec import spark_codec
        from geobuf_spark.operators import spatial_join as sj
        from geobuf_spark.operators import tiling
        from geobuf_spark.ops import lineage
        from geobuf_spark.plans import strategy
        from geobuf_spark.sources import minted, pages

        t, zoom, n = self.tracer, self.size["zoom"], self.size["pages"]
        with t.span("sources.pages", op):
            p = pages.with_minted_geometry(pages.pages(self.spark, n)).select(
                "page_id", "lon", "lat").localCheckpoint(eager=True)
        with t.span("codec.spark_codec", op):
            pts = spark_codec.roundtrip_points(p, id_col="page_id").select(
                F.col("page_id").alias("doc_id"),
                (F.col("lon_q") / 1e7).alias("lon"),
                (F.col("lat_q") / 1e7).alias("lat")).localCheckpoint(eager=True)
        with t.span("plans.strategy", op):
            rects = minted.minted_rects(self.spark, str(self.sf))
            plan = strategy.choose_strategy(pts, rects, z=zoom - 2)
        with t.span("operators.spatial_join", op):
            joined = sj.pip_join(pts, rects, z=zoom - 2, strategy=plan.strategy,
                                 salt=plan.salt).localCheckpoint(eager=False)
            n_joined = joined.count()
        with t.span("ops.lineage", op):
            assigned = tiling.assign_tiles_points(joined, z=zoom).select(
                "doc_id", "poly_id", "lon", "lat", "z", "x", "y")
            entry = lineage.commit_output(assigned, str(out), run_id=run_id,
                                          partition_cols=["z", "x", "y"],
                                          lineage_key="doc_id")
        self.extra["strategy"] = plan.strategy
        return {"commit": entry, "join_plan": plan.reason, "rows_joined": n_joined}

    def _check_job(self, res, out: Path, run_id: str, traced: bool):
        from geobuf_spark.ops import lineage

        entries = [e for e in lineage.read_manifest(str(out)) if e.get("status") == "committed"]
        _expect(len(entries), 1, "committed manifest entries")
        lin = self._lineage(out, run_id)
        committed = self.spark.read.parquet(str(out / "data")).count()
        _expect(sum(r[3] for r in lin), res["rows_joined"], "lineage rows vs rows_joined")
        _expect(committed, res["rows_joined"], "committed rows vs rows_joined")
        if self.golden is None:
            self.golden = lin
        _expect(lin, self.golden, "lineage vs run_job lineage")
        files, size = _dir_files(out / "data")
        self.commits.append({"rows": committed, "files": files, "bytes": size,
                             "partitions": len(lin)})
        if not traced:  # run_job's own stage metrics, kept beside the spans
            self.job_metrics = [r.asDict() for r in
                                self.spark.read.parquet(str(out / "_metrics")).collect()]

    def op(self, loop, op, traced, lookups=None):
        from geobuf_spark.operators import tiling

        out = self.work / "tiles" / op
        run_id = f"s{self.seed}-{op}"
        _rm(out)
        res = loop.call(
            op, "job",
            (lambda: self._job_traced(out, run_id, op)) if traced
            else (lambda: self._job(out, run_id)),
            lambda r: self._check_job(r, out, run_id, traced), items=0)
        if not loop.calls[-1].ok:
            _rm(out)
            return
        loop.calls[-1].items = res["rows_joined"]
        self.extra["join_plan"] = res["join_plan"]
        rng = random.Random(f"{self.seed}-{op}")
        data = str(out / "data")
        for z, x, y, n_rows, _ in rng.choices(self.golden, k=lookups or self.size["lookups"]):
            def lookup(z=z, x=x, y=y):
                with self.tracer.span("operators.tiling", op):
                    return tiling.read_tile(self.spark, data, z, x, y).count()
            loop.call(op, "lookup", lookup,
                      lambda c, n_rows=n_rows: _expect(c, n_rows, "tile rows"), items=n_rows)
        _rm(out)

    def report(self, loop):
        """Header metrics: the commit rate of the untraced run_job, and the
        lookups against what the replay committed."""
        job = next(c for c in loop.calls if c.op == "commit-job" and c.kind == "job")
        lookups = [c.wall_s for c in loop.calls
                   if c.op == "commit-replay" and c.kind == "lookup" and c.ok]
        t, pct = tail(lookups)
        self.extra["lookup_tail_percentile"] = pct
        last = self.commits[-1]
        return {
            "commit_rows_per_s": (job.items / job.wall_s, "rows/s"),
            "stored_bytes_per_row": (last["bytes"] / last["rows"], "B"),
            "lookup_p50_ms": (median(lookups) * 1e3, "ms"),
            "lookup_tail_ms": (t * 1e3 if pct else None, "ms"),
        }

    def layers(self):
        last = self.commits[-1]
        return {
            "plans.strategy.busy_s": self._self_s("plans.strategy"),
            "ops.lineage.commit_s": self._self_s("ops.lineage"),
            "ops.lineage.files_written": last["files"],
            "ops.lineage.bytes_written": last["bytes"],
            "ops.lineage.rows_per_file": last["rows"] / last["files"],
            "ops.lineage.partitions": last["partitions"],
        }


class GraphPass:
    """One pass over the iterative host-graph registry queries, each forced by
    an xxhash64 bit_xor over all its output columns. Their inputs are fixed
    registry fixtures, so the seed selects nothing here. Measured in traced
    roads_scan runs only, as layer spans."""

    def __init__(self, spark, work: Path):
        import __spark_entry__ as em
        self.spark = spark
        self.work = work
        self.queries = {n: em.queries()[n] for n in GRAPH_QUERIES}
        self.oracles = em.oracle_sql()
        self.golden: dict = {}

    def _hash(self, df):
        cols = ", ".join(f"`{c}`" for c in df.columns)
        return tuple(df.agg(F.expr(f"bit_xor(xxhash64({cols}))"), F.count("*")).first())

    def _oracle_rows(self, name: str) -> list:
        """DuckDB oracle rows, cached in the work area by SQL text and DuckDB
        version: the oracle is a pure function of both."""
        import duckdb
        sql = self.oracles[name]
        key = hashlib.sha256(f"{duckdb.__version__}\n{sql}".encode()).hexdigest()[:24]
        cache = self.work.parent / "cache" / f"oracle-{name}-{key}.json"
        if cache.exists():
            return json.loads(cache.read_text())
        con = duckdb.connect()
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = [dict(zip(cols, r)) for r in cur.fetchall()]
        finally:
            con.close()
        cache.parent.mkdir(parents=True, exist_ok=True)
        tmp = cache.with_suffix(f".tmp{os.getpid()}")
        tmp.write_text(json.dumps(rows))
        os.replace(tmp, cache)
        return rows

    def warm_up(self, loop: Loop):
        """Run each query once, materialized; check its rows against the DuckDB
        oracle and keep its hash as the golden for the timed pass."""
        def canon(rows):
            return sorted(tuple(sorted(r.items())) for r in rows)

        for name, q in self.queries.items():
            def run(q=q):
                df = q(self.spark, str(self.work)).localCheckpoint(eager=True)
                return df, [r.asDict() for r in df.collect()]

            def check(out, name=name):
                df, rows = out
                _expect(canon(rows), canon(self._oracle_rows(name)),
                        f"{name} vs DuckDB oracle")
                self.golden[name] = self._hash(df)

            loop.call("registry-warmup", name, run, check, items=1)

    def run(self, loop: Loop, tracer: Tracer):
        for name, q in self.queries.items():
            def run(q=q, name=name):
                with tracer.span(f"registry.{name}", "registry"):
                    return self._hash(q(self.spark, str(self.work)))
            loop.call("registry", name, run,
                      lambda h, name=name: _expect(h, self.golden.get(name), name), items=1)


WORKLOADS = {w.name: w for w in (Flagship, RoadsScan)}
