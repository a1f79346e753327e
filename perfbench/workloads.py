"""The benchmark workloads: their Spark operations, output checks and traced
layer probes.

Each workload calls only the engine's public functions. One repetition
(:meth:`Workload.rep`) is one or two operations issued back to back by a
single closed-loop client; every operation's output is checked against the
reference from :mod:`perfbench.reference`.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmgraft.checkpoint import Checkpointer
from osmgraft.functions import tiles
from osmgraft.functions.cells import h3_cell_udf
from osmgraft.functions.h3real import latlng_to_cell
from osmgraft.geom import STRTree, pnpoly, polygon_bbox, polygon_edges
from osmgraft.operators.knn import knn_join
from osmgraft.operators.pip import pip_join
from osmgraft.synth import points_projection
from perfbench.inputs import H3_RES, KNN_K, KNN_POINTS, KNN_QUERIES, TILE_ZOOM, Inputs, caption_col
from perfbench.spans import Tracer

PROBE_REPS = 3  # each traced probe is timed this many times; the median is reported


@dataclass
class Op:
    kind: str  # "op" (counted in rows_per_s) or "resume"
    wall: float  # seconds, input to complete collected result
    out: Any
    span: str | None = None
    extra: dict = field(default_factory=dict)


def run_op(tracer: Tracer, kind: str, build: Callable[[], Any], action: Callable[[Any], Any]) -> Op:
    """Time ``action(build())``; in a traced run record an op span with
    ``plan`` and ``action`` children and tag its Spark jobs."""
    with tracer.span(kind, tag=True) as sid:
        t0 = time.perf_counter()
        with tracer.span("plan", sid):
            plan = build()
        with tracer.span("action", sid):
            out = action(plan)
        wall = time.perf_counter() - t0
    return Op(kind, wall, out, sid)


def points_df(spark: SparkSession, key0: int, n: int, parts: int) -> DataFrame:
    keys = spark.range(key0, key0 + n, 1, parts).select(F.col("id").alias("o_orderkey"))
    return points_projection(keys)


def _collect(df: DataFrame) -> pa.Table:
    return df.toArrow()


def _median_time(fn: Callable[[], Any]) -> float:
    walls = []
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def same_rows(got: dict[str, np.ndarray], ref: dict[str, np.ndarray], names: tuple[str, ...]) -> bool:
    """Multiset equality of rows over ``names``; ``ref`` holds ``ref.<name>``."""
    want = {n: ref[f"ref.{n}"] for n in names}
    if len({len(got[n]) for n in names} | {len(want[n]) for n in names}) != 1:
        return False

    def canonical(cols):
        order = np.lexsort([cols[n] for n in reversed(names)])
        return [np.asarray(cols[n])[order] for n in names]

    return all(np.array_equal(a, b) for a, b in zip(canonical(got), canonical(want)))


def _table_cols(t: pa.Table, names: tuple[str, ...]) -> dict[str, np.ndarray]:
    return {n: t.column(n).to_numpy() for n in names}


class Workload:
    name = ""
    layers: frozenset[str] = frozenset()  # layers the traced probes time

    def __init__(self, inp: Inputs, cpus: int, workdir: str):
        self.inp = inp
        self.cpus = cpus
        self.workdir = workdir

    def setup(self, spark: SparkSession) -> None:
        """Materialise fixtures; timed as part of ``setup_s``."""

    def rep(self, spark: SparkSession, tracer: Tracer) -> list[Op]:
        raise NotImplementedError

    def check(self, op: Op, ref: dict[str, np.ndarray]) -> bool:
        raise NotImplementedError

    def traced_values(self, ops: list[Op], driver_s: float) -> dict[str, float]:
        """Per-layer values read from the traced operations themselves;
        ``driver_s`` is the median operation wall not covered by a Spark job."""
        return {}

    def probes(self, spark: SparkSession, tracer: Tracer, ref: dict[str, np.ndarray]) -> dict[str, float]:
        """Traced-run layer timings outside the operations: isolated Spark
        actions (tagged as probe spans, so no operation absorbs their jobs)
        and driver-side kernel timings on one representative input batch."""
        inp, out = self.inp, {}
        if "synth" in self.layers:
            with tracer.span("probe.synth", tag=True):
                out["synth.gen_s"] = _median_time(lambda: points_df(spark, inp.key0, inp.rows, self.cpus).agg(
                    F.count(F.lit(1)), F.sum(F.col("lat7").cast("long") + F.col("lon7"))).collect())
        if "tiles" in self.layers:
            with tracer.span("probe.tiles", tag=True):
                out["tiles.assign_s"] = _median_time(lambda: points_df(spark, inp.key0, inp.rows, self.cpus).select(
                    tiles.tile_x(F.col("lon7"), TILE_ZOOM).alias("tx"),
                    tiles.tile_y(F.col("lat7"), TILE_ZOOM).alias("ty"),
                ).agg(F.count(F.lit(1)), F.sum(F.col("tx") + F.col("ty"))).collect())
        if "knn" in self.layers:
            with tracer.span("probe.knn", tag=True):
                walls = []
                for _ in range(PROBE_REPS):
                    pts = points_df(spark, inp.key0, KNN_POINTS, self.cpus)
                    qs = points_df(spark, inp.query_key0, KNN_QUERIES, 1).withColumnRenamed("point_id", "query_id")
                    t0 = time.perf_counter()
                    result = knn_join(pts, qs, k=KNN_K)  # runs its eager actions
                    walls.append(time.perf_counter() - t0)
                    _collect(result)
                out["knn.plan_s"] = statistics.median(walls)
        if "pip" in self.layers:
            out.update(pip_kernel_probe(inp.polygons, ref))
        if "h3" in self.layers:
            lat, lon = ref["batch.lat7"], ref["batch.lon7"]
            out["h3.kernel_s"] = _median_time(lambda: latlng_to_cell(lat, lon, H3_RES))
        return out


def pip_kernel_probe(polys: list[dict], ref: dict[str, np.ndarray]) -> dict[str, float]:
    """Time the broadcast PIP kernel's steps on one Arrow batch, calling the
    same public geometry functions in the same order as ``pip_join``'s
    kernel: STR-tree build, candidate query, per-polygon refine, Arrow take."""
    lat, lon = ref["batch.lat7"], ref["batch.lon7"]
    rb = pa.record_batch([pa.array(ref["batch.point_id"]), pa.array(lat), pa.array(lon)],
                         names=["point_id", "lat7", "lon7"])
    bboxes = np.array([polygon_bbox(p) for p in polys])
    edges = [polygon_edges(p) for p in polys]
    ids = np.array([p["boundary_id"] for p in polys], dtype=np.int64)
    walls: dict[str, list[float]] = {k: [] for k in ("build", "query", "refine", "take")}
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        tree = STRTree(bboxes)
        t1 = time.perf_counter()
        pi, gi = tree.query_point_batch(lat, lon)
        t2 = time.perf_counter()
        hit_pi, hit_gi = [np.array([], dtype=np.int64)], [np.array([], dtype=np.int64)]
        for g in np.unique(gi):
            pts = pi[gi == g]
            inside = pnpoly(lat[pts], lon[pts], edges[g])
            hit_pi.append(pts[inside])
            hit_gi.append(np.full(int(inside.sum()), g, dtype=np.int64))
        all_pi, all_gi = np.concatenate(hit_pi), np.concatenate(hit_gi)
        t3 = time.perf_counter()
        taken = rb.take(pa.array(all_pi, type=pa.int64()))
        pa.RecordBatch.from_arrays(list(taken.columns) + [pa.array(ids[all_gi])],
                                   names=rb.schema.names + ["boundary_id"])
        t4 = time.perf_counter()
        for k, w in zip(walls, (t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
            walls[k].append(w)
    med = {k: statistics.median(v) for k, v in walls.items()}
    return {
        "geom.tree_build_s": med["build"],
        "geom.tree_levels": len(tree.levels) + 1,
        "geom.tree_query_s": med["query"],
        "geom.candidates": len(pi),
        "geom.refine_s": med["refine"],
        "pip.take_s": med["take"],
        "pip.hit_ratio": len(all_pi) / max(len(pi), 1),
    }


class Flagship(Workload):
    """Keys -> points -> PIP against the 12 admin rings -> z13 tiles -> counts."""

    name = "flagship"
    layers = frozenset({"synth", "tiles", "pip", "knn"})
    COLS = ("boundary_id", "tx", "ty", "cnt")

    def plan(self, spark: SparkSession) -> DataFrame:
        pts = points_df(spark, self.inp.key0, self.inp.rows, self.cpus)
        return (
            pip_join(pts, self.inp.polygons, how="inner")
            .select(
                "boundary_id",
                tiles.tile_x(F.col("lon7"), TILE_ZOOM).alias("tx"),
                tiles.tile_y(F.col("lat7"), TILE_ZOOM).alias("ty"),
            )
            .groupBy("boundary_id", "tx", "ty")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def rep(self, spark, tracer):
        return [run_op(tracer, "op", lambda: self.plan(spark), _collect)]

    def check(self, op, ref):
        return same_rows(_table_cols(op.out, self.COLS), ref, self.COLS)


class PipManyPolys(Flagship):
    """The same points against thousands of seeded star rings -> count per ring."""

    name = "pip_many_polys"
    layers = frozenset({"synth", "pip"})
    COLS = ("boundary_id", "cnt")

    def plan(self, spark):
        pts = points_df(spark, self.inp.key0, self.inp.rows, self.cpus)
        return pip_join(pts, self.inp.polygons, how="inner").groupBy("boundary_id").agg(
            F.count(F.lit(1)).alias("cnt"))


class IndexWrite(Workload):
    """Parquet points -> Checkpointer.run(+H3 r7 cell, +z13 tile id), then a
    resume over the committed output."""

    name = "index_write"
    layers = frozenset({"tiles", "h3"})
    OUT_COLS = ("point_id", "lat7", "lon7", "caption", "cell", "tile")

    def __init__(self, inp, cpus, workdir):
        super().__init__(inp, cpus, workdir)
        self.in_dir = os.path.join(workdir, "index_in")
        self.out_dir = os.path.join(workdir, "index_out")

    def setup(self, spark):
        self.cell = h3_cell_udf(H3_RES)  # a UDF object binds to the JVM that first runs it
        pts = points_df(spark, self.inp.key0, self.inp.rows, self.inp.files)
        pts.withColumn("caption", caption_col(F.col("point_id"), self.inp.seed)).write.mode(
            "overwrite").parquet(self.in_dir)

    def transform(self, df: DataFrame) -> DataFrame:
        return df.select(
            "point_id", "lat7", "lon7", "caption",
            self.cell(F.col("lat7"), F.col("lon7")).alias("cell"),
            tiles.tile_id(F.col("lon7"), F.col("lat7"), TILE_ZOOM).alias("tile"),
        )

    def rep(self, spark, tracer):
        shutil.rmtree(self.out_dir, ignore_errors=True)
        ckpt = Checkpointer(self.out_dir, files_per_batch=self.inp.files_per_batch)

        def run(_):
            return ckpt.run(spark, self.in_dir, self.transform)

        op = run_op(tracer, "op", lambda: None, run)
        files = sorted(glob.glob(os.path.join(self.out_dir, "batch=*", "*.parquet")))
        op.extra["files"] = files
        op.extra["stored_bytes"] = sum(os.path.getsize(f) for f in files)
        return [op, run_op(tracer, "resume", lambda: None, run)]

    def traced_values(self, ops, driver_s):
        main = [o for o in ops if o.kind == "op"]
        resume = [o.wall for o in ops if o.kind == "resume"]
        batch_walls = [b.wall_sec for o in main for b in o.out.batches if not b.skipped]
        if not main or not resume or not batch_walls:
            return {}
        return {
            "checkpoint.batches": statistics.median(len(o.out.batches) for o in main),
            "checkpoint.batch_s": statistics.median(batch_walls),
            "checkpoint.driver_s": driver_s,
            "checkpoint.resume_s": statistics.median(resume),
            "io.stored_bytes_per_row": statistics.median(o.extra["stored_bytes"] / self.inp.rows for o in main),
        }

    def check(self, op, ref):
        batches = -(-self.inp.files // self.inp.files_per_batch)
        report = op.out
        if len(report.batches) != batches:
            return False
        if op.kind == "resume":
            return report.executed == 0
        if report.executed != batches or report.output_rows != self.inp.rows:
            return False
        t = pa.concat_tables([pq.read_table(f, columns=list(self.OUT_COLS)) for f in op.extra["files"]])
        got = _table_cols(t, ("point_id", "lat7", "lon7", "tile"))
        if not same_rows(got, ref, ("point_id", "lat7", "lon7", "tile")):
            return False
        order = np.argsort(got["point_id"])
        pid = got["point_id"][order]
        at = np.minimum(np.searchsorted(pid, ref["ref.sample_point_id"]), len(pid) - 1)
        if not np.array_equal(pid[at], ref["ref.sample_point_id"]):
            return False
        cell = t.column("cell").to_numpy()[order][at]
        caption = np.asarray(t.column("caption").take(pa.array(order[at])).to_pylist())
        return np.array_equal(cell, ref["ref.sample_cell"]) and np.array_equal(caption, ref["ref.sample_caption"])


WORKLOAD_CLASSES = {w.name: w for w in (Flagship, PipManyPolys, IndexWrite)}
