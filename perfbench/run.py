"""Seeded end-to-end benchmark of the osm_pbf_spark engine.

Run from the root of a checkout of this repository:

    python3 perfbench/run.py --workload spatial_query --seed 1 --seconds 10 --trace 0

One driver process, one client in a closed loop: each op starts when the
previous one has finished, on ``local[N]`` with N = the usable cores.
The run first computes the expected results without the engine
(perfbench/oracle.py), untimed; then it sets up three times (session
start, input generation, untimed ingest and caching where the workload
needs it) and reports the median as ``setup_s``; after one warm-up
iteration it runs whole iterations for ``--seconds`` (at least three)
and checks every op's output against the expected results, outside the
timed part.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on
Spark's event log, alternates untraced and traced iterations (spans, UDF
profiler, per-layer probes) and prints the per-layer metrics and the
tracing overhead. The last line of stdout is one JSON object with the
keys correct, attempted, failed and metrics; the line before it is a
JSON report with every figure by name and unit. See DESIGN.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
REQUIRED = ("osm_pbf_spark/__init__.py", "tests/oracle_pbf.py", "tests/oracle_geo.py")

N_POINTS, N_WAYS = 20_000, 1_500
N_TEXT_DOCS, N_EXACT_COPIES, N_NEAR_COPIES = 1_600, 80, 80
KNN_QUERIES, KNN_MANY_QUERIES, KNN_CHECKED = 2_000, 12_000, 12
CELL_LEVEL = 12
# pip_join_rings salts a cell once it holds this many exploded points;
# the engine default (2M) is sized for 10^8-doc tables, this one makes
# the corpus's hot core heavy and no other cell
SALT_THRESHOLD = 100
SETUPS = 3
WARMUP_ITERATIONS = 1
# the window runs at least this many iterations, so its median never
# rests on one or two samples
MIN_WINDOW_ITERATIONS = 3
# an op's jobs are cancelled at OP_TIMEOUT_S; work that cancelling does
# not reach (planning on the driver) is ended KILL_GRACE_S later by
# killing the JVM, which the next iteration restarts
OP_TIMEOUT_S = 40.0
KILL_GRACE_S = 10.0
# no op starts later than this many seconds plus --seconds after the run
# began; an op running at that point keeps its full timeout, so a run of
# the default length ends within 180 s even when its last op hangs
RUN_BUDGET_S = 100.0
UNTIMED_GROUP = "untimed"


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _percentiles(xs: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples
    beyond it (None below 11 samples)."""
    xs = sorted(xs)
    out = {"p50": _median(xs), "n": len(xs), "tail": None, "tail_pct": None}
    for pct in (99.9, 99, 95, 90, 75, 50):
        if len(xs) * (1 - pct / 100.0) >= 10:
            out["tail"] = xs[min(len(xs) - 1, int(len(xs) * pct / 100.0))]
            out["tail_pct"] = pct
            break
    return out


class OpFailed(Exception):
    pass


class Bench:
    """One run: sessions, iterations, checks, failure accounting."""

    def __init__(self, workload, seed: int, seconds: float, event_log: bool):
        from measure import Tracer

        self.cores = len(os.sched_getaffinity(0))
        self.seed, self.event_log = seed, event_log
        self.deadline = time.perf_counter() + RUN_BUDGET_S + seconds
        self.work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
        self.w = workload(self)
        self.spark = None
        self.tracer = Tracer()
        self.python: dict = {}  # (iteration, op) -> UDF profile
        self.event_dir = os.path.join(self.work, "eventlog")
        self.session_starts: list[float] = []
        self.attempted = self.failed = 0
        # ops not started because the deadline had passed; neither
        # attempted nor failed
        self.skipped = 0
        self.failures: list[str] = []
        self.iteration = 0

    # -------------------------------------------------------------- session

    def start_session(self) -> float:
        from osm_pbf_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]", extra_conf=conf)
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_starts.append(dt)
        return dt

    def stop_session(self):
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # a dead JVM: nothing left to stop
                traceback.print_exc()
            self.spark = None

    def session_alive(self) -> bool:
        try:
            return not self.spark.sparkContext._jsc.sc().isStopped()
        except Exception:  # a killed JVM, or no session
            return False

    def setup(self) -> float:
        """Session (re)start, input generation, untimed ingest and caching."""
        t0 = time.perf_counter()
        self.stop_session()
        self.start_session()
        self.w.make_inputs()
        self.w.prepare(self.spark)
        return time.perf_counter() - t0

    def warm_up(self) -> float:
        """Untimed iterations, so the window starts with warm caches,
        compiled plans and running Python workers."""
        t0 = time.perf_counter()
        for _ in range(WARMUP_ITERATIONS):
            self.run_iteration()
        return time.perf_counter() - t0

    # ------------------------------------------------------------ iterations

    def run_op(self, name: str, fn):
        """Run one op under its own job group; its jobs are cancelled at
        the op timeout and the JVM is killed KILL_GRACE_S later if the op
        is still running. -> (seconds, result), or raises OpFailed."""
        sc = self.spark.sparkContext
        group = f"{self.iteration}|{name}"
        timers = [threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, args=(group,)),
                  threading.Timer(OP_TIMEOUT_S + KILL_GRACE_S, kill_jvm)]
        result = error = None
        t0 = time.perf_counter()
        try:
            sc.setJobGroup(group, name, interruptOnCancel=True)
            for t in timers:
                t.start()
            with self.tracer.span(name, self.iteration):
                result = fn()
        except Exception as e:  # the op's failure is counted, not fatal
            error = e
        dt = time.perf_counter() - t0
        for t in timers:
            t.cancel()
        # checks and probes run outside every op's group
        if error is None or self.session_alive():
            sc.setJobGroup(UNTIMED_GROUP, UNTIMED_GROUP)
        if dt >= OP_TIMEOUT_S:
            raise OpFailed(f"{name}: timed out after {dt:.1f} s") from error
        if error is not None:
            raise OpFailed(f"{name}: {type(error).__name__}: {str(error)[:300]}") from error
        return dt, result

    def run_iteration(self, traced: bool = False, whole: bool = False):
        """-> (iteration seconds, {op: seconds}, ok, cut). Past the
        deadline the iteration's remaining ops are skipped and it is cut,
        unless ``whole``. A traced iteration records spans and UDF
        profiles, and probes the layers after its timed part."""
        from measure import python_profile

        self.iteration += 1
        self.w.before_iteration()
        self.tracer.enabled = traced
        if traced:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            python_profile(self.spark)  # start from an empty profile
        times, results, errors = {}, {}, []
        started = 0
        t0 = time.perf_counter()
        with self.tracer.span("iteration", self.iteration):
            for name, fn in self.w.ops():
                if not whole and time.perf_counter() >= self.deadline:
                    self.skipped += 1
                    continue
                started += 1
                try:
                    times[name], results[name] = self.run_op(name, fn)
                except OpFailed as e:
                    errors.append(str(e))
                if traced and self.session_alive():
                    self.python[(self.iteration, name)] = python_profile(self.spark)
        dt = time.perf_counter() - t0
        self.tracer.enabled = False
        for name, res in results.items():
            err = self.w.check(name, res)
            if err:
                errors.append(err)
            elif traced:
                self.w.record(self.iteration, name, res)
        self.attempted += started
        self.failed += len(errors)
        self.failures.extend(errors)
        if errors and not self.session_alive():
            self.stop_session()
            shutdown_jvm()
            # past the deadline no iteration follows: the run's own
            # shutdown is all that is left
            if time.perf_counter() < self.deadline:
                self.failures.append("session died; restarted")
                self.start_session()
                self.w.prepare(self.spark)
        elif traced:
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
            if started == len(self.w.OPS):
                self.w.probe(self.spark, self.iteration)
        return dt, times, not errors, started < len(self.w.OPS)

    def window(self, seconds: float, trace: bool):
        """Closed loop for ``seconds``. With ``trace`` every second
        iteration is traced, so traced and untraced iterations share the
        session and the host's state. The first iteration always runs
        whole; no later one starts past the deadline. -> ({traced:
        ([iteration s], {op: [s]}, [iteration ids])} over the whole
        iterations that succeeded (the untraced times fall back to the
        failed attempts when none did), cut_short)."""
        out = {False: ([], {}, []), True: ([], {}, [])}
        failed_s = []
        end = time.perf_counter() + seconds
        n, cut_short = 0, False
        while n == 0 or n < MIN_WINDOW_ITERATIONS * (1 + trace) or time.perf_counter() < end:
            if n > 0 and time.perf_counter() >= self.deadline:
                cut_short = True
                break
            traced = trace and n % 2 == 1
            dt, times, ok, cut = self.run_iteration(traced=traced, whole=n == 0)
            n += 1
            if cut:
                cut_short = True
                break
            if ok:
                iters, ops, ids = out[traced]
                iters.append(dt)
                ids.append(self.iteration)
                for k, v in times.items():
                    ops.setdefault(k, []).append(v)
            else:
                failed_s.append(dt)
        if not out[False][0]:  # nothing succeeded: time the failed attempts
            out[False][0].extend(failed_s)
        return out, cut_short


# ================================================================ workloads


def unpersist(df, spark):
    """Drop a cached input of the current session (a stopped session
    took its cache with it)."""
    if df is not None and df.sparkSession is spark:
        df.unpersist()


class Workload:
    OPS: tuple[str, ...] = ()

    def __init__(self, bench: Bench):
        self.b = bench
        self.seed = bench.seed
        self.rows: dict[tuple[int, str], object] = {}  # traced per-iteration counts

    def before_iteration(self):
        pass

    def prepare(self, spark):
        pass

    def record(self, iteration, name, res):
        pass

    def probe(self, spark, iteration):
        pass


class PbfWorkload(Workload):
    def make_inputs(self):
        from corpus import write_pbf_corpus

        self.corpus = write_pbf_corpus(os.path.join(self.b.work, "corpus.osm.pbf"),
                                       self.seed, N_POINTS, N_WAYS)

    def make_oracle(self):
        """Expected results from an identical copy of the corpus, decoded
        by the scalar reference decoder; runs before the first set-up."""
        from corpus import check_pbf_corpus, write_pbf_corpus
        from oracle import SpatialOracle

        self.oracle_corpus = write_pbf_corpus(os.path.join(self.b.work, "oracle.osm.pbf"),
                                              self.seed, N_POINTS, N_WAYS)
        self.oracle = SpatialOracle(check_pbf_corpus(self.oracle_corpus))

    def table_bytes_per_doc(self) -> float:
        """Bytes of the ingested table's data files per input doc."""
        total = 0
        for dirpath, _dirs, files in os.walk(os.path.join(self.table, "data")):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total / self.corpus.n_docs


class OsmBuild(PbfWorkload):
    """The build passes over raw inputs: ingest_pbf into an empty table,
    way assembly over the same file, and minhash near-duplicate pairs over
    seeded text documents with planted copies."""

    OPS = ("ingest", "assembly", "dedup")

    def make_inputs(self):
        from corpus import make_text_docs

        super().make_inputs()
        self.ids, self.texts, self.exact, self.near = make_text_docs(
            self.seed, N_TEXT_DOCS, N_EXACT_COPIES, N_NEAR_COPIES)

    def make_oracle(self):
        from corpus import make_text_docs
        from oracle import DedupOracle

        super().make_oracle()
        self.dedup_oracle = DedupOracle(*make_text_docs(
            self.seed, N_TEXT_DOCS, N_EXACT_COPIES, N_NEAR_COPIES))

    def prepare(self, spark):
        unpersist(getattr(self, "text_df", None), spark)
        self.text_df = spark.createDataFrame(list(zip(self.ids, self.texts)),
                                             "doc_id long, text string").cache()
        self.text_df.count()

    def before_iteration(self):
        self.table = os.path.join(self.b.work, "table")
        shutil.rmtree(self.table, ignore_errors=True)

    def docs(self):
        return self.corpus.n_docs + len(self.ids)

    def ops(self):
        from oracle import DEDUP_THRESHOLD
        from osm_pbf_spark.operators.dedup import minhash_lsh_pairs
        from osm_pbf_spark.plans.ingest import ingest_pbf
        from osm_pbf_spark.sources import pbf_source as src

        spark, tr, it = self.b.spark, self.b.tracer, self.b.iteration

        def ingest():
            with tr.span("plans.ingest.ingest_pbf", it):
                return ingest_pbf(spark, self.corpus.path, self.table,
                                  cell_level=CELL_LEVEL, blobs_per_split=1_000_000)

        def assembly():
            with tr.span("sources.pbf_source.read_pbf", it):
                ents, _ = src.read_pbf(spark, self.corpus.path)
            with tr.span("sources.pbf_source.assemble_way_geometries", it):
                geoms = src.assemble_way_geometries(src.ways(ents), src.nodes(ents))
            with tr.span("collect", it):
                return geoms.toPandas()

        def dedup():
            with tr.span("operators.dedup.minhash_lsh_pairs", it):
                df = minhash_lsh_pairs(self.text_df, threshold=DEDUP_THRESHOLD)
            with tr.span("collect", it):
                return df.toPandas()

        return [("ingest", ingest), ("assembly", assembly), ("dedup", dedup)]

    def manifests(self, sink):
        return [sink._read_manifest(s) for s in sorted(sink.completed_splits())]

    def check(self, name, res):
        if name == "assembly":
            return self.oracle.check_assembly(res)
        if name == "dedup":
            err, self.recall = self.dedup_oracle.check(res)
            return err
        rows = sum(m["n_rows"] for m in self.manifests(res))
        if rows != self.corpus.n_docs:
            return f"ingest: table holds {rows} docs, want {self.corpus.n_docs}"
        return None

    def record(self, iteration, name, res):
        if name == "ingest":
            ms = self.manifests(res)
            self.rows[(iteration, "sink")] = {
                "write_wall_s": sum(m["metrics"]["write_wall_s"] or 0.0 for m in ms),
                "files": sum(len(m["files"]) for m in ms),
                "bytes": sum(m["n_bytes"] for m in ms),
            }

    def probe(self, spark, iteration):
        """Single-thread framing and decode over every blob of the file."""
        from osm_pbf_spark.pbf.decode import decode_primitive_block
        from osm_pbf_spark.pbf.framing import read_blob_payload, scan_blobs

        path = self.corpus.path
        t0 = time.perf_counter()
        refs = [r for r in scan_blobs(path) if r.blob_type == "OSMData"]
        t1 = time.perf_counter()
        raws = [read_blob_payload(path, r.offset, r.size) for r in refs]
        t2 = time.perf_counter()
        entities = 0
        for raw in raws:
            entities += sum(t.num_rows for t in decode_primitive_block(raw).values())
        t3 = time.perf_counter()
        self.rows[(iteration, "probe")] = {
            "framing.scan_s": t1 - t0, "framing.inflate_s": t2 - t1,
            "framing.bytes_in": sum(r.size for r in refs),
            "framing.bytes_out": sum(len(r) for r in raws),
            "decode.s": t3 - t2, "decode.entities": entities,
            "decode.entities_per_s": entities / (t3 - t2),
        }


REGIONS_HALF = 0.15


def regions():
    import numpy as np

    from corpus import HOT_LAT, HOT_LON
    from osm_pbf_spark.operators.spatial_join import Polygon

    h = REGIONS_HALF
    return [
        Polygon("hot_city", [np.array([
            [HOT_LAT - h, HOT_LON - h], [HOT_LAT - h, HOT_LON + h],
            [HOT_LAT + h, HOT_LON + h], [HOT_LAT + h, HOT_LON - h]])]),
        Polygon("band", [np.array([[-10.0, -60.0], [-10.0, 60.0], [10.0, 60.0], [10.0, -60.0]])]),
        Polygon("tri", [np.array([[30.0, -120.0], [60.0, -90.0], [20.0, -60.0]])]),
    ]


def query_ids(corpus, seed: int, n: int) -> list[str]:
    """Seed-chosen kNN query docs, half of them from the hot cluster."""
    import numpy as np

    rng = np.random.default_rng([seed, 4])
    pts = np.arange(corpus.n_points)
    hot, cold = pts[corpus.hot], pts[~corpus.hot]
    idx = np.concatenate([rng.choice(hot, n // 2, replace=False),
                          rng.choice(cold, n - n // 2, replace=False)])
    return [f"node/{int(corpus.node_ids[i])}" for i in idx]


class SpatialQuery(PbfWorkload):
    """Reads of the ingested table, then the operators over its point docs."""

    OPS = ("read", "pip_regions", "pip_footprints", "tiles", "knn")
    N_QUERIES = KNN_QUERIES

    def docs(self):
        return self.corpus.n_nodes

    def make_inputs(self):
        super().make_inputs()
        self.qids = query_ids(self.corpus, self.seed, self.N_QUERIES)

    def make_oracle(self):
        super().make_oracle()
        self.oracle.prepare_spatial(
            regions(), query_ids(self.oracle_corpus, self.seed, self.N_QUERIES), KNN_CHECKED,
            self.seed, with_pip="pip_regions" in self.OPS)

    def prepare(self, spark):
        from osm_pbf_spark.operators.spatial_join import RINGS_SCHEMA
        from osm_pbf_spark.plans.ingest import ingest_pbf, read_documents

        self.table = os.path.join(self.b.work, "table")
        shutil.rmtree(self.table, ignore_errors=True)
        ingest_pbf(spark, self.corpus.path, self.table, cell_level=CELL_LEVEL,
                   blobs_per_split=1_000_000)
        for name in ("points", "rings", "queries"):
            unpersist(getattr(self, name, None), spark)
        self.points = (read_documents(spark, self.table).select("doc_id", "lat", "lon")
                       .filter("lat IS NOT NULL").cache())
        self.points.count()
        # the footprints' polygon side, in the layout rings_from_closed_ways
        # gives assembled closed ways
        self.rings = spark.createDataFrame(
            [(pid, 0, ring) for pid, ring in self.corpus.footprint_rings()],
            RINGS_SCHEMA).cache()
        self.rings.count()
        qdf = spark.createDataFrame([(q,) for q in self.qids], "doc_id string")
        self.queries = self.points.join(qdf, "doc_id", "left_semi").cache()
        self.queries.count()

    def ops(self):
        from pyspark.sql import functions as F

        from osm_pbf_spark.operators.knn import knn_join
        from osm_pbf_spark.operators.spatial_join import pip_join, pip_join_rings
        from osm_pbf_spark.operators.tiling import assign_point_tiles, tile_pyramid_rollup
        from oracle import KNN_K, TILE_MIN_ZOOM, TILE_ZOOM
        from osm_pbf_spark.plans.ingest import read_documents

        spark, tr, it = self.b.spark, self.b.tracer, self.b.iteration
        pts = self.points

        def read():
            with tr.span("sink.read_documents", it):
                df = read_documents(spark, self.table)
            with tr.span("collect", it):
                return (df.select("doc_id", "lat", "lon").filter(F.col("lat").isNotNull())
                        .toPandas())

        def pip_regions():
            with tr.span("operators.spatial_join.pip_join", it):
                df = pip_join(spark, pts, regions(), level="auto")
            with tr.span("collect", it):
                return df.toPandas()

        def pip_footprints():
            with tr.span("operators.spatial_join.pip_join_rings", it):
                df = pip_join_rings(spark, pts, self.rings, level="auto",
                                    salt_threshold=SALT_THRESHOLD)
            with tr.span("collect", it):
                return df.toPandas()

        def tiles():
            with tr.span("operators.tiling.tile_pyramid_rollup", it):
                df = tile_pyramid_rollup(assign_point_tiles(pts, zoom=TILE_ZOOM, scheme="linear"),
                                         zoom=TILE_ZOOM, min_zoom=TILE_MIN_ZOOM)
            with tr.span("collect", it):
                return df.toPandas()

        def knn():
            with tr.span("operators.knn.knn_join", it):
                df = knn_join(spark, self.queries, pts, k=KNN_K, level="auto")
            with tr.span("collect", it):
                return df.toPandas()

        table = {"read": read, "pip_regions": pip_regions, "pip_footprints": pip_footprints,
                 "tiles": tiles, "knn": knn}
        return [(name, table[name]) for name in self.OPS]

    def check(self, name, res):
        o = self.oracle
        if name == "knn":
            return o.check_knn(res, len(self.qids))
        return getattr(o, f"check_{name}")(res)

    def record(self, iteration, name, res):
        from oracle import TILE_ZOOM

        if name in ("pip_regions", "pip_footprints"):
            self.rows[(iteration, name)] = len(res)
        elif name == "tiles":
            self.rows[(iteration, name)] = (int((res["tile_z"] == TILE_ZOOM).sum()), len(res))

    def probe(self, spark, iteration):
        """The public cover functions, and the heavy-cell measure of the
        salted join, called on their own."""
        if "pip_regions" not in self.OPS:
            return
        import pandas as pd

        from osm_pbf_spark.operators.skew import heavy_hitters
        from osm_pbf_spark.operators.spatial_join import (
            pick_cover_level, polygon_cell_cover, rings_cell_cover, with_cell)

        t0 = time.perf_counter()
        by_level = {}
        for p in regions():
            by_level.setdefault(pick_cover_level(p), []).append(p)
        covers = [polygon_cell_cover(g, lvl) for lvl, g in sorted(by_level.items())]
        ring_cover = rings_cell_cover(self.rings, "auto").toPandas()
        t1 = time.perf_counter()
        cover = pd.concat(covers + [ring_cover[["cell", "poly_id", "full"]]])
        heavy = sum(len(heavy_hitters(with_cell(self.points, int(lvl)), "cell", SALT_THRESHOLD))
                    for lvl in sorted(ring_cover["level"].unique()))
        self.rows[(iteration, "probe")] = {
            "pip.cover_s": t1 - t0, "pip.cover_cells": len(cover),
            "pip.full_cell_share": float(cover["full"].mean()) if len(cover) else 0.0,
            "skew.heavy_cells": heavy,
        }


class KnnMany(SpatialQuery):
    """knn_join(level="auto") with more queries than the brute-force cap."""

    OPS = ("knn",)
    N_QUERIES = KNN_MANY_QUERIES

    def docs(self):
        return self.N_QUERIES


WORKLOADS = {"osm_build": OsmBuild, "spatial_query": SpatialQuery, "knn_many": KnnMany}


# ================================================================ per-layer


def per_layer(b: Bench, traced_iters: list[int]) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the traced window, each the median over its
    iterations; 0 where the workload does not reach the layer."""
    from measure import EventLog, driver_and_idle

    log = EventLog(b.event_dir)
    w = b.w
    med = _median
    out: dict[str, tuple[float, str]] = {}

    def group(it, op):
        return log.groups.get(f"{it}|{op}")

    def per_iter(fn):
        vals = [fn(it) for it in traced_iters]
        vals = [v for v in vals if v is not None]
        return med(vals)

    def gm_attr(op, attr):
        return per_iter(lambda it: getattr(group(it, op), attr) if group(it, op) else None)

    def py(op, func=None):
        def one(it):
            prof = b.python.get((it, op))
            if prof is None:
                return None
            return prof[0] if func is None else prof[1].get(func, 0.0)
        return per_iter(one)

    def rows(op, node):
        return [log.python_rows(f"{it}|{op}", node) for it in traced_iters]

    def spans(it):
        return [s for s in b.tracer.spans if s.iteration == it]

    def span_of(it, name):
        return next((s for s in spans(it) if s.name == name and s.parent is not None
                     and s.parent.name == "iteration"), None)

    # session
    out["session.start_s"] = (statistics.median(b.session_starts), "s")
    # every op: span, self time of its driver-side calls, idle cores
    for op in ALL_OPS:
        if op not in w.OPS:
            for suffix, unit in (("span_s", "s"), ("driver_s", "s"), ("core_idle_share", "ratio")):
                out[f"{op}.{suffix}"] = (0.0, unit)
            continue
        drv, idle, span_s = [], [], []
        for it in traced_iters:
            s, gm = span_of(it, op), group(it, op)
            if s is None or gm is None:
                continue
            lo = s.start + b.tracer.wall_offset
            d, i = driver_and_idle(gm, lo, lo + s.duration, b.cores)
            drv.append(d)
            idle.append(i)
            span_s.append(s.duration)
        out[f"{op}.span_s"] = (med(span_s), "s")
        out[f"{op}.driver_s"] = (med(drv), "s")
        out[f"{op}.core_idle_share"] = (med(idle), "ratio")

    def probe(key):
        return per_iter(lambda it: w.rows.get((it, "probe"), {}).get(key))

    for key, unit in (("framing.scan_s", "s"), ("framing.inflate_s", "s"),
                      ("framing.bytes_in", "B"), ("framing.bytes_out", "B"),
                      ("decode.s", "s"), ("decode.entities", "count"),
                      ("decode.entities_per_s", "1/s")):
        out[key] = (probe(key), unit)

    out["ingest.task_s"] = (gm_attr("ingest", "task_s"), "s")
    out["ingest.cpu_s"] = (gm_attr("ingest", "cpu_s"), "s")
    out["ingest.python_s"] = (py("ingest"), "s")
    out["ingest.task_skew"] = (per_iter(
        lambda it: group(it, "ingest").task_skew() if group(it, "ingest") else None), "ratio")
    out["assembly.task_s"] = (gm_attr("assembly", "task_s"), "s")
    out["assembly.shuffle_bytes"] = (gm_attr("assembly", "shuffle_bytes"), "B")
    out["assembly.spill_bytes"] = (gm_attr("assembly", "spill_bytes"), "B")

    def sink(key):
        return per_iter(lambda it: w.rows.get((it, "sink"), {}).get(key))

    out["sink.write_wall_s"] = (sink("write_wall_s"), "s")
    out["sink.commit_s"] = (per_iter(
        lambda it: (span_of(it, "ingest").duration - w.rows[(it, "sink")]["write_wall_s"])
        if (it, "sink") in w.rows else None), "s")
    out["sink.files"] = (sink("files"), "count")
    out["sink.bytes"] = (sink("bytes"), "B")
    out["sink.read_s"] = (per_iter(lambda it: sum(
        s.duration for s in spans(it) if s.name == "sink.read_documents") or None), "s")
    out["sink.files_read"] = (per_iter(
        lambda it: log.sql_metric(f"{it}|read", "number of files read")
        if group(it, "read") else None), "count")

    # PIP: both ops, broadcast (regions) and salted shuffle (footprints)
    pip_ops = (("pip_regions", "MapInPandas"), ("pip_footprints", "FlatMapCoGroupsInPandas"))
    b_in = b_out = matches = 0.0
    for op, node in pip_ops:
        r = rows(op, node)
        b_in += med([x[0] for x in r])
        b_out += med([x[1] for x in r])
        matches += per_iter(lambda it, op=op: w.rows.get((it, op)))
    for key, unit in (("pip.cover_s", "s"), ("pip.cover_cells", "count"),
                      ("pip.full_cell_share", "ratio"), ("skew.heavy_cells", "count")):
        out[key] = (probe(key), unit)
    out["pip.candidates"] = (matches - b_out + b_in, "count")
    out["pip.boundary_candidates"] = (b_in, "count")
    out["pip.matches"] = (matches, "count")
    out["pip.refine_precision"] = (b_out / b_in if b_in else 0.0, "ratio")
    out["pip.refine_python_s"] = (sum(py(op, "_refine") for op, _ in pip_ops), "s")
    out["pip.shuffle_bytes"] = (sum(gm_attr(op, "shuffle_bytes") for op, _ in pip_ops), "B")
    out["skew.join_task_skew"] = (per_iter(
        lambda it: group(it, "pip_footprints").records_skew()
        if group(it, "pip_footprints") else None), "ratio")

    out["tiles.leaf_tiles"] = (per_iter(lambda it: (w.rows.get((it, "tiles")) or (None,))[0]),
                               "count")
    out["tiles.pyramid_rows"] = (per_iter(
        lambda it: (w.rows.get((it, "tiles")) or (None, None))[1]), "count")
    out["tiles.shuffle_bytes"] = (gm_attr("tiles", "shuffle_bytes"), "B")

    # the path knn_join took: broadcast-brute runs two jobs
    out["knn.jobs"] = (gm_attr("knn", "jobs"), "count")
    out["knn.python_rows_in"] = (med([x[0] for x in rows("knn", "MapInPandas")]), "count")
    out["knn.python_s"] = (py("knn"), "s")
    out["knn.shuffle_bytes"] = (gm_attr("knn", "shuffle_bytes"), "B")
    out["knn.spill_bytes"] = (gm_attr("knn", "spill_bytes"), "B")
    out["knn.peak_exec_mem_mb"] = (gm_attr("knn", "peak_exec_mem") / 2**20, "MB")

    ver = rows("dedup", "MapInPandas")
    cand, verified = med([x[0] for x in ver]), med([x[1] for x in ver])
    out["dedup.distinct_texts"] = (med([x[1] for x in rows("dedup", "ArrowEvalPython")]),
                                   "count")
    out["dedup.signature_python_s"] = (py("dedup", "_bands"), "s")
    out["dedup.band_candidates"] = (cand, "count")
    out["dedup.verified_pairs"] = (verified, "count")
    out["dedup.verify_precision"] = (verified / cand if cand else 0.0, "ratio")
    out["dedup.verify_python_s"] = (py("dedup", "_verify"), "s")
    out["dedup.shuffle_bytes"] = (gm_attr("dedup", "shuffle_bytes"), "B")
    return out


ALL_OPS = ("ingest", "assembly", "read", "pip_regions", "pip_footprints", "tiles", "knn",
           "dedup")


# ================================================================== driver


def run(args) -> dict:
    from measure import RssSampler

    b = Bench(WORKLOADS[args.workload], args.seed, args.seconds, event_log=bool(args.trace))
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(b.work, d), exist_ok=True)
    # every file Spark, the JVMs and the Python workers write stays in
    # the checkout
    tmp = os.path.join(b.work, "tmp")
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(b.work, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    rss = RssSampler()
    try:
        # the checking code runs on its own, so no set-up shares the host
        # with it
        t0 = time.perf_counter()
        b.w.make_oracle()
        oracle_s = time.perf_counter() - t0
        setups = [b.setup() for _ in range(SETUPS)]
        report = {"workload": args.workload, "seed": args.seed, "cores": b.cores,
                  "oracle_s": oracle_s,
                  "setup_s_each": setups, "session_start_s_each": list(b.session_starts),
                  "warmup_s": b.warm_up()}
        rss.start()
        windows, cut_short = b.window(args.seconds, trace=bool(args.trace))
        rss.stop()
        iters, ops, _ = windows[False]
        p50 = statistics.median(iters)
        report.update({
            "iter_s": _percentiles(iters), "iter_s_each": iters,
            "ops_s": {k: _percentiles(v) for k, v in ops.items()},
            "peak_rss_mb": rss.peak_bytes / 2**20,
            "docs": b.w.docs(),
        })
        if isinstance(b.w, OsmBuild):
            report["near_copy_recall"] = getattr(b.w, "recall", None)
        report["fail_ratio"] = b.failed / b.attempted
        report["failures"] = b.failures[:20]
        # the run's deadline ended the window early: fewer samples than
        # asked for, none of them failed on that account
        report["window_cut_short"] = cut_short
        report["skipped_ops"] = b.skipped
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "iter_s.p50": (p50, "s"),
            "docs_per_s": (b.w.docs() / p50, "docs/s"),
            "table_bytes_per_doc": (b.w.table_bytes_per_doc(), "B"),
        }
        report["end_to_end"] = {
            **{k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "peak_rss_mb": {"value": report["peak_rss_mb"], "unit": "MB"},
            "iter_s.tail": {"value": report["iter_s"]["tail"], "unit": "s"},
            "fail_ratio": {"value": report["fail_ratio"], "unit": "ratio"},
            **{f"{op}_s.p50": {"value": st["p50"], "unit": "s"}
               for op, st in report["ops_s"].items()},
        }
        if args.trace:
            titers, _, tids = windows[True]
            b.stop_session()  # flushes the event log
            metrics = per_layer(b, tids)
            tp50 = statistics.median(titers) if titers else p50
            shares = []
            for it in tids:
                top = [s for s in b.tracer.spans if s.iteration == it]
                whole = next(s.duration for s in top if s.name == "iteration")
                shares.append(sum(s.duration for s in top if s.parent is not None
                                  and s.parent.name == "iteration") / whole)
            metrics["trace.overhead_s"] = (tp50 - p50, "s")
            metrics["trace.op_span_share"] = (_median(shares), "ratio")
            report.update({
                "traced_iter_s": _percentiles(titers),
                "trace_overhead_share": (tp50 - p50) / p50,
                "self_s": {name: _median([b.tracer.self_times(it).get(name, 0.0)
                                          for it in tids])
                           for name in sorted({s.name for s in b.tracer.spans})},
                "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            })
        return {"report": report, "correct": b.failed == 0, "attempted": b.attempted,
                "failed": b.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    finally:
        rss.stop()
        b.stop_session()
        shutdown_jvm()
        shutil.rmtree(b.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(b.work))
        except OSError:
            pass


def kill_jvm():
    """Kill the gateway JVM and every process under it (the Python
    workers), and wait until each has ended."""
    from pyspark import SparkContext

    from measure import descendants

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    pids = descendants(proc.pid)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.kill()
    proc.wait()
    # the workers were the JVM's children; whoever adopted them reaps them
    end = time.perf_counter() + 10.0
    while time.perf_counter() < end and any(_running(p) for p in pids):
        time.sleep(0.05)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown_jvm():
    """Stop the gateway JVM this process launched and wait for it; the
    next session starts a new one."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    SparkContext._active_spark_context = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None
    # UDFs the engine defines at import time keep a handle into the JVM
    # that first ran them; the next JVM makes its own
    for name, mod in list(sys.modules.items()):
        if name.startswith("osm_pbf_spark"):
            for v in vars(mod).values():
                udf = getattr(v, "_unwrapped", None)
                if hasattr(udf, "_judf_placeholder"):
                    udf._judf_placeholder = None
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # a py4j error from a gateway that is already gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"run from the repository root: missing {', '.join(missing)}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    out = run(args)
    print(json.dumps(out.pop("report"), default=float))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
