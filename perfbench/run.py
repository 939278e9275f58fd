#!/usr/bin/env python3
"""Benchmark of the zonal datacube engine: one closed-loop client per run.

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One process, one ``local[N]`` session
(N = min(4, cpus)); the next call starts only after the previous returned.
Workloads are described in ``workloads.py``. Each run:

1. makes its inputs from ``--seed`` (a seeded corpus for ``registry_mix``,
   raster/zone/polygon shapes for ``zonal_raster``);
2. sets up: imports, session, registry, and a warm-up call of each entry
   in the call list; ``setup_s`` is the whole of it;
3. calls the workload's fixed call list in its fixed order, pass after pass,
   until the calls have taken ``--seconds``; each call is timed from
   outside the library and its result is fingerprinted outside the timed
   span;
4. checks every result: registry keys against the DuckDB oracle computed
   once on the same corpus (rows-only keys: rows present and one hash on
   every call), zonal calls against numpy references; ``zonal_raster``
   then repeats a known library defect once, untimed and apart from the
   calls (``Bench.defect_probe``);
5. prints each metric with its unit and, as the last line, one JSON object
   with ``correct``, ``attempted``, ``failed`` and ``metrics``. With
   ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
   untraced and traced calls alternate, spans are recorded at the layer
   boundaries, and the metrics are the per-layer ones (means per traced
   call unless the unit says otherwise) plus the tracing overhead.

Everything the run writes (corpus, temp files, Spark local dirs, the
detail file with provenance, per-call records and spans) stays under
``perfbench/.work`` and ``perfbench/out``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("registry_mix", "zonal_raster")
# input scale by workload: the corpus scale factor for registry_mix (most of
# its calls cost the same at any scale, and a smaller corpus shortens the
# cache fills in set-up); the raster and point budget for zonal_raster
DEFAULT_SF = {"registry_mix": 0.05, "zonal_raster": 0.1}
SPARK_CPUS = min(4, os.cpu_count() or 1)
PACKAGE = "zonal_datacube_spark"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, help="input scale (corpus sf; zonal sizes); "
                   f"default {DEFAULT_SF}")
    args = p.parse_args(argv)
    if args.sf is None:
        args.sf = DEFAULT_SF[args.workload]
    return args


def configure_env(work: str) -> None:
    """Keep every file the run writes inside ``work``; fix the core count.
    Must run before pyspark or the library is imported."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CPUS)
    # a heap the workload fills keeps peak_rss_mb from following the GC's
    # heap-growth decisions; the inputs are tens of MB
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def git_state() -> dict:
    def git(*args):
        return subprocess.run(
            ["git", "-C", ROOT, *args], capture_output=True, text=True, timeout=10
        )

    try:
        head = git("rev-parse", "HEAD")
        if head.returncode != 0:
            return {"sha": None, "dirty": None}
        dirty = bool(git("status", "--porcelain", "--untracked-files=no").stdout.strip())
        return {"sha": head.stdout.strip(), "dirty": dirty}
    except (OSError, subprocess.SubprocessError):
        return {"sha": None, "dirty": None}


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, max(0, int(round(q * len(ordered))) - 1))]


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            path = os.path.join(d, name)
            try:
                st = os.stat(path)
            except FileNotFoundError:
                continue
            out[path] = (st.st_mtime_ns, st.st_size)
    return out


class Bench:
    """One run of one workload. Library modules are imported in ``setup``."""

    def __init__(self, args: argparse.Namespace, work: str):
        from perfbench.spans import Tracer

        self.args = args
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.tracer = Tracer(enabled=False)
        self.records: list[dict] = []
        self.detail: dict = {"provenance": {}, "setup": {}, "calls": self.records}
        self.references: dict = {}
        self.zonal_workload = args.workload == "zonal_raster"
        self.first_result: dict[str, tuple] = {}
        self.frames: dict | None = None
        self.loaded: set[str] = set()
        self.spark = None

    # ---------------------------------------------------------------- inputs
    def make_inputs(self) -> None:
        from perfbench import gen, workloads

        a = self.args
        if a.workload == "zonal_raster":
            self.zonal = workloads.zonal_inputs(a.seed, a.sf)
            self.references["zonal_stats"] = workloads.zonal_reference(self.zonal)
            self.references["points_in_polygons"] = workloads.pip_reference(self.zonal)
            self.references["zonal_stats_tiled"] = self.references["zonal_stats"]
            self.call_list = list(workloads.ZONAL_OPS)
            self.detail["inputs"] = {
                "width": self.zonal.width,
                "height": self.zonal.height,
                "zones": self.zonal.zones,
                "polygon_vertices": [len(p) for p in self.zonal.polygons],
                "points": self.zonal.points,
            }
            return
        self.sf_dir = os.path.join(self.work, f"sf{a.sf:g}")
        self.row_counts = gen.write_corpus(self.sf_dir, a.seed, a.sf)
        self.call_list = list(workloads.REGISTRY_KEYS)
        self.detail["inputs"] = {"sf_dir": self.sf_dir, "rows": self.row_counts}

    # ----------------------------------------------------------------- setup
    def setup(self) -> None:
        """Fresh process to first timed call: imports, the session (JVM
        launch), the registry or the zonal frames, then the warm-up, one
        call of everything in the call list, so first-call work (code
        generation, worker spin-up, cache fills) is done. ``setup_s`` is
        all of it. A traced run traces the warm-up too, each call under a
        ``warmup`` root span, so work that happens only there (the PQ index
        build) has a per-layer figure."""
        t0 = time.perf_counter()
        import pyspark

        from zonal_datacube_spark.session import get_spark

        t1 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t2 = time.perf_counter()
        if self.zonal_workload:
            from zonal_datacube_spark import datacube
            from zonal_datacube_spark.operators import geometry

            self.datacube, self.geometry = datacube, geometry
            self.frames = self.zonal_frames(self.zonal)
        else:
            from zonal_datacube_spark.registry import all_queries

            self.queries = all_queries()
        self.install_probes()
        t3 = time.perf_counter()
        warmup = []
        self.tracer.enabled = bool(self.args.trace)
        for name in self.call_list:
            w0 = time.perf_counter()
            with self.tracer.span("warmup", key=name):
                self.invoke(name, self.frames)
            warmup.append((name, time.perf_counter() - w0))
        self.tracer.enabled = False
        t4 = time.perf_counter()
        self.setup_s = t4 - t0
        self.detail["setup"] = {
            "import_s": t1 - t0,
            "get_spark_s": t2 - t1,
            "registry_import_s": 0.0 if self.zonal_workload else t3 - t2,
            "warmup_s": t4 - t3,
            "setup_s": self.setup_s,
            "warmup_calls": warmup,
        }
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.detail["provenance"]["versions"] = self.versions(pyspark)

    def versions(self, pyspark) -> dict:
        import duckdb
        import numpy
        import pandas
        import pyarrow

        return {
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__,
            "numpy": numpy.__version__,
            "pandas": pandas.__version__,
        }

    def zonal_frames(self, z) -> dict:
        """Lazy DataFrames over the zonal inputs ``z``; nothing is cached."""
        from pyspark.sql import functions as F

        from perfbench.workloads import DOMAIN

        spark = self.spark
        step = DOMAIN / z.grid
        points = spark.range(0, z.points, 1, 32).select(
            F.col("id").alias("pid"),
            ((F.col("id") % z.grid).cast("double") + F.lit(0.5)) * F.lit(step),
            (F.expr(f"id div {z.grid}").cast("double") + F.lit(0.5)) * F.lit(step),
        )
        return {
            "pixels": self.datacube.synthetic_raster(spark, z.width, z.height),
            "zones": spark.createDataFrame(
                list(z.zones),
                "zone_id INT, zone_name STRING, xmin INT, ymin INT, xmax INT, ymax INT",
            ),
            "points": points.toDF("pid", "px", "py"),
            "edges": spark.createDataFrame(
                z.edges, "zone_id INT, x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE"
            ),
        }

    # ------------------------------------------------------------------ calls
    def build(self, name: str, frames: dict | None):
        """The call's DataFrame: the plan-construction step."""
        if not self.zonal_workload:
            return self.queries[name](self.spark, self.sf_dir)
        if name == "points_in_polygons":
            inside = self.geometry.points_in_polygons(frames["points"], frames["edges"])
            return inside.groupBy("zone_id").count()
        return getattr(self.datacube, name)(frames["pixels"], frames["zones"])

    def invoke(self, name: str, frames: dict | None = None):
        """Build and materialise one call; spans at each layer boundary."""
        tr = self.tracer
        with tr.span("operators.plan_build"):
            df = self.build(name, frames)
        if tr.enabled:
            with tr.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("spark.action"):
            return df.toPandas()

    def cache_state(self) -> dict:
        if self.zonal_workload:
            return {}
        from zonal_datacube_spark.functions import grain_cache, pq
        from zonal_datacube_spark.operators import graph
        from zonal_datacube_spark.sources import loader

        return {
            **{f"grain_{k}": v for k, v in grain_cache.STATS.items()},
            "relation_entries": len(loader._RELATION_CACHE),
            "edge_entries": len(graph._EDGE_CACHE),
            "pq_index_entries": len(pq._INDEX_CACHE),
        }

    def spark_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tasks = 0
        for s in stage_ids:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numCompletedTasks
        return {"jobs": len(jobs), "stages": len(stage_ids), "tasks": tasks}

    def call(self, name: str, pass_no: int, traced: bool) -> dict:
        from perfbench import workloads

        tr = self.tracer
        tr.enabled = traced
        rec = {"name": name, "pass": pass_no, "traced": traced}
        before = self.cache_state()
        write = traced and name in workloads.WRITE_KEYS
        files_before = tree_files(self.tmp) if write else None
        self.loaded = set()
        pdf = None
        with tr.span("call", key=name) as span:
            if traced:
                self.spark.sparkContext.setJobGroup(f"span-{span.span_id}", name)
            t0 = time.perf_counter()
            try:
                pdf = self.invoke(name, self.frames)
            except Exception as exc:  # a failed call is counted, not fatal
                rec["error"] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}"
            rec["wall_s"] = time.perf_counter() - t0
        tr.enabled = False
        after = self.cache_state()
        rec["cache"] = {k: after[k] - before[k] for k in after if not k.endswith("_entries")}
        rec["cache_entries"] = {k: v for k, v in after.items() if k.endswith("_entries")}
        rec["rows_in"] = self.rows_in(name)
        if traced:
            rec["spark"] = self.spark_counts(f"span-{span.span_id}")
            if pdf is not None:
                rec["result_bytes"] = arrow_bytes(pdf)
            if write:
                files_after = tree_files(self.tmp)
                new = [p for p, st in files_after.items() if files_before.get(p) != st]
                rec["files_written"] = len(new)
                rec["bytes_written"] = sum(files_after[p][1] for p in new)
        if pdf is not None:
            rec["result_rows"] = len(pdf)
            self.verify(rec, pdf)
        self.records.append(rec)
        return rec

    def rows_in(self, name: str) -> int:
        """Input rows of the call: pixels or points for zonal calls; for
        registry keys the rows of the distinct corpus tables it loaded."""
        if self.zonal_workload:
            return self.zonal.points if name == "points_in_polygons" else self.zonal.pixels
        return sum(self.row_counts[t] for t in self.loaded)

    def verify(self, rec: dict, pdf) -> None:
        """Zonal results are checked now against the numpy references;
        registry results are fingerprinted for ``check``."""
        if self.zonal_workload:
            from perfbench import workloads

            rec["result"] = pdf.to_dict("list")
            ref = self.references[rec["name"]]
            if rec["name"] == "points_in_polygons":
                problems = workloads.check_counts(pdf, ref)
            else:
                problems = workloads.check_zonal(pdf, ref)
            if problems:
                rec["wrong"] = problems
            return
        from zonal_datacube_spark.compare import _canon

        # a result equal cell for cell to the key's first one shares its
        # canonical hash; anything else is canonicalised itself
        quick = quick_hash(pdf)
        first = self.first_result.get(rec["name"])
        if first is not None and quick is not None and quick == first[0]:
            rec["hash"] = first[1]
        else:
            rec["hash"] = canon_hash(_canon(pdf))
            self.first_result.setdefault(rec["name"], (quick, rec["hash"]))

    # -------------------------------------------------------------- measuring
    def measure(self) -> None:
        """Whole passes over the call list until the calls have taken
        ``--seconds``. The order within a pass is the same on every pass and
        every seed: a call's time depends on the call before it (cleanup of
        the previous call's jobs lands in the next one), so a seeded order
        would spread single-call latencies from seed to seed while leaving
        their sum alone. A traced run traces every other
        entry of the call list, swapping which half on each pass, and makes
        an even number of passes: every key runs as often traced as not,
        and neither mode always runs first."""
        measured = 0.0
        pass_no = 0
        self.load_before = os.getloadavg()
        try:
            while measured < self.args.seconds or (self.args.trace and pass_no % 2):
                for i, name in enumerate(self.call_list):
                    traced = bool(self.args.trace) and (i + pass_no) % 2 == 1
                    measured += self.call(name, pass_no, traced)["wall_s"]
                pass_no += 1
        finally:
            self.tracer.unpatch()
        self.load_after = os.getloadavg()
        self.passes = pass_no
        self.peak_rss_mb = vm_hwm_mb() + vm_hwm_mb(self.jvm_pid)

    def install_probes(self) -> None:
        """Wrap the library's layer entry points, from outside. The loader
        wrapper always notes which tables a call opened (for rows_per_s);
        spans open only while the tracer is enabled."""
        if self.zonal_workload:
            return
        from zonal_datacube_spark.functions import kmeans, local_rel, pq
        from zonal_datacube_spark.sources import loader

        tr = self.tracer
        original = loader.load_table

        def load_table(spark, sf_dir, name):
            self.loaded.add(name)
            with tr.span("loader.load_table", table=name):
                return original(spark, sf_dir, name)

        tr.patch(PACKAGE, loader, "load_table", wrapper=load_table)
        tr.patch(PACKAGE, kmeans, "kmeans_fit", "kernel.kmeans_fit")
        tr.patch(PACKAGE, pq, "pq_train", "kernel.pq_train")
        tr.patch(PACKAGE, local_rel, "local_relation", "kernel.local_relation")

    # --------------------------------------------------------------- checking
    def check(self) -> None:
        """Compare every registry result with the DuckDB oracle, computed
        once per key after the measured passes."""
        if self.zonal_workload:
            return
        from zonal_datacube_spark.compare import _canon, duck_connect
        from zonal_datacube_spark.registry import all_oracle_sql

        oracle = all_oracle_sql()
        con = duck_connect(self.sf_dir)
        try:
            con.execute("SET threads=2")
            con.execute("SET memory_limit='1GB'")
            con.execute(f"SET temp_directory='{os.path.join(self.work, 'duckdb')}'")
            expected = {
                name: canon_hash(_canon(con.execute(oracle[name]).fetchdf()))
                for name in sorted({r["name"] for r in self.records})
                if name in oracle
            }
        finally:
            con.close()
        first_hash: dict[str, str] = {}
        for rec in self.records:
            if "hash" not in rec:
                continue
            name = rec["name"]
            if name in expected:
                if rec["hash"] != expected[name]:
                    rec["wrong"] = ["result differs from the DuckDB oracle"]
            elif rec["result_rows"] == 0:
                rec["wrong"] = ["rows-only key returned no rows"]
            elif first_hash.setdefault(name, rec["hash"]) != rec["hash"]:
                rec["wrong"] = ["rows-only key changed its result between calls"]
        self.detail["oracle_hashes"] = expected

    # ---------------------------------------------------------------- metrics
    def end_to_end(self) -> dict[str, tuple[float, str]]:
        calls = [r for r in self.records if not r["traced"]]
        walls = [r["wall_s"] for r in calls]
        total = sum(walls)
        return {
            "setup_s": (self.setup_s, "s"),
            "latency_p50_s": (statistics.median(walls), "s"),
            "queries_per_s": (len(calls) / total, "1/s"),
            "rows_per_s": (sum(r["rows_in"] for r in calls) / total, "rows/s"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        from perfbench.spans import self_times, totals

        traced = [r for r in self.records if r["traced"]]
        untraced = [r for r in self.records if not r["traced"]]
        n = max(1, len(traced))
        roots = {s.span_id: s.name for s in self.tracer.spans if s.parent_id is None}
        spans = [s for s in self.tracer.spans if roots[s.call_id] == "call"]
        tot = totals(spans)
        st = self_times(spans)

        def per_call(span_name):
            return tot.get(span_name, (0, 0.0))[1] / n

        def mean(key):
            return sum(r.get(key, 0) for r in traced) / n

        def by_op(op):
            w = [r["wall_s"] for r in traced if r["name"] == op]
            return statistics.mean(w) if w else 0.0

        spark_tot = {k: sum(r["spark"][k] for r in traced) / n for k in ("jobs", "stages", "tasks")}
        cache = {k: sum(r["cache"].get(k, 0) for r in traced) / n
                 for k in ("grain_hits", "grain_misses", "grain_evictions")}
        last = self.records[-1].get("cache_entries", {})
        writes = [r for r in traced if "files_written" in r]
        m: dict[str, tuple[float, str]] = {
            "session.get_spark_s": (self.detail["setup"]["get_spark_s"], "s"),
            "registry.all_queries_s": (self.detail["setup"]["registry_import_s"], "s"),
            "loader.load_table_s": (per_call("loader.load_table"), "s/call"),
            "loader.load_table_calls": (tot.get("loader.load_table", (0, 0))[0] / n, "count/call"),
            "loader.relation_cache_entries": (last.get("relation_entries", 0), "count"),
            "operators.plan_build_s": (per_call("operators.plan_build"), "s/call"),
            "spark.plan_s": (per_call("spark.plan"), "s/call"),
            "spark.action_s": (per_call("spark.action"), "s/call"),
            "spark.jobs": (spark_tot["jobs"], "count/call"),
            "spark.stages": (spark_tot["stages"], "count/call"),
            "spark.tasks": (spark_tot["tasks"], "count/call"),
            "arrow.result_rows": (mean("result_rows"), "rows/call"),
            "arrow.result_bytes": (mean("result_bytes"), "B/call"),
            "grain_cache.hits": (cache["grain_hits"], "count/call"),
            "grain_cache.misses": (cache["grain_misses"], "count/call"),
            "grain_cache.evictions": (cache["grain_evictions"], "count/call"),
            "pq.index_cache_entries": (last.get("pq_index_entries", 0), "count"),
            "graph.edge_cache_entries": (last.get("edge_entries", 0), "count"),
            "kmeans.kmeans_fit_s": (per_call("kernel.kmeans_fit"), "s/call"),
            # the PQ index is built once, in the warm-up, and cached
            "pq.pq_train_s": (totals(self.tracer.spans).get(
                "kernel.pq_train", (0, 0.0))[1], "s"),
            "local_rel.local_relation_calls": (
                tot.get("kernel.local_relation", (0, 0))[0] / n, "count/call"),
            "writes.call_s": (
                statistics.mean([r["wall_s"] for r in writes]) if writes else 0.0, "s"),
            "writes.bytes_written": (
                statistics.mean([r["bytes_written"] for r in writes]) if writes else 0.0, "B"),
            "writes.files_written": (
                statistics.mean([r["files_written"] for r in writes]) if writes else 0.0, "count"),
            "datacube.zonal_stats_s": (by_op("zonal_stats"), "s"),
            "datacube.zonal_stats_tiled_s": (by_op("zonal_stats_tiled"), "s"),
            "datacube.assigned_per_scanned": (self.assigned_per_scanned(traced), "ratio"),
            "geometry.points_in_polygons_s": (by_op("points_in_polygons"), "s"),
            "geometry.pairs_evaluated": (self.pairs(), "count"),
            "geometry.inside_per_pair": (self.inside_per_pair(traced), "ratio"),
            "self.call_s": (st.get("call", 0.0) / n, "s/call"),
            "self.operators_s": (st.get("operators.plan_build", 0.0) / n, "s/call"),
            "self.loader_s": (st.get("loader.load_table", 0.0) / n, "s/call"),
            "self.kernels_s": (
                sum(v for k, v in st.items() if k.startswith("kernel.")) / n, "s/call"),
            "self.spark_plan_s": (st.get("spark.plan", 0.0) / n, "s/call"),
            "self.spark_action_s": (st.get("spark.action", 0.0) / n, "s/call"),
            "trace.call_wall_s": (per_call("call"), "s/call"),
            "trace.overhead_s": (self.trace_overhead(traced, untraced), "s/call"),
        }
        return m

    def trace_overhead(self, traced, untraced) -> float:
        """Mean traced call wall minus mean untraced call wall; both modes
        ran every key equally often."""
        if not traced or not untraced:
            return 0.0
        t = statistics.mean(r["wall_s"] for r in traced)
        u = statistics.mean(r["wall_s"] for r in untraced)
        return t - u

    def assigned_per_scanned(self, recs) -> float:
        got = [
            sum(row for row in r["result"]["n_pixels"]) / self.zonal.pixels
            for r in recs
            if r["name"] in ("zonal_stats", "zonal_stats_tiled") and "result" in r
        ]
        return statistics.mean(got) if got else 0.0

    def pairs(self) -> float:
        if not self.zonal_workload:
            return 0.0
        return float(self.zonal.points * len(self.zonal.edges))

    def inside_per_pair(self, recs) -> float:
        got = [
            sum(r["result"]["count"]) / self.pairs()
            for r in recs
            if r["name"] == "points_in_polygons" and "result" in r
        ]
        return statistics.mean(got) if got else 0.0

    def defect_probe(self) -> None:
        """Repeat the known ``assign_zones`` width defect once, untimed and
        outside the calls: ``zonal_stats`` on a raster ``DEFECT_WIDTH`` wide
        and at least two tile rows high, checked like a timed call. The
        outcome goes to the detail and the printed report."""
        if not self.zonal_workload:
            return
        from perfbench import workloads

        z = workloads.zonal_inputs(self.args.seed, max(self.args.sf, 0.1),
                                   workloads.DEFECT_WIDTH)
        frames = self.zonal_frames(z)
        pdf = self.datacube.zonal_stats(frames["pixels"], frames["zones"]).toPandas()
        problems = workloads.check_zonal(pdf, workloads.zonal_reference(z))
        self.detail["known_defect"] = {
            "what": "datacube.assign_zones prunes tiles as if the raster were 2048 wide",
            "width": z.width,
            "height": z.height,
            "reproduced": bool(problems),
            "problems": problems,
        }

    # -------------------------------------------------------------------- run
    def provenance(self) -> dict:
        p = self.detail["provenance"]
        p.update(git_state())
        p["nproc"] = os.cpu_count()
        p["spark_master"] = f"local[{SPARK_CPUS}]"
        p["workload"] = self.args.workload
        p["seed"] = self.args.seed
        p["seconds"] = self.args.seconds
        p["sf"] = self.args.sf
        if not self.zonal_workload:
            from zonal_datacube_spark.sources.loader import TABLES, source_stamp

            p["sf_dir"] = self.sf_dir
            p["source_stamps"] = {
                t: list(source_stamp(os.path.join(self.sf_dir, f"{t}.parquet"))) for t in TABLES
            }
        p["loadavg_before"] = list(self.load_before)
        p["loadavg_after"] = list(self.load_after)
        p["warmup_calls"] = self.call_list
        return p

    def run(self) -> dict:
        self.make_inputs()
        self.setup()
        self.measure()
        self.check()
        self.defect_probe()
        return self.summarize()

    def summarize(self) -> dict:
        """The result line; the detail (provenance, calls, spans) goes to
        ``self.detail``."""
        self.provenance()
        attempted = len(self.records)
        failed = sum(1 for r in self.records if "error" in r or "wrong" in r)
        metrics = self.per_layer() if self.args.trace else self.end_to_end()
        calls = [r for r in self.records if not r["traced"]]
        walls = [r["wall_s"] for r in calls]
        self.detail["summary"] = {
            "passes": self.passes,
            "calls": len(calls),
            "failed_frac": failed / attempted,
            "latency_p90_s": percentile(walls, 0.9),
            # p90 counts only with at least ten samples beyond it
            "latency_p90_qualified": len(walls) >= 100,
            "errors": sorted({r["error"] for r in self.records if "error" in r}),
            "wrong": sorted({r["name"] for r in self.records if "wrong" in r}),
            "cache": {
                **{k: sum(r["cache"].get(k, 0) for r in self.records)
                   for k in ("grain_hits", "grain_misses", "grain_evictions")},
                **self.records[-1]["cache_entries"],
            },
        }
        self.detail["spans"] = [s.to_json() for s in self.tracer.spans]
        self.detail["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": self.detail["metrics"],
        }

    def close(self, graceful: bool = True) -> None:
        """Stop the session (at once, if not ``graceful``) and wait for its
        JVM, and with it the Python workers, to exit."""
        if self.spark is None:
            return
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        if graceful:
            self.spark.stop()
        if proc is None:
            return
        proc.stdin.close()  # the gateway exits when its stdin closes
        if not graceful:
            proc.kill()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def arrow_bytes(pdf) -> int:
    import pyarrow as pa

    try:
        return pa.Table.from_pandas(pdf, preserve_index=False).nbytes
    except (pa.ArrowException, TypeError, ValueError):
        return int(pdf.memory_usage(index=False, deep=True).sum())


def quick_hash(pdf) -> int | None:
    """Row-order-insensitive hash of the raw result, or None if a cell
    type cannot be hashed."""
    import pandas as pd

    try:
        return int(pd.util.hash_pandas_object(pdf, index=False).sum()) ^ hash(tuple(pdf.columns))
    except TypeError:
        return None


def canon_hash(canon) -> str:
    h = hashlib.sha1("\x1f".join(canon.columns).encode())
    h.update(canon.to_csv(index=False, header=False).encode())
    return h.hexdigest()


def stop_children() -> None:
    """Kill and reap every child process still running: a JVM whose launch
    a signal interrupted is not yet known to the session."""
    me = str(os.getpid())
    children = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat.rsplit(")", 1)[1].split()[1] == me:
            children.append(int(entry))
    for pid in children:
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "zonal_datacube_spark")):
        print(f"library not found under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work)
    configure_env(work)
    bench = Bench(args, work)
    try:
        try:
            result = bench.run()
        except BaseException:
            bench.close(graceful=False)
            stop_children()
            raise
        bench.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(bench.detail, f, default=str)
    s, p = bench.detail["summary"], bench.detail["provenance"]
    print(f"workload {args.workload} seed {args.seed}: {result['attempted']} calls "
          f"({s['calls']} untraced) in {s['passes']} passes, failed_frac {s['failed_frac']:.4f}, "
          f"detail in {os.path.relpath(out, ROOT)}")
    print(f"  tree {p['sha']} dirty={p['dirty']}, nproc {p['nproc']}, {p['spark_master']}, "
          f"loadavg {p['loadavg_before'][0]:.2f} -> {p['loadavg_after'][0]:.2f}")
    if "known_defect" in bench.detail:
        d = bench.detail["known_defect"]
        print(f"  known defect, untimed, not in the calls: {d['what']}; at width "
              f"{d['width']} reproduced={d['reproduced']}: {'; '.join(d['problems'])[:300]}")
    for k, m in result["metrics"].items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
