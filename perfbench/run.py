#!/usr/bin/env python3
"""Benchmark of the raster-tiles engine, driven from outside through its
public functions.

    python3 perfbench/run.py --workload ingest_tiles --seed 1 --seconds 2 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 2 --trace 0

One process runs Spark at local[<cores this process may use>] with one
closed-loop client: each operation is issued after the previous one
returned. A run builds the seeded inputs (set-up, repeated and reported
as a median, plus one unmeasured warm-up pass), then runs passes of
checked operations for ``--seconds``. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it carries the workload-specific metrics, input sizes and the
host-load probe.

With ``--trace 1`` the session keeps a local event log, and passes
alternate between untraced ones and traced ones, which run every span
under its own Spark job group; the log is folded per span after the
session stops.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOAD_NAMES = ("ingest_tiles", "spatial_query", "geo_export", "caption_dedup")
SETUP_REPEATS = 3
MEASURED_PASSES = 2
TRACE_PAIRS = 2

SETUP_SPANS = ("plans.session.get_spark", "sources.synth.images_df", "setup.points_table",
               "setup.corpus")
OP_SPANS = (
    "operators.extract.extract_points", "operators.tiling.tile_histogram",
    "api.Converter.catalog", "operators.tiling.catalog_rollup", "operators.zonal.zonal_stats",
    "operators.joins.cell_cover_candidates", "operators.joins.cell_cover_join",
    "operators.joins.knn_join", "request.zonal", "request.knn",
    "api.Converter.convert", "operators.sinks.write_compressed_outputs",
    "plans.catalog.run_partitioned_job",
    "operators.dedup.exact_dedup", "operators.dedup.jaccard_pairs",
    "operators.similarity.cosine_pairs", "operators.similarity.ivf_topk",
)
SPAN_FIELDS = (("self_s", "s"), ("tasks", "count"), ("queue_s", "s"), ("shuffle_mb", "MB"),
               ("py_mb", "MB"), ("rows_out", "count"))
KERNELS = (("sources.codecs.decode_mpix_per_s", "Mpix/s"),
           ("functions.projection.to_wgs84_mpts_per_s", "Mpts/s"),
           ("functions.cells.cell_id_mpts_per_s", "Mpts/s"),
           ("functions.geometry.points_in_polygon_mpts_per_s", "Mpts/s"))
RATIOS = (("operators.joins.cell_cover_join.useful_ratio", "1"),
          ("operators.joins.knn_join.inexact_share", "1"),
          ("operators.extract.rows_per_pixel", "1"),
          ("spark.py_task_fixed_ms", "ms"),
          ("spark.python_cpu_s", "s"),
          ("spark.jvm_cpu_s", "s"),
          ("spark.jit_cpu_s", "s"),
          ("spark.jvm_peak_rss_mb", "MB"),
          ("spark.python_peak_rss_mb", "MB"),
          ("trace.overhead_s", "s"))
END_TO_END = (("setup_s", "s"), ("pass_cpu_s", "s"))


def per_layer_units() -> dict:
    out = {f"{n}.self_s": "s" for n in SETUP_SPANS}
    for n in OP_SPANS:
        out.update({f"{n}.{f}": u for f, u in SPAN_FIELDS})
    out.update(dict(KERNELS))
    out.update(dict(RATIOS))
    return out


# --- process accounting ---------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_TICKS = os.sysconf("SC_CLK_TCK")


class CpuClock:
    """CPU seconds (user + system) used so far by this process and every
    process it started, the reaped ones included: in total, in this
    (driver) process, in the Python workers, and in the JVM's JIT compiler
    and garbage collector threads. The JVM starts and retires those
    threads as it goes, so the last reading of every one ever seen counts."""

    THREAD_KINDS = (("jit", ("C1 CompilerThre", "C2 CompilerThre")), ("gc", ("GC Thread", "G1 ")))

    def __init__(self):
        self.threads: dict[tuple, tuple] = {}  # (pid, tid) -> (kind or None, last ticks)
        self.is_jvm: dict[int, bool] = {}

    def _jvm(self, pid: int) -> bool:
        if pid not in self.is_jvm:
            with open(f"/proc/{pid}/comm") as f:
                self.is_jvm[pid] = f.read().strip() == "java"
        return self.is_jvm[pid]

    def _scan_threads(self, pid: int) -> None:
        for tid in os.listdir(f"/proc/{pid}/task"):
            key = (pid, tid)
            kind = self.threads[key][0] if key in self.threads else self._kind(pid, tid)
            if kind is None:
                self.threads[key] = (None, 0)
                continue
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    self.threads[key] = (kind, sum(int(v) for v in f.read().rsplit(")", 1)[1].split()[11:13]))
            except (OSError, IndexError, ValueError):
                continue

    @classmethod
    def _kind(cls, pid: int, tid: str):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                comm = f.read()
        except OSError:
            return None
        return next((k for k, prefixes in cls.THREAD_KINDS if comm.startswith(prefixes)), None)

    def read(self) -> dict:
        me = os.getpid()
        out = dict.fromkeys(("cpu_s", "driver_s", "python_s", "jit_s", "gc_s"), 0)
        for pid in [me] + descendants(me):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ticks = sum(int(v) for v in f.read().rsplit(")", 1)[1].split()[11:15])
                jvm = pid != me and self._jvm(pid)
                if jvm:
                    self._scan_threads(pid)
            except (OSError, IndexError, ValueError):
                continue
            out["cpu_s"] += ticks
            if pid == me:
                out["driver_s"] += ticks
            elif not jvm:
                out["python_s"] += ticks
        for kind, ticks in self.threads.values():
            if kind is not None:
                out[f"{kind}_s"] += ticks
        return {k: v / _TICKS for k, v in out.items()}


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class RssSampler(threading.Thread):
    """Peaks of the resident set of every process this one started, sampled
    from /proc: the Spark JVM, its Python workers, and their sum."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period, self._stop_evt = period, threading.Event()
        self.peak = {"total": 0, "jvm": 0, "python": 0}
        self.page = os.sysconf("SC_PAGE_SIZE")

    def run(self):
        while not self._stop_evt.is_set():
            now = {"total": 0, "jvm": 0, "python": 0}
            for pid in descendants(os.getpid()):
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        rss = int(f.read().split()[1]) * self.page
                    with open(f"/proc/{pid}/comm") as f:
                        kind = "jvm" if f.read().strip() == "java" else "python"
                except (OSError, IndexError, ValueError):
                    continue
                now[kind] += rss
                now["total"] += rss
            self.peak = {k: max(v, now[k]) for k, v in self.peak.items()}
            self._stop_evt.wait(self.period)

    def stop(self):
        self._stop_evt.set()
        self.join()


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while any(_alive(p) for p in started) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in started:
            if _alive(p):
                try:
                    os.kill(p, 9)
                except OSError:
                    pass


# --- operations -------------------------------------------------------------------

class Ops:
    """Runs one checked operation inside its span; counts attempts and
    failures. A failure is an exception or a failed output check."""

    def __init__(self, tracer, clock):
        self.tracer = tracer
        self.attempted = self.failed = 0
        self.times = defaultdict(list)  # name -> seconds, measured passes only
        self.clock = clock
        self.cpu = defaultdict(float)  # CpuClock.read() keys -> seconds inside operations

    def run(self, name, fn, check, pass_id, rows=len):
        self.attempted += 1
        try:
            cpu0 = self.clock.read()
            with self.tracer.span(name, pass_id) as sp:
                out = fn()
            for k, v in self.clock.read().items():
                self.cpu[k] += v - cpu0[k]
            sp["rows"] = rows(out)
            if pass_id >= 0:
                self.times[name].append(sp["end"] - sp["start"])
            ok = bool(check(out))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {name} (pass {pass_id})", file=sys.stderr)

    def median_times(self) -> dict:
        return defaultdict(lambda: math.nan, {k: statistics.median(v) for k, v in self.times.items()})


# --- probes -------------------------------------------------------------------------

def _best_rate(fn, units: float, reps: int = 3) -> float:
    best = math.inf
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return units / best / 1e6


def kernel_rates(wl) -> dict:
    """Single-process numpy rates of the kernels under the extract, tiling
    and join layers, on this workload's own images and points."""
    if wl.ids is None:
        return {name: 0.0 for name, _ in KERNELS}
    import numpy as np

    from tiff_to_geojson_csv_json_format_converter_spark.functions import affine, cells, geometry, projection
    from tiff_to_geojson_csv_json_format_converter_spark.sources import codecs, synth

    import inputs

    recs = synth.generate_pandas(wl.ids, len(wl.ids), inputs.IMAGE_SIZES).to_dict("records")
    pixels = sum(r["w"] * r["h"] * r["band_count"] for r in recs)
    coords = []
    for r in recs:
        idx = np.arange(r["w"] * r["h"])
        x, y = affine.pixel_to_world(r["transform"], idx // r["w"], idx % r["w"])
        coords.append((x, y, r["crs"]))
    pts = wl.kernel_points
    return {
        "sources.codecs.decode_mpix_per_s": _best_rate(
            lambda: [codecs.decode(r["bytes"], r["fmt"], r["w"], r["h"] * r["band_count"]) for r in recs],
            pixels),
        "functions.projection.to_wgs84_mpts_per_s": _best_rate(
            lambda: [projection.to_wgs84(x, y, crs) for x, y, crs in coords], sum(len(c[0]) for c in coords)),
        "functions.cells.cell_id_mpts_per_s": _best_rate(
            lambda: cells.cell_id(pts["lon"], pts["lat"], 12), len(pts["lon"])),
        "functions.geometry.points_in_polygon_mpts_per_s": _best_rate(
            lambda: geometry.points_in_polygon(pts["lon"], pts["lat"], [synth.GOLDEN_DELHI_RING]),
            len(pts["lon"])),
    }


def _identity(batches):
    yield from batches


def py_task_fixed_ms(spark, tasks: int = 16, reps: int = 3) -> float:
    """Per-task cost of an identity mapInArrow minus the same stage run
    JVM-only (wall-clock difference over the task count)."""
    df = spark.range(0, tasks * 1024, numPartitions=tasks)

    def timed(frame):
        out = []
        for _ in range(reps):
            t0 = time.perf_counter()
            frame.write.format("noop").mode("overwrite").save()
            out.append(time.perf_counter() - t0)
        return statistics.median(out)

    with_py = timed(df.mapInArrow(_identity, "id long"))
    return (with_py - timed(df)) / tasks * 1000.0


# --- the run ----------------------------------------------------------------------------

def per_layer(tracer, wl, fold, extra) -> dict:
    from spans import self_times

    st = self_times(tracer.spans)
    out = {}
    for name in SETUP_SPANS:
        vals = [st[s["id"]] for s in tracer.spans if s["name"] == name]
        out[f"{name}.self_s"] = statistics.median(vals) if vals else 0.0
    medians = {}
    for name in OP_SPANS:
        occ = [s for s in tracer.spans if s["name"] == name and s["group"] is not None and s["pass"] >= 0]
        for field, _ in SPAN_FIELDS:
            if field == "self_s":
                vals = [st[s["id"]] for s in occ]
            elif field == "rows_out":
                vals = [s["rows"] or 0 for s in occ]
            else:
                vals = [fold.get(s["group"], {}).get(field, 0) for s in occ]
            medians[(name, field)] = out[f"{name}.{field}"] = statistics.median(vals) if vals else 0.0
    out.update(kernel_rates(wl))
    cand = medians[("operators.joins.cell_cover_candidates", "rows_out")]
    out["operators.joins.cell_cover_join.useful_ratio"] = (
        medians[("operators.joins.cell_cover_join", "rows_out")] / cand if cand else 0.0)
    knn_rows = getattr(wl, "knn_rows", 0)
    out["operators.joins.knn_join.inexact_share"] = wl.inexact_rows / knn_rows if knn_rows else 0.0
    emitted = medians[("operators.extract.extract_points", "rows_out")]
    out["operators.extract.rows_per_pixel"] = emitted / wl.pixels if getattr(wl, "pixels", 0) else 0.0
    out.update(extra)
    return out


@contextmanager
def measured(clock: CpuClock, into: list):
    """Appends the wall seconds of the block and its CpuClock deltas to ``into``."""
    w0, c0 = time.perf_counter(), clock.read()
    yield
    into.append({"wall_s": time.perf_counter() - w0, **{k: v - c0[k] for k, v in clock.read().items()}})


def _median_of(recs: list, key) -> float:
    return statistics.median(key(r) for r in recs) if recs else math.nan


def bench(args, cpus: int, work: str, rss: RssSampler):
    from tiff_to_geojson_csv_json_format_converter_spark.plans import session

    import spans
    import workloads
    # the host probe bench.py stamps beside its numbers: recorded, never used to correct one
    from bench import PROBE_REF_SEC, make_host_probe

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    events = os.path.join(work, "events")
    if args.trace:
        os.makedirs(events)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{events}",
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    tracer = spans.Tracer()
    clock = CpuClock()
    setup = defaultdict(list)  # phase -> [{wall_s, CpuClock.read() deltas}] of each time it ran
    with measured(clock, setup["session"]), tracer.span("plans.session.get_spark"):
        spark = session.get_spark(master=f"local[{cpus}]", extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ops = Ops(tracer, clock)
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, tracer, ops, work)
        for r in range(SETUP_REPEATS):
            if r:
                wl.release()
            with measured(clock, setup["inputs"]):
                wl.setup_inputs()
        wl.build_oracle()
        # one unmeasured warm-up pass: first-call costs (Python workers, JIT, codegen) stay out of the passes
        with measured(clock, setup["warmup"]):
            wl.run_pass(-1)
        wl.after_pass(-1)
        setup_cost = {k: setup["session"][0][k] + _median_of(setup["inputs"], lambda r: r[k]) + setup["warmup"][0][k]
                      for k in ("wall_s", "cpu_s")}

        probe = make_host_probe()
        probe_before = probe()
        passes = {"untraced": [], "traced": []}
        start = time.perf_counter()
        p = 0
        # at least MEASURED_PASSES passes, so every run measures the same stretch of the JVM's
        # warm-up. The traced run orders its passes untraced, traced, traced, untraced, ..., so
        # the JVM still warming up favours neither side, until it has TRACE_PAIRS of each at least
        while (time.perf_counter() - start < args.seconds
               or len(passes["untraced"]) < (TRACE_PAIRS if args.trace else MEASURED_PASSES)
               or (args.trace and len(passes["traced"]) < TRACE_PAIRS)):
            tracer.sc = spark.sparkContext if args.trace and p % 4 in (1, 2) else None
            t0, cpu0 = time.perf_counter(), dict(ops.cpu)
            wl.run_pass(p)
            passes["untraced" if tracer.sc is None else "traced"].append(
                {"wall_s": time.perf_counter() - t0, **{k: v - cpu0.get(k, 0.0) for k, v in ops.cpu.items()}})
            wl.after_pass(p)
            if tracer.sc is not None:
                wl.extra_probes(p)
            p += 1
        probe_after = probe()

        extra = {}
        if args.trace:
            tracer.sc = spark.sparkContext
            wl.trace_probes(p)
            tracer.sc = None
            extra["spark.py_task_fixed_ms"] = py_task_fixed_ms(spark)
            extra["trace.overhead_s"] = (_median_of(passes["traced"], lambda r: r["cpu_s"])
                                         - _median_of(passes["untraced"], lambda r: r["cpu_s"]))
            untraced = passes["untraced"]
            extra["spark.python_cpu_s"] = _median_of(untraced, lambda r: r["python_s"])
            extra["spark.jvm_cpu_s"] = _median_of(
                untraced, lambda r: r["cpu_s"] - r["python_s"] - r["driver_s"] - r["jit_s"])
            extra["spark.jit_cpu_s"] = _median_of(untraced, lambda r: r["jit_s"])
    finally:
        stop_spark(spark)

    fold = {}
    if args.trace:
        for name in os.listdir(events):
            with open(os.path.join(events, name)) as f:
                fold.update(spans.fold_event_log(f))
    tracer.dump(os.path.join(WORK, f"spans-{args.workload}-s{args.seed}-t{args.trace}.json"))

    e2e = {"setup_s": (setup_cost["cpu_s"], "s"),
           "pass_cpu_s": (_median_of(passes["untraced"], lambda r: r["cpu_s"]), "s")}
    extra["spark.jvm_peak_rss_mb"] = rss.peak["jvm"] / 1e6
    extra["spark.python_peak_rss_mb"] = rss.peak["python"] / 1e6
    if args.trace:
        metrics = per_layer(tracer, wl, fold, extra)
        units = per_layer_units()
        metrics = {k: (metrics[k], units[k]) for k in units}
    else:
        metrics = e2e
    detail = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus, "trace": args.trace,
        "sizes": wl.sizes(),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {
            **e2e, "setup_wall_s": (setup_cost["wall_s"], "s"),
            "pass_s": (_median_of(passes["untraced"], lambda r: r["wall_s"]), "s"),
            **wl.detail(),
            "peak_rss_mb": (rss.peak["total"] / 1e6, "MB"),
            "error_rate": (ops.failed / max(ops.attempted, 1), "1"),
        }.items()},
        "op_s": dict(ops.median_times()),
        "setup": dict(setup),
        "passes": passes,
        "host_probe": {"before_s": probe_before, "after_s": probe_after,
                       "ratio_before": probe_before / PROBE_REF_SEC, "ratio_after": probe_after / PROBE_REF_SEC},
        "jobs_outside_traced_spans": fold.get(None, {}).get("jobs", 0),
    }
    return ops, metrics, detail


def _scrub(obj):
    """JSON-safe copy: NaN and infinities (metrics of failed operations)
    become null."""
    if isinstance(obj, dict):
        return {k: _scrub(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [_scrub(v) for v in obj]
    if isinstance(obj, float) and not math.isfinite(obj):
        return None
    return obj


def run_all(args) -> int:
    """Every workload in its own process; prints each one's lines and a
    combined last line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = res.stdout.strip().splitlines()
        print("\n".join(lines[:-1] if lines else []))
        if res.returncode != 0 or not lines:
            print(f"perfbench: workload {name} exited {res.returncode}", file=sys.stderr)
            return 1
        last = json.loads(lines[-1])
        print(json.dumps({"workload": name, **last}))
        combined["correct"] &= last["correct"]
        combined["attempted"] += last["attempted"]
        combined["failed"] += last["failed"]
        combined["metrics"].update({f"{name}.{k}": v for k, v in last["metrics"].items()})
    print(json.dumps(combined))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)

    sys.path[:0] = [ROOT, HERE]
    try:
        import tiff_to_geojson_csv_json_format_converter_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the library is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # the JVM, its Python workers and every temporary file stay in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the spark-submit launcher too): temp files in the work dir, no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    rss = RssSampler()
    rss.start()
    try:
        ops, metrics, detail = bench(args, cpus, work, rss)
    finally:
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(_scrub({"detail": detail})))
    print(json.dumps(_scrub({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })))
    return 0


if __name__ == "__main__":
    sys.exit(main())
