"""Per-operation jobs, stages, tasks and CPU split of one perfbench
workload: medians over the passes after the warm-up.

    cd <tree under test> && PYTHONPATH=$PWD:$PWD/perfbench \
        python <path>/BENCH/op_probe.py <workload> <seed> <passes>

Run it from the directory of the tree under test (Python workers import
the package by working directory), so one copy of this script probes
any tree that has ``perfbench/``. It prints one JSON line per operation.

Each operation runs under perfbench's ``Tracer``, which gives every span
its own Spark job group; ``statusTracker().getJobIdsForGroup`` then gives
that call's jobs and their stages' task counts, and perfbench's
``CpuClock``, read around each call, splits its CPU into driver, Python
workers, JIT, GC and the rest of the JVM. ``compiles`` counts janino
compilations (Spark's ``CodegenMetrics``) during the call.
"""

import json
import os
import statistics
import sys
from collections import defaultdict


def main(name: str, seed: int, n_pass: int) -> None:
    sys.path[:0] = [".", "perfbench"]
    import run
    import spans
    import workloads
    from tiff_to_geojson_csv_json_format_converter_spark.plans import session

    spark = session.get_spark(master=f"local[{len(os.sched_getaffinity(0))}]",
                              extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    st = spark.sparkContext.statusTracker()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    tracer, clock = spans.Tracer(spark.sparkContext), run.CpuClock()  # one job group per span
    rec = defaultdict(list)

    class ProbeOps(run.Ops):
        def run(self, op, fn, check, pass_id, rows=len):
            cpu0, failed0, comp0 = dict(self.cpu), self.failed, compiles.getCount()
            super().run(op, fn, check, pass_id, rows)
            sp = next(s for s in reversed(tracer.spans) if s["name"] == op)
            jobs = st.getJobIdsForGroup(sp["group"])
            infos = [st.getStageInfo(s) for j in jobs for s in st.getJobInfo(j).stageIds]
            ran = [i for i in infos if i is not None and i.numCompletedTasks]
            d = {k: v - cpu0.get(k, 0.0) for k, v in self.cpu.items()}
            if pass_id >= 0:
                rec[op].append({
                    "wall_s": sp["end"] - sp["start"], "jobs": len(jobs), "stages": len(ran),
                    "tasks": sum(i.numCompletedTasks for i in ran),
                    "tasks_planned": sum(i.numTasks for i in infos if i is not None),
                    "cpu_s": d["cpu_s"], "driver_s": d["driver_s"], "python_s": d["python_s"],
                    "jit_s": d["jit_s"], "gc_s": d["gc_s"], "failed": self.failed - failed0,
                    "compiles": compiles.getCount() - comp0,
                    "jvm_rest_s": d["cpu_s"] - d["driver_s"] - d["python_s"] - d["jit_s"] - d["gc_s"]})

    ops = ProbeOps(tracer, clock)
    wl = workloads.WORKLOADS[name](spark, seed, tracer, ops, os.environ.get("TMPDIR", "/tmp"))
    wl.setup_inputs()
    wl.build_oracle()
    for p in range(-1, n_pass):  # pass -1 is the unrecorded warm-up
        wl.run_pass(p)
        wl.after_pass(p)
    for op, rs in sorted(rec.items()):
        print(json.dumps({"op": op, "n": len(rs),
                          **{k: round(statistics.median(r[k] for r in rs), 3) for k in rs[0]}}))
    run.stop_spark(spark)


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    main(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
