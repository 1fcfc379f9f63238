"""Per-operation jobs, stages, tasks and CPU split: medians over the calls
after the warm-up, of one perfbench workload's operations or of one
entry query.

    cd <tree under test> && PYTHONPATH=$PWD:$PWD/perfbench \
        python <path>/BENCH/op_probe.py <workload> <seed> <passes>
    cd <tree under test> && PYTHONPATH=$PWD:$PWD/perfbench \
        python <path>/BENCH/op_probe.py query <entry query> <sf dir> <calls>

Run it from the directory of the tree under test (Python workers import
the package by working directory), so one copy of this script probes
any tree that has ``perfbench/``. It prints one JSON line per operation.

Each operation runs under perfbench's ``Tracer``, which gives every span
its own Spark job group; ``statusTracker().getJobIdsForGroup`` then gives
that call's jobs and their stages' task counts, and perfbench's
``CpuClock``, read around each call, splits its CPU into driver, Python
workers, JIT, GC and the rest of the JVM. ``compiles`` counts janino
compilations (Spark's ``CodegenMetrics``) during the call.

In ``query`` mode each call collects ``queries()[<entry query>](spark,
<sf dir>)``; a call fails when its rows differ from the warm-up's, and
the line adds the best wall time, the row count and the md5 of the
sorted rows (compare it across trees for "same rows").
"""

import hashlib
import json
import os
import statistics
import sys
from collections import defaultdict


def main(argv: list) -> None:
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
    extra = {}
    if argv[0] == "query":
        from tiff_to_geojson_csv_json_format_converter_spark.plans import entry_queries

        name, sf_dir, n_call = argv[1], argv[2], int(argv[3])
        query, first = entry_queries.queries()[name], []

        def call():
            return sorted(repr(tuple(r)) for r in query(spark, sf_dir).collect())

        def same_rows(rows):
            if not first:
                first.append(rows)
            return rows == first[0]

        for p in range(-1, n_call):  # call -1 is the unrecorded warm-up
            ops.run(name, call, same_rows, p)
        extra[name] = {"wall_best_s": round(min(r["wall_s"] for r in rec[name]), 3),
                       "rows": len(first[0]),
                       "rows_md5": hashlib.md5("\n".join(first[0]).encode()).hexdigest()[:12]}
    else:
        wl = workloads.WORKLOADS[argv[0]](spark, int(argv[1]), tracer, ops,
                                          os.environ.get("TMPDIR", "/tmp"))
        wl.setup_inputs()
        wl.build_oracle()
        for p in range(-1, int(argv[2])):  # pass -1 is the unrecorded warm-up
            wl.run_pass(p)
            wl.after_pass(p)
    for op, rs in sorted(rec.items()):
        print(json.dumps({"op": op, "n": len(rs),
                          **{k: round(statistics.median(r[k] for r in rs), 3) for k in rs[0]},
                          **extra.get(op, {})}))
    run.stop_spark(spark)


if __name__ == "__main__":
    if len(sys.argv) != 4 + (sys.argv[1:2] == ["query"]):
        sys.exit(__doc__)
    main(sys.argv[1:])
