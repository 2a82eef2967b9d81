"""One benchmark run inside one local Spark application.

Started by ``perfbench/run.py`` with its pinned environment; prints a
report line and then, as its last line of output, the result object
that ``BENCHMARK.json`` describes. Run it through ``run.py``.
"""

from __future__ import annotations

import json
import os
import platform
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    tiny: bool
    plant: str | None
    root: str  # the checkout
    work: str  # this run's scratch dir inside the checkout


def _host() -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "mem_gb": round(mem_kb / 1024**2, 1),
        "heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def main(argv: list[str]) -> int:
    args = json.loads(argv[1])
    root = os.getcwd()
    sys.path[:0] = [root, HERE]
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args["trace"] else spec["end_to_end"]
    ctx = Context(
        workload=args["workload"], seed=args["seed"], seconds=args["seconds"],
        trace=bool(args["trace"]), tiny=args["size"] == "tiny", plant=args["plant"],
        root=root, work=args["work"],
    )

    import etl
    import suites
    import tracing
    from etl_gcp_function_tmabrasil_spark.session import get_spark

    if ctx.workload not in etl.SHAPES and ctx.workload not in suites.SUITES:
        print(f"unknown workload {ctx.workload!r}", file=sys.stderr)
        return 2
    run_workload = etl.run if ctx.workload in etl.SHAPES else suites.run
    event_dir = os.path.join(ctx.work, "eventlog")
    conf = {"spark.ui.showConsoleProgress": "false"}
    if ctx.trace:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(tracing.EVENT_LOG_CONF, **{"spark.eventLog.dir": "file:" + event_dir})
    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{ctx.workload}", extra_conf=conf)
    start_s = time.perf_counter() - t
    jvm = tracing.jvm_pid(spark)
    try:
        out = run_workload(spark, ctx)
        rss_mb = tracing.peak_rss_mb(jvm)
    finally:
        spark.stop()
    if ctx.trace:
        spark_totals = tracing.sum_groups(tracing.fold_event_log(event_dir), out["groups"])
        values = {
            "session.start_s": start_s,
            "session.jvm_peak_rss_mb": rss_mb,
            **{f"spark.{k}": v / out["reps"] for k, v in spark_totals.items()},
            "trace.work_s": out["work_s"],
            **out["layers"],
        }
    else:
        values = {
            "setup_s": start_s + out["setup_s"],
            "work_s": out["work_s"],
            "op_geomean_s": out["op_geomean_s"],
        }
    attempted, failed = out["attempted"], out["failed"]
    report = {
        "workload": ctx.workload, "seed": ctx.seed, "trace": int(ctx.trace),
        "host": _host(),
        "setup_s": {"value": start_s + out["setup_s"], "unit": "s"},
        "failed_share": {"value": failed / max(1, attempted), "unit": "1"},
        **out["figures"],
        **out["report"],
    }
    print("report " + json.dumps(report, default=str), flush=True)
    metrics = {}
    for m in wanted:
        # a layer this workload never enters reads 0; an end-to-end
        # metric must always be measured
        v = values.get(m["name"], None if wanted is spec["end_to_end"] else 0.0)
        if v is None:
            print(f"metric {m['name']} was not measured", file=sys.stderr)
            return 3
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
