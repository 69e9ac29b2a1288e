"""End-to-end benchmark of the KG package: building a graph from a seeded
crawl, and querying it.

    python3 perfbench/run.py --workload build|query --seed N \
        --seconds S --trace 0|1

Run from the repository root: the package is imported from there, and all
inputs, stage directories and Spark scratch live under the root's
`.perfbench_work/` (removed at exit) while span dumps and the per-seed digest
records go to `.perfbench_out/`. The deployment (cores, partitions, heap,
codec, corpus size) is pinned in perfbench/config.json and echoed into every
result.

Output: one `{"perfbench": {...}}` line with the run's context (config,
host-noise sentinel before/after, CPU time stolen by the hypervisor during the
run, failed-ops ratio, per-operation latencies, tail percentile, check
failures), then, as the last line, the result object
`{"correct", "attempted", "failed", "metrics"}`. With --trace 0 the metrics are
the end-to-end ones of BENCHMARK.json; with --trace 1 the run is traced and
the metrics are its per-layer ones.

End-to-end metrics, per workload (one operation = one build of the graph
downstream of the pages stage / one request):
  setup_s       process start through set-up (JVM, inputs, the pages stage;
                for query also the graph build), less the benchmark's own
                sentinel and checks
  op_p50_ms     median operation latency
  items_per_s   docs built / requests answered per second
  peak_rss_mb   peak RSS of this process, the Spark JVM and its Python workers
"""

from __future__ import annotations

import argparse
import fnmatch
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "vanna_financial_knowledge_graph_spark"


def resolve_config() -> dict:
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    cpus = len(os.sched_getaffinity(0)) if cfg["cpus"] == "nproc" else int(cfg["cpus"])
    cfg.update(
        cpus=cpus,
        shuffle_partitions=cfg["shuffle_partitions_per_cpu"] * cpus,
        repartition=cfg["repartition_per_cpu"] * cpus,
    )
    return cfg


def pin_environment(cfg: dict, root: str, work: str) -> None:
    """Everything Spark, the JVM and Python workers write goes under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    local = os.path.join(work, "spark-local")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cfg["cpus"]),
        VKG_DRIVER_MEM=cfg["driver_mem"],
        VKG_STAGE_CODEC=cfg["stage_codec"],
        VKG_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        VKG_WAREHOUSE=os.path.join(work, "warehouse"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Spark JVM only: a fixed, pre-touched heap, so its resident size
        # no longer depends on when the collector decided to grow the heap
        # and peak_rss_mb moves with the off-heap and Python-worker footprint
        SPARK_SUBMIT_OPTS=f"-Xms{cfg['driver_mem']} -XX:+AlwaysPreTouch",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
        PYTHONPATH=os.pathsep.join(
            [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    )


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process this run
    started has exited."""
    from checks import descendants
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — any failure to exit: kill it
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while True:
        left = [p for p in descendants(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.2)


def tail(samples: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it."""
    xs = sorted(samples)
    k = len(xs) - 11
    if k < 0:
        return None
    return {"percentile": round(100 * (k + 1) / len(xs), 1), "ms": xs[k], "n": len(xs)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["build", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path.insert(0, root)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found in {root}", file=sys.stderr)
        return 2

    cfg = resolve_config()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    pin_environment(cfg, root, work)

    from checks import host_steal_s, peak_rss_mb, process_age_s, sentinel_s

    steal0 = host_steal_s()
    t0 = time.perf_counter()
    sentinel_pre = sentinel_s()
    sentinel_cost_s = time.perf_counter() - t0
    from workloads import MEASURED, WORKLOADS, Run

    from vanna_financial_knowledge_graph_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}", cpus=cfg["cpus"],
                      shuffle_partitions=cfg["shuffle_partitions"])
    try:
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(spark, cfg, args.seed, args.seconds, bool(args.trace), work, out_dir,
                  args.workload)
        setup: dict = {}
        res = WORKLOADS[args.workload](run, lambda: setup.setdefault("s", process_age_s()))
        rss = peak_rss_mb(os.getpid())
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    sentinel_post = sentinel_s()
    steal = host_steal_s() - steal0
    run.record.save()

    e2e = {
        "setup_s": setup["s"] + run.setup_extra_s - sentinel_cost_s - run.check_s,
        "op_p50_ms": statistics.median(res["op_ms"]),
        "items_per_s": res["items_per_s"],
        "peak_rss_mb": sum(rss.values()),
    }
    if args.trace:
        spans_file = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
        run.tracer.dump(spans_file)
        measured = MEASURED[args.workload]
        missing, metrics = [], {}
        for m in bench["per_layer"]:
            name = m["name"]
            if any(fnmatch.fnmatchcase(name, p) for p in measured):
                if name not in run.layer:
                    missing.append(name)
                    continue
                value = run.layer[name]
            else:
                value = 0  # a layer this workload bypasses
            metrics[name] = {"value": value, "unit": m["unit"]}
        if missing:
            print(f"perfbench: traced {args.workload} run produced no span data for "
                  f"per-layer metrics {missing}", file=sys.stderr)
            return 3
    else:
        spans_file = None
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}

    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "config": cfg,
        "sentinel_s": {"pre": sentinel_pre, "post": sentinel_post},
        "host_steal_s": steal,
        "failed_ops_ratio": run.failed / max(run.attempted, 1),
        "ops": len(res["op_ms"]),
        "op_tail": tail(res["op_ms"]),
        "op_ms": [round(x, 1) for x in res["op_ms"]],
        "end_to_end": e2e,
        "peak_rss_mb_by_program": rss,
        "tracing_overhead_ms_per_op": (
            run.tracer.overhead_s * 1000 / len(res["op_ms"]) if args.trace else None),
        "spans_file": spans_file,
        "failures": run.failures[:20],
        **run.info,
    }
    print(json.dumps({"perfbench": info}), flush=True)
    print(json.dumps({
        "correct": run.failed == 0 and not run.failures,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
