"""Routing benchmark over the engine's interactive and batch pipelines.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

NAME is ``point_trips``, ``batch_routing`` (see perfbench/workloads.py) or
``all``, which runs each workload in a fresh process and prints every
metric with its unit and sample count.

One run of a workload, in this process:

1. set-up: Spark session on ``local[N]`` (N = min(4, nproc)), the synthetic
   feed, the day projection and ``WARMUP_CALLS`` warm-up calls. The first
   pays the fresh graph's CSR and stop-bound timetable builds; the rest
   bring the JVM's JIT (default tiered C1/C2) to its steady state, which
   a point trip reaches after ~12 calls (1.6 s -> 1.0 s). ``setup_s`` is
   the process's age when this is done;
2. checks that need no timing (batch_routing: the first call equals
   sequential ``routing`` on every pair's winner; the od_pairs_9 winners);
3. the measured window: ops back to back for ``--seconds``, each output
   checked. With ``--trace 1`` every other op is traced and the run
   reports per-layer metrics instead of end-to-end ones.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``. Lines before it give the run context (cores, master, load,
iowait/steal) and each metric with its sample count. Records and spans are
written under perfbench/.work/.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import proc  # noqa: E402

WORKLOAD_NAMES = ("point_trips", "batch_routing")
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
    "cpu_s_per_op": "s",
    "py_peak_rss_mb": "MB",
}
# Spark's local[N]: pinned, and never more than the machine has
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"
WARMUP_CALLS = 12


def configure_env() -> str:
    """Point every scratch write of Spark, the JVM and Python into the
    checkout, and make the engine importable by Python workers. Returns
    the Spark scratch directory."""
    local_dirs = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    old_path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_LOCAL_DIRS": local_dirs,
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT + (os.pathsep + old_path if old_path else ""),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    })
    sys.path.insert(0, ROOT)
    return local_dirs


def stop_spark(spark) -> list[int]:
    """Stop the session and the JVM, and wait for every process under this
    one (JVM, Python workers) to end. Returns pids that had to be killed."""
    tree = [p for p in proc.descendants(os.getpid()) if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    return proc.wait_gone(tree)


def run_one(args) -> int:
    age0 = proc.process_age_s()
    load0, jiffies0 = proc.loadavg(), proc.cpu_jiffies()
    local_dirs = configure_env()
    from routing_algorithm_for_graph_dbs_spark.session import get_spark

    import workloads as W

    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=CORES)
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()
        tracer.enabled = True  # set-up spans (feed, projection) count too
    problems: list[str] = []

    feed = W.Feed(spark)
    wl = W.WORKLOADS[args.workload](feed, args.seed)
    for _ in range(WARMUP_CALLS):
        warm_args = wl.draw()
        problems += wl.check(warm_args, wl.call(warm_args)).reasons
        if tracer is not None:
            tracer.enabled = False  # set-up spans: feed, projection, first call
    setup_s = proc.process_age_s()

    problems += wl.setup_checks()

    latencies: list[tuple[float, bool]] = []  # (seconds, traced)
    op_log: list[dict] = []  # per-op inputs and latency, for the record file
    attempted = failed = infeasible = 0
    cpu0 = proc.tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    k = 0
    while time.perf_counter() - t0 < args.seconds:
        op_args = wl.draw()
        traced = tracer is not None and k % 2 == 0
        if traced:
            tracer.begin_op(k)
        attempted += wl.ops_per_call
        start = time.perf_counter()
        try:
            out = wl.call(op_args)
        except Exception as e:  # a raising op is a failed op; keep measuring
            failed += wl.ops_per_call
            problems.append(f"op {k} raised {type(e).__name__}: {e}")
            continue
        finally:
            if traced:
                tracer.end_op()
            k += 1
        dt = time.perf_counter() - start
        outcome = wl.check(op_args, out)
        failed += outcome.failed
        infeasible += outcome.infeasible
        problems += outcome.reasons
        latencies.append((dt, traced))
        op_log.append({"args": op_args, "s": dt, "infeasible": outcome.infeasible,
                       # (jobs, stages, tasks) of a traced op
                       "spark": tracer.jobs[-1] if traced else None})
    wall = time.perf_counter() - t0
    cpu = proc.tree_cpu_s(os.getpid()) - cpu0
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

    sc = spark.sparkContext
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "local_n": CORES,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_memory": DRIVER_MEM,
        "spark_local_dirs_fs": proc.fs_type(local_dirs),
        "feed_k": W.K,
        "edges": feed.graph.edge_count(),
        "od_pairs_9_winners": getattr(wl, "od9_winners", None),
        "infeasible_share": infeasible / max(attempted, 1),
    }
    all_lat = [d for d, _ in latencies]
    if args.trace:
        traced_lat = [d for d, t in latencies if t]
        plain_lat = [d for d, t in latencies if not t]
        overhead = (
            100.0 * (statistics.median(traced_lat) / statistics.median(plain_lat) - 1)
            if traced_lat and plain_lat else 0.0
        )
        from tracing import PER_LAYER

        values = tracer.metrics(
            len(traced_lat), wl.ops_per_call, context["infeasible_share"], overhead
        )
        metrics = {
            m: (values[m], PER_LAYER[m], 1 if m.endswith("setup_s") else len(traced_lat))
            for m in PER_LAYER
        }
        tracer.uninstall()
        tracer.write(os.path.join(
            WORK, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    else:
        values = {  # metric -> (value, samples)
            "setup_s": (setup_s, 1),
            "latency_p50_s": (statistics.median(all_lat) if all_lat else 0.0, len(all_lat)),
            "ops_per_s": ((attempted - failed) / wall, attempted),
            "cpu_s_per_op": (cpu / max(attempted, 1), attempted),
            "py_peak_rss_mb": (rss_mb, 1),
        }
        metrics = {m: (v, END_TO_END[m], n) for m, (v, n) in values.items()}

    stop0 = time.perf_counter()
    killed = stop_spark(spark)
    if killed:
        problems.append(f"killed leftover processes {killed}")
    context.update({
        "process_s": proc.process_age_s() - age0,
        "stop_s": time.perf_counter() - stop0,
        "loadavg_start": load0,
        "loadavg_end": proc.loadavg(),
        "iowait_jiffies": proc.cpu_jiffies()["iowait"] - jiffies0["iowait"],
        "steal_jiffies": proc.cpu_jiffies()["steal"] - jiffies0["steal"],
    })
    correct = not problems
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: {"value": v, "unit": u} for m, (v, u, _) in metrics.items()},
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump({"context": context, "result": result, "problems": problems,
                   "ops": op_log}, f)

    print("context " + json.dumps(context))
    for m, (v, u, n) in metrics.items():
        print(f"metric {args.workload} {m} {v:.6g} {u} samples={n}")
    for p in problems[:20]:
        print(f"problem {args.workload} {p}")
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


def run_all(args) -> int:
    """Each workload in its own fresh process; one combined result."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = out.stdout.strip().splitlines()
        for line in lines[:-1]:
            if line.startswith(("context ", "metric ", "problem ")):
                print(line, flush=True)
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"problem {name} exited {out.returncode} without a result", flush=True)
            combined["correct"] = False
            continue
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for m, v in res["metrics"].items():
            combined["metrics"][f"{name}.{m}"] = v
    print(json.dumps(combined), flush=True)
    return 0 if combined["correct"] else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be >= 1")
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
