"""Run one benchmark workload from the root of a guackg checkout:

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 10 --trace 0

With --trace 0 the last stdout line is the end-to-end metrics, with
--trace 1 the per-layer metrics of a traced operation (see
perfbench/README.md). All scratch files live under .perfbench_run/ in
the checkout and are removed on exit.
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
import time

WORK_DIR = ".perfbench_run"
# Host-fitted session settings, identical on every run. The driver heap
# leaves room on a 15 GB host for the Python workers and the OS.
DRIVER_MEM = "3g"
EDGE_BUCKETS = "8"
TASKS_PER_CORE = 4
# a calibration probe this much slower after the timed region than
# before it flags the run as throttled (the run is kept, not dropped)
THROTTLE_RATIO = 1.5

E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "triples_per_s": "1/s", "pages_per_s": "1/s",
    "peak_rss_mb": "MB", "kg_bytes": "bytes", "triple_precision": "ratio",
    "triple_recall": "ratio", "text_match_ratio": "ratio",
    "success_ratio": "ratio",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_ratio", "_over_median")):
        return "ratio"
    if name.endswith(("_path", "_broadcast", "throttled")):
        return "flag"
    return "count"


def configure_env(root: str, work: str, trace: bool) -> int:
    """Pins every knob guackg reads, so inherited settings never leak
    into a run; must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    for k in [k for k in os.environ if k.startswith("GUACKG_")]:
        del os.environ[k]
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "GUACKG_DRIVER_MEM": DRIVER_MEM,
        "GUACKG_EDGE_BUCKETS": EDGE_BUCKETS,
        "GUACKG_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # launcher JVMs read this too; keeps their scratch in the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": root,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # a fixed driver heap (-Xms = -Xmx) keeps peak RSS from tracking
        # GC heap-growth decisions
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.eventLog.compress=false "
            f"--conf spark.driver.defaultJavaOptions=-Xms{DRIVER_MEM} pyspark-shell"),
    })
    if trace:
        os.environ["GUACKG_EVENT_LOG"] = os.path.join(work, "eventlog")
    return cpus


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def reset_hwm(pid) -> None:
    """Restarts the peak-RSS count at the current RSS (Linux >= 4.0)."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def execute(spark, args, jvm_pid: int, t_start: float, work: str) -> dict:
    from perfbench import workloads as W

    sc = spark.sparkContext

    def tag(desc):      # keeps untimed jobs out of the traced op's numbers
        if args.trace:
            sc.setJobDescription(desc)

    tag("pb:setup")
    run = W.Run(spark, work, args.seed, args.seconds)
    wl = W.WORKLOADS[args.workload](run)
    out: dict = {"run": run}
    try:
        wl.setup()
        # write the inputs back now, not as a disk stall inside a timed build
        os.sync()
        setup_s = time.perf_counter() - t_start
        tag("pb:calibrate")
        calib = [W.calibrate(spark)]
        tag("pb:untraced")
        for pid in (jvm_pid, "self"):   # peak RSS of the timed ops only
            reset_hwm(pid)
        walls = run.measure(wl.op)
        peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        tag("pb:calibrate")
        calib.append(W.calibrate(spark))
        if args.trace:
            tag(None)
            run.tracer.active = True
            out["traced_wall"] = run.attempt(lambda: wl.op(-1))
            if args.workload == "full_build":
                # the graph layer's numbers: one traced pass of the
                # query mix over the KG the traced build wrote
                with run.tracer.span("pipeline.query_pass"):
                    out["query_pass"] = W.query_pass(
                        run, os.path.join(wl.last, "edges"))
        run.tracer.active = False
        tag("pb:check")
        t = time.perf_counter()
        nums = wl.finish()
        t_finish = time.perf_counter() - t
        bad = run.tracer.batch_eval_python()
        run.check("no_batch_eval_python", not bad, ",".join(bad))
        t_plans = time.perf_counter() - t - t_finish
        if args.trace:
            out["probes"] = W.layer_probes(run, wl.last)
        kg = wl.last
        wall = statistics.median(walls)
        throttled = any(calib[1][k] > THROTTLE_RATIO * calib[0][k] for k in calib[0])
        out["e2e"] = {
            "setup_s": setup_s, "wall_s": wall,
            "triples_per_s": nums["n_triples"] / wall,
            "pages_per_s": nums["n_pages"] / wall,
            "peak_rss_mb": peak_rss,
            "kg_bytes": float(W.dir_bytes(os.path.join(kg, "nodes"))
                              + W.dir_bytes(os.path.join(kg, "edges"))),
            "triple_precision": nums["triple_precision"],
            "triple_recall": nums["triple_recall"],
            "text_match_ratio": nums["text_match_ratio"],
        }
        out["details"] = {
            "workload": args.workload, "seed": args.seed, "cpus": sc.defaultParallelism,
            "op_walls_s": walls, "op_io_stall_s": run.io_stall_s,
            "stage_secs": run.stage_secs,
            "query_pass_s": out.get("query_pass"),
            "calibration": calib, "throttled": throttled,
            "pages": nums["n_pages"], "mention_triples": nums["n_triples"],
            "check_s": t_finish, "plan_check_s": t_plans,
        }
        out["host"] = {"host.calib_py_s": calib[0]["py_s"],
                       "host.calib_spark_s": calib[0]["spark_s"],
                       "host.throttled": float(throttled)}
    except Exception:
        if not run.errors:
            import traceback
            run.errors.append(traceback.format_exc())
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop(spark, gateway) -> None:
    """Stops Spark, then waits for the driver JVM and every process it
    started (the Python worker daemons) to exit."""
    proc = gateway.proc
    workers = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()          # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while workers and time.time() < deadline:
        workers = [w for w in workers if os.path.exists(f"/proc/{w}")]
        time.sleep(0.05)
    for w in workers:
        os.kill(w, signal.SIGKILL)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["full_build", "longtail_build"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops Spark and removes its files (finally:)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "guackg", "pipeline.py")):
        print("perfbench: run from the root of a guackg checkout", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    work = os.path.join(root, WORK_DIR)
    shutil.rmtree(work, ignore_errors=True)
    cpus = configure_env(root, work, bool(args.trace))
    sys.path.insert(0, root)

    from pyspark import SparkContext

    from guackg.session import get_spark
    try:
        spark = get_spark("perfbench", master=f"local[{cpus}]",
                          shuffle_partitions=TASKS_PER_CORE * cpus)
        spark.sparkContext.setLogLevel("ERROR")
        gateway = SparkContext._gateway
        try:
            out = execute(spark, args, gateway.proc.pid, t_start, work)
        finally:
            stop(spark, gateway)
        run = out["run"]
        metrics = report(args, out) if "e2e" in out else None
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.sync()   # settle the deletes here, not in the next run's builds

    for e in run.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    correct = metrics is not None and run.failed == 0
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1),
                      "failed": run.failed if metrics else max(run.failed, 1),
                      "metrics": metrics or {}}))
    return 0 if correct else 1


def report(args, out: dict) -> dict:
    """The metrics of the last stdout line; the raw numbers of every
    operation go to a details line before it."""
    run, e2e = out["run"], out["e2e"]
    e2e["success_ratio"] = (run.attempted - run.failed) / run.attempted
    print("perfbench details: " + json.dumps({**out["details"], "e2e": e2e},
                                             default=float), flush=True)
    if not args.trace:
        return {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    from perfbench.trace import per_layer_metrics, read_event_log
    layers = per_layer_metrics(run.tracer, read_event_log(os.environ["GUACKG_EVENT_LOG"]),
                               {**out["probes"], **out["host"]})
    layers["pipeline.wall_s"] = out["traced_wall"]
    # traced minus the untraced op just before it, the run's first (cold)
    # build: the difference also holds JIT warm-up
    untraced = out["details"]["op_walls_s"][-1]
    layers["pipeline.untraced_wall_s"] = untraced
    layers["pipeline.trace_overhead_s"] = out["traced_wall"] - untraced
    return {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}


if __name__ == "__main__":
    sys.exit(main())
