#!/usr/bin/env python3
"""escp_spark benchmark: one seeded workload, checked against the oracle.

    python3 perfbench/run.py --workload index|update --seed N --seconds S --trace 0|1

Run from the repository root. Spark runs as local[nproc] in this process,
with one client. The last stdout line is one JSON object: correct,
attempted, failed and metrics -- the end-to-end metrics of BENCHMARK.json
with --trace 0, its per-layer metrics with --trace 1. Everything the run
writes stays under .perfbench_work/ in the repository root.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def driver_memory() -> str:
    """SPARK_DRIVER_MEM sized to the host: a quarter of RAM, 2-6 GiB. The
    engine's 24g default lets the JVM heap outgrow a 15 GB host."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f
                   if line.startswith("MemTotal:"))
    return f"{min(6, max(2, kib // (4 << 20)))}g"


def start_spark(run_dir: str, cpus: int):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # Spark's scratch space stays inside the checkout, whatever the caller
    # set (SPARK_LOCAL_DIRS overrides spark.local.dir).
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Python workers import the engine from the repository root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from escp_spark.session import get_spark

    return get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def reset_hwm(pid) -> None:
    """Restart a process's VmHWM from its current resident set."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def hwm_mb(pid) -> float:
    """Peak resident set of a process (VmHWM) since the last reset_hwm."""
    with open(f"/proc/{pid}/status") as f:
        kib = next(int(line.split()[1]) for line in f
                   if line.startswith("VmHWM:"))
    return kib / 1024


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=120)


class Context:
    def __init__(self, args, spark, run_dir: str, cpus: int):
        from hostspeed import HostProbe
        from record import Recorder
        from spans import SparkJobs, Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.spark = spark
        self.run_dir = run_dir
        self.cpus = cpus
        self.tracer = Tracer(self.trace)
        self.jobs = SparkJobs(spark) if self.trace else None
        self.setup_steps = {"start": time.perf_counter() - T_START}
        self.probe = HostProbe()
        self.probe.sample()
        self.rec = Recorder(self.tracer, self.jobs, self.probe)
        self.setup_s = None

    def jvm_pid(self) -> int:
        return self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def timed_done(self, t0: float) -> None:
        """End of the measured part, which started at t0: peak memory of
        the timed part, before the oracle runs. A timed part shorter than
        --seconds is padded with idle time, so the metrics cover the same
        work whatever the speed of the code."""
        self.py_mb = hwm_mb("self")
        self.jvm_mb = hwm_mb(self.jvm_pid())
        self.probe.sample()
        time.sleep(max(0.0, t0 + self.seconds - time.perf_counter()))

    def setup_step(self, name: str, fn) -> None:
        t = time.perf_counter()
        fn()
        self.setup_steps[name] = time.perf_counter() - t
        self.probe.sample()

    def setup_done(self) -> None:
        """End of set-up: process start -> first timed call."""
        from spans import install_engine_spans

        self.setup_s = time.perf_counter() - T_START
        if self.trace:
            install_engine_spans(self.tracer)
        # Peak memory counts from here: set-up (imports, data generation,
        # warm-up) does not set it.
        reset_hwm("self")
        reset_hwm(self.jvm_pid())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("index", "update"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(1, ROOT)  # the engine package, after this directory
    import workloads  # imports the engine: fails outside a checkout

    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_DRIVER_MEM", driver_memory())
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    spark = start_spark(run_dir, cpus)
    try:
        ctx = Context(args, spark, run_dir, cpus)
        e2e, layer, errors = workloads.WORKLOADS[args.workload](ctx)
        if ctx.trace:
            layer["spark.failed_tasks"] = ctx.jobs.since(-1)["failed_tasks"]
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    e2e.update(setup_s=ctx.setup_s, driver_rss_mb=ctx.py_mb)
    # Times are reported at the reference host speed (hostspeed.py); the
    # raw figures go to the details line.
    raw = dict(e2e)
    for m in spec["end_to_end"]:
        if m["unit"] in ("s", "ms"):
            e2e[m["name"]] *= ctx.probe.scale()

    details = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "master": f"local[{cpus}]",
        "spark_driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "setup": {k: round(v, 3) for k, v in ctx.setup_steps.items()},
        "reads": len(ctx.rec.reads), "calls": {
            c["name"]: round(c["s"], 4) for c in ctx.rec.calls},
        "probe_ms": round(ctx.probe.median_ms(), 4),
        "raw": {k: round(v, 4) for k, v in raw.items()},
        "oracle_errors": errors[:20], "n_oracle_errors": len(errors),
    }
    if ctx.trace:
        layer.update({
            "mem.jvm_hwm_mb": ctx.jvm_mb, "mem.py_rss_mb": ctx.py_mb,
            "host.probe_ms": ctx.probe.median_ms(),
            "trace.spans": len(ctx.tracer.spans),
            "trace.work_s": e2e["work_s"],
        })
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(
            WORK, "traces", f"{args.workload}-{args.seed}.jsonl")
        ctx.tracer.dump(trace_path)
        details["spans_file"] = os.path.relpath(trace_path, ROOT)
        wanted, values = spec["per_layer"], layer
    else:
        wanted, values = spec["end_to_end"], e2e
    print("details " + json.dumps(details), flush=True)

    metrics = {}
    for m in wanted:
        v = values.get(m["name"], 0 if ctx.trace else None)
        if v is None:
            raise KeyError(f"workload {args.workload} did not measure "
                           f"{m['name']}")
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    print(json.dumps({
        "correct": not errors and ctx.rec.failed == 0,
        "attempted": ctx.rec.attempted,
        "failed": ctx.rec.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
