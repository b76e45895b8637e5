"""Layered benchmark of gmt_dbt_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process drives a closed loop with one
client: ops run back to back on ``local[N]`` (N = usable cores). A run is
set-up, one cold pass, the correctness check (untimed), then warm passes.
Every op of the workload runs once per pass, in an order shuffled by the
seed (the ELT steps keep pipeline order). The cold pass collects each
query's result for the check; warm passes write it to the noop sink. The
number of warm passes is fixed by ``--seconds`` and the workload's nominal
pass time, so that two builds of the program are compared on the same
number of samples.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables spans,
the Spark event log and a streaming listener, and prints the per-layer
metrics of the traced warm passes. In a traced run every other warm pass
runs with spans off, and ``trace.overhead_s`` is the difference of the two
medians. The metric names and units are those of ``BENCHMARK.json``; the
last line of standard output is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"


def since_process_start() -> float:
    """Seconds since this process was created (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail_index(n: int) -> int:
    """Index into n sorted samples of the highest percentile that still has
    at least 10 samples beyond it (the maximum if n <= 10)."""
    return max(n - 11, 0) if n > 10 else n - 1


def end_to_end(setup_s: float, cold_s: float, walls: list[float], samples: list[float],
               peak_rss_mb: float) -> dict[str, float]:
    """The end-to-end metrics from one run's set-up, cold pass, warm pass
    times and warm per-op latencies."""
    samples = sorted(samples)
    return {
        "setup_s": setup_s,
        "cold_pass_s": cold_s,
        "wall_s": statistics.median(walls),
        "op_p50_s": statistics.median(samples),
        "op_tail_s": samples[tail_index(len(samples))],
        "peak_rss_mb": peak_rss_mb,
    }


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def configure_env(work: str, trace: bool) -> str:
    """Keep every file Spark and Python write inside ``work``; returns the
    event-log directory. Must run before the JVM starts."""
    tmp, local, log = (os.path.join(work, d) for d in ("tmp", "local", "eventlog"))
    for d in (tmp, local, log):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # A fixed, pre-touched heap (the program's own default is a 16g ceiling
    # grown on demand) keeps peak RSS from following G1's run-to-run heap
    # sizing; what varies is then the non-heap JVM memory and the Python side.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    submit = ["--driver-java-options",
              f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch"]
    if trace:
        for conf in ("spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log}",
                     "spark.eventLog.rolling.enabled=false", "spark.eventLog.compress=false"):
            submit += ["--conf", conf]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    return log


class Runner:
    """Runs passes of one workload's ops and keeps their timings."""

    def __init__(self, tracer, listener) -> None:
        self.tracer = tracer
        self.listener = listener
        self.attempted = 0
        self.raised: list[tuple[int, str]] = []

    def run_pass(self, ops, pass_no: int) -> tuple[float, dict, dict]:
        tr = self.tracer
        tr.pass_no = pass_no
        outputs, latency = {}, {}
        t_pass = time.perf_counter()
        for op in ops:
            tr.op = op.name
            self.attempted += 1
            t = time.perf_counter()
            try:
                with tr.span("op"):
                    out = None
                    for span_name, fn in op.phases:
                        with tr.span(span_name):
                            out = fn(out)
            except Exception:  # a failing op is counted and the run goes on
                traceback.print_exc(file=sys.stderr)
                self.raised.append((pass_no, op.name))
            else:
                latency[op.name] = time.perf_counter() - t
                outputs[op.name] = out
            if self.listener is not None:
                self.listener.drain()
        return time.perf_counter() - t_pass, outputs, latency


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    sys.path.insert(0, ROOT)
    try:
        spec = load_spec()
        import gmt_dbt_spark.session  # noqa: F401
        import tools.selfcheck  # noqa: F401
    except (OSError, ImportError) as e:
        print(f"perfbench: the program under test is not here ({ROOT}): {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    try:
        return _run(args, trace, spec, work, WORKLOADS[args.workload]())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, trace: bool, spec: dict, work: str, workload) -> int:
    from tracing import EventLog, StreamListener, Tracer, install

    log_dir = configure_env(work, trace)
    tracer = Tracer()
    if trace:
        install(tracer)

    # ---- set-up: a ready session plus a loaded registry
    from gmt_dbt_spark.registry import all_oracles, all_queries
    from gmt_dbt_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    queries = all_queries()
    t2 = time.perf_counter()
    setup_s = since_process_start()
    oracles = all_oracles()
    tracer.bind(spark)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    gateway = spark.sparkContext._gateway
    listener = None
    if trace:
        listener = StreamListener(tracer)
        spark.streams.addListener(listener.listener)

    phase_s = {}
    try:
        t = time.perf_counter()
        workload.prepare(work, args.seed)
        runner = Runner(tracer, listener)
        phase_s["prepare"] = time.perf_counter() - t
        cold_s, outputs, cold_latency = runner.run_pass(
            workload.ops(spark, queries, tracer, collect=True), 0)
        t = time.perf_counter()
        wrong = workload.check(outputs, oracles)
        phase_s["check"] = time.perf_counter() - t
        for name, err in sorted(wrong.items()):
            print(f"perfbench: wrong output from {name}: {err}", file=sys.stderr)
        del outputs

        # a traced run needs a traced and an untraced pass for trace.overhead_s
        passes = max(1 + trace, round(args.seconds / workload.nominal_pass_s))
        walls = {True: [], False: []}
        samples: list[float] = []
        per_op: dict[str, list[float]] = {}
        ops = workload.ops(spark, queries, tracer, collect=False)
        for p in range(1, passes + 1):
            tracer.enabled = trace and p % 2 == 1
            wall, _, latency = runner.run_pass(ops, p)
            walls[tracer.enabled].append(wall)
            samples.extend(latency.values())
            for k, v in latency.items():
                per_op.setdefault(k, []).append(v)
        tracer.enabled = False
        peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    finally:
        t = time.perf_counter()
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        phase_s["teardown"] = time.perf_counter() - t

    failed = len(runner.raised) + len(wrong)
    k = tail_index(len(samples))
    info = {
        "workload": args.workload, "seed": args.seed, "warm_passes": passes, "phase_s": phase_s,
        "op_fail_frac": {"value": failed / runner.attempted, "unit": "frac"},
        "op_tail": {"percentile": round(100.0 * (k + 1) / len(samples), 1),
                    "samples": len(samples), "beyond": len(samples) - k - 1},
        "op_cold_s": cold_latency,
        "op_median_s": {n: statistics.median(v) for n, v in sorted(per_op.items())},
    }
    if trace:
        from layers import per_layer

        values = per_layer(tracer, listener, EventLog(log_dir), walls,
                           {"session.get_spark_s": t1 - t0, "registry.load_s": t2 - t1})
        info["trace_passes"] = len(walls[True])
        wanted = spec["per_layer"]
    else:
        values = end_to_end(setup_s, cold_s, walls[False], samples, peak_rss)
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in wanted}
    print(json.dumps(info))
    print(json.dumps({"correct": failed == 0, "attempted": runner.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
