"""Consistency-check benchmark for tikv_data_compare_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload drift_sparse --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

One run generates (or reuses) a seeded src/dst KV snapshot pair, starts the
Spark engine three times (``setup_s`` is the median; the first start also
launches the JVM), warms up untimed with one compare and one roundtrip, and
then runs closed-loop cycles of requests (see workload.py): as many as
``--seconds`` holds at about ``NOMINAL_CYCLE_S`` each, and at least
``MIN_CYCLES``.  Every output is
checked against the generator's ground truth.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``.  The line before it is ``{"summary": ...}``: the metrics
that are not gated (request p90, error rate, generation time) and run
diagnostics (load average, CPU steal, phase times).  A traced run also
writes its spans under ``.perfbench/spans/``.  The exit code is 0 only
when every output was correct.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import subprocess
import sys
import threading
import time

T0 = time.perf_counter()
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3
#: a run measures ``--seconds / NOMINAL_CYCLE_S`` cycles, at least
#: ``MIN_CYCLES``: a fixed amount of work, so a faster program does not get
#: extra, warmer cycles that move its medians.  Two cycles give each
#: per-kind median two samples and a traced run an untraced cycle to
#: compare against.
NOMINAL_CYCLE_S = 7.5
MIN_CYCLES = 2
DRIVER_MEMORY = "3g"


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, help="a workload name, or 'all'")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env() -> None:
    """Confine the engine to this host's cores and to the checkout.

    Must run before pyspark launches its JVM, which inherits the env."""
    for d in ("spark-local", "tmp", "out", "spans", "data"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: a JVM writes /tmp/hsperfdata_<user>/<pid> whatever
    # java.io.tmpdir says; this covers spark-submit's launcher JVM and Spark's JVM
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            shlex.quote(jvm_opts),
            "pyspark-shell",
        ]
    )


def cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class CpuSampler:
    """A ``ProcTreeCpuMeter`` that also samples itself in the background.

    PySpark's Python data source starts short-lived worker processes for
    every query it plans; they exit, and are reaped without accounting,
    within a single request.  The meter only credits a process it has seen
    alive, so sampling just at request boundaries missed a varying share of
    their CPU.  Sampling every ``interval`` seconds sees nearly all of them."""

    def __init__(self, meter, interval: float = 0.2):
        self.meter = meter
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,), daemon=True)
        self._thread.start()

    def _run(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.sample()

    def sample(self) -> float:
        with self._lock:
            return self.meter.sample()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the peak resident set (VmHWM) of ``root`` and its live
    descendants: this Python process, the JVM and its Python workers."""
    parent, peak = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        parent[int(d)] = int(fields["PPid"])
        peak[int(d)] = int(fields.get("VmHWM", "0 kB").split()[0])
    total = 0
    for pid, kb in peak.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 1)
        if p == root:
            total += kb
    return total / 1024


def stop_engine(spark) -> None:
    """Stop Spark, then end the JVM it launched and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def run_one(args) -> int:
    from bench import ProcTreeCpuMeter
    from tikv_data_compare_spark.session import get_spark

    import gen
    import workload as wl
    from spans import Tracer

    spec = wl.SPECS[args.workload]
    load0 = loadavg_1m()
    src, dst, truth, gen_s = gen.dataset(
        os.path.join(WORK, "data"), args.seed, wl.PAIRS, spec.layout, spec.drift
    )
    meter = CpuSampler(ProcTreeCpuMeter())
    out_dir = os.path.join(WORK, "out", f"{spec.name}-{args.seed}")
    os.makedirs(out_dir, exist_ok=True)

    setups, spark = [], None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            client = wl.Client(
                spark, src, dst, truth, out_dir, Tracer(spark, meter), meter, args.seed
            )
            client.warm()
            setups.append(time.perf_counter() - t0)
        t_warm = time.perf_counter()
        client.cycle(False, client.warmup_plan())  # untimed
        t_warm = time.perf_counter() - t_warm
        warm = client.result
        res = wl.Result(attempted=warm.attempted, failed=warm.failed)
        client.result = res
        steal0 = cpu_steal_jiffies()
        t_measure = time.perf_counter()
        cycles = max(MIN_CYCLES, round(args.seconds / NOMINAL_CYCLE_S))
        for i in range(cycles):
            client.cycle(bool(args.trace) and i % 2 == 0, client.plan())
        t_measure = time.perf_counter() - t_measure
        steal1 = cpu_steal_jiffies()
        peak = tree_peak_rss_mb(os.getpid())
        if args.trace:
            metrics = wl.per_layer(res)
            client.tracer.write(
                os.path.join(WORK, "spans", f"{spec.name}-s{args.seed}.jsonl")
            )
        else:
            metrics = wl.end_to_end(res, setups, peak)
    finally:
        meter.close()
        if spark is not None:
            stop_engine(spark)

    lat = sorted(res.request_s)
    summary = {  # metrics BENCHMARK.json does not gate, and run diagnostics
        "workload": spec.name,
        "seed": args.seed,
        "cycles": cycles,
        "verdict_s": res.verdict_s,
        "compare_s": res.findings_s,
        "range_s": res.request_s,
        "roundtrip_s": [a + b for a, b in zip(res.export_s, res.reload_s)],
        "request_p90_ms": statistics.quantiles(lat, n=10)[8] * 1e3 if len(lat) > 1 else None,
        "request_p90_samples_beyond": len(lat) - int(0.9 * len(lat)),
        "error_rate": res.failed / res.attempted,
        "gen_s": gen_s,
        "setup_runs_s": setups,
        "load1": [load0, loadavg_1m()],
        "steal_pct": 100 * (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        "warm_requests_s": [warm.findings_s, warm.request_s, warm.export_s, warm.reload_s],
        "phases_s": {"warm": t_warm, "measure": t_measure, "total": time.perf_counter() - T0},
        "peak_rss_mb": peak,
    }
    print(json.dumps({"summary": summary}))
    result = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if res.failed == 0 else 1


def run_all(args) -> int:
    """Every workload in its own process, one table of their metrics."""
    import workload as wl

    code = 0
    for name in wl.SPECS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        code = code or proc.returncode
        lines = proc.stdout.strip().splitlines()
        if len(lines) < 2:
            print(f"{name}: no result (exit {proc.returncode})")
            continue
        summary, res = json.loads(lines[-2])["summary"], json.loads(lines[-1])
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        rows = [(k, m["value"], m["unit"]) for k, m in res["metrics"].items()]
        rows += [("request_p90_ms", summary["request_p90_ms"], "ms"),
                 ("error_rate", summary["error_rate"], "ratio"),
                 ("gen_s", summary["gen_s"], "s"),
                 ("load1_at_end", summary["load1"][1], "load"),
                 ("cpu_steal_pct", summary["steal_pct"], "%")]
        for metric, value, unit in rows:
            shown = "n/a" if value is None else f"{value:.4f}"
            print(f"  {metric:32s} {shown:>14s} {unit}")
    return code


def main(argv=None) -> int:
    args = parse(argv)
    if not (os.path.isdir(os.path.join(ROOT, "tikv_data_compare_spark"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        print("perfbench: run from the root of a tikv_data_compare_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workload as wl

    if args.workload != "all" and args.workload not in wl.SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(wl.SPECS)}", file=sys.stderr)
        return 2
    configure_env()
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
