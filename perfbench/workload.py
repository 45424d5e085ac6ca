"""The benchmark's closed loop: request kinds, their output checks, metrics.

One client sends one request at a time and waits for it (a closed loop).
The loop runs in cycles of a fixed mix, so every run of a workload measures
the same kinds of work in the same proportions:

- ``compare``: the CLI's ops flow on the full key range -- ``checksum_verdict``,
  then ``targeted_diff`` over ``pmod(xxhash64(key), 256)`` buckets, findings
  written to parquet;
- ``verdict`` (``VERDICTS_PER_CYCLE`` of them): ``checksum_verdict`` alone on
  the full key range, so that ``verdict_s``, a sub-second job on a shared
  host, is a median over several samples per run rather than two;
- ``range`` (``RANGES_PER_CYCLE`` of them): ``checksum_verdict`` on a key
  range of about ``RANGE_PAIRS`` pairs, then ``diff`` on that range only if
  the verdict is unequal;
- ``roundtrip``: ``export_hex`` of both sides of a ``ROUNDTRIP_SHARE`` key
  range, then ``load_scan_dump`` of both dumps and ``checksum_verdict`` on them.

Every request's output is checked against the generator's ground truth
outside the timed region.

Why a mix in every workload: each end-to-end metric has to be measured on
every workload, so each workload runs every kind of request.  The two
workloads differ in where the drift sits, which decides whether checksum
localization pays off (``drift_sparse``) or is bypassed (``drift_dense``).
Sizes are chosen so that one run, JVM start and warm-up included, takes
about a minute on a 4-core host: the one-off cost of starting the engine
and compiling each kind of request (about 35 s) dwarfs any single request.
"""

from __future__ import annotations

import gc
import os
import re
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
from spans import Tracer, covered

PAIRS = 300_000  # per side
TARGETED_BUCKETS = 256
VERDICTS_PER_CYCLE = 1
RANGE_PAIRS = 2_000
RANGES_PER_CYCLE = 3
#: one range request in this many targets the drifted region, so the
#: verdict-unequal path (a diff on the range) runs in every cycle even
#: when drift covers 1% of the keys; where drift is clustered, the others
#: miss it, so every cycle takes each path equally often
DRIFT_TARGET_EVERY = 3
ROUNDTRIP_SHARE = 0.01


@dataclass(frozen=True)
class Spec:
    """A workload: the input pair it generates and why it exists."""

    name: str
    layout: str
    drift: int
    why: str


SPECS = {
    s.name: s
    for s in (
        Spec(
            "drift_sparse",
            "clustered",
            100,
            "about 100 drifted keys in one 1% key range: targeted_diff localizes to "
            "about a third of its buckets and most range verdicts are equal",
        ),
        Spec(
            "drift_dense",
            "uniform",
            PAIRS // 50,
            "2% of keys drifted uniformly: every bucket mismatches, so the full-outer "
            "row join and its shuffle dominate and every range request runs a diff",
        ),
    )
}


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    verdict_s: list = field(default_factory=list)
    findings_s: list = field(default_factory=list)
    request_s: list = field(default_factory=list)
    export_s: list = field(default_factory=list)
    reload_s: list = field(default_factory=list)
    pairs: int = 0
    busy_s: float = 0.0  # wall time of all measured requests
    cycle_cpu_s: list = field(default_factory=list)
    traced_cycles: list = field(default_factory=list)  # per-layer dict per cycle
    cycle_wall: dict = field(default_factory=lambda: {True: [], False: []})


class Client:
    """Issues requests against one registered src/dst pair."""

    def __init__(self, spark, src_path, dst_path, truth, out_dir, tracer: Tracer, meter, seed):
        from tikv_data_compare_spark.model import Keyed

        self.spark = spark
        self.src = Keyed(spark.read.parquet(src_path))
        self.dst = Keyed(spark.read.parquet(dst_path))
        self.truth = truth
        self.out_dir = out_dir
        self.tracer = tracer
        self.meter = meter
        self.rng = np.random.default_rng([seed, 7])
        self.cores = spark.sparkContext.defaultParallelism
        self.result = Result()
        self._n = 0

    def warm(self) -> None:
        """The set-up's first query: a verdict on a tiny key range."""
        from tikv_data_compare_spark.operators.checksum import checksum_verdict

        lo, hi = gen.key_of(0), gen.key_of(200)
        checksum_verdict(self.src.in_range(lo, hi), self.dst.in_range(lo, hi))

    # ---- request kinds -------------------------------------------------
    def compare(self, rid: str) -> dict:
        from pyspark.sql import functions as F

        from tikv_data_compare_spark.operators.checksum import checksum_verdict
        from tikv_data_compare_spark.operators.diff import targeted_diff

        src, dst = self.src, self.dst
        out = os.path.join(self.out_dir, "findings")
        t0 = time.perf_counter()
        with self.tracer.span("checksum", rid) as sp:
            verdict = checksum_verdict(src, dst)
            sp["rows"] = verdict["src"]["total_kvs"] + verdict["dst"]["total_kvs"]
        t1 = time.perf_counter()
        with self.tracer.span("diff", rid) as sp:
            bucket = F.pmod(F.xxhash64(F.col("key")), F.lit(TARGETED_BUCKETS))
            targeted_diff(src, dst, bucket).write.mode("overwrite").parquet(out)
        t2 = time.perf_counter()
        return {"verdict": verdict, "findings_path": out, "diff_span": sp, "lo": None,
                "hi": None, "verdict_s": t1 - t0, "findings_s": t2 - t0}

    def verdict(self, rid: str) -> dict:
        from tikv_data_compare_spark.operators.checksum import checksum_verdict

        t0 = time.perf_counter()
        with self.tracer.span("checksum", rid) as sp:
            verdict = checksum_verdict(self.src, self.dst)
            sp["rows"] = verdict["src"]["total_kvs"] + verdict["dst"]["total_kvs"]
        return {"verdict": verdict, "findings": None, "lo": None, "hi": None,
                "verdict_s": time.perf_counter() - t0}

    def range(self, rid: str, lo: int, hi: int) -> dict:
        from tikv_data_compare_spark.operators.checksum import checksum_verdict
        from tikv_data_compare_spark.operators.diff import diff

        klo, khi = gen.key_of(lo), gen.key_of(hi)
        src, dst = self.src.in_range(klo, khi), self.dst.in_range(klo, khi)
        with self.tracer.span("checksum", rid) as sp:
            verdict = checksum_verdict(src, dst)
            sp["rows"] = verdict["src"]["total_kvs"] + verdict["dst"]["total_kvs"]
        found = {}
        if not verdict["equal"]:
            with self.tracer.span("diff", rid) as sp:
                found = _findings(r.asDict() for r in diff(src, dst).select("key", "status").collect())
                sp["findings"] = len(found)
        return {"verdict": verdict, "findings": found, "lo": lo, "hi": hi}

    def roundtrip(self, rid: str, lo: int, hi: int) -> dict:
        from tikv_data_compare_spark.model import Keyed
        from tikv_data_compare_spark.operators.checksum import checksum_verdict
        from tikv_data_compare_spark.operators.scan import export_hex
        from tikv_data_compare_spark.sources.scandump import load_scan_dump

        klo, khi = gen.key_of(lo), gen.key_of(hi)
        dumps = [os.path.join(self.out_dir, f"dump_{side}") for side in ("src", "dst")]
        t0 = time.perf_counter()
        with self.tracer.span("scan", rid) as sp:
            export_hex(self.src, klo, khi, path=dumps[0])
            export_hex(self.dst, klo, khi, path=dumps[1])
        sp["bytes_written"] = sum(_dir_bytes(d) for d in dumps)
        t1 = time.perf_counter()
        with self.tracer.span("scandump", rid) as sp:
            a, b = (Keyed(load_scan_dump(self.spark, d).select("key", "value")) for d in dumps)
            verdict = checksum_verdict(a, b)
            sp["rows"] = verdict["src"]["total_kvs"] + verdict["dst"]["total_kvs"]
        t2 = time.perf_counter()
        return {"verdict": verdict, "findings": None, "lo": lo, "hi": hi, "dumps": dumps,
                "export_s": t1 - t0, "reload_s": t2 - t1}

    # ---- checks ----------------------------------------------------------
    def check(self, kind: str, out: dict) -> list[str]:
        """Problems with one request's output; empty when it is right."""
        if "findings_path" in out:  # read back the written findings, untimed
            rows = pq.read_table(out["findings_path"], columns=["key", "status"]).to_pylist()
            out["findings"] = _findings(rows)
            out["diff_span"]["findings"] = len(out["findings"])
        t, lo, hi = self.truth, out["lo"], out["hi"]
        want = t.findings(lo, hi)
        v = out["verdict"]
        bad = []
        if v["equal"] != (not want):
            bad.append(f"verdict equal={v['equal']} but {len(want)} drifted keys in range")
        for side in ("src", "dst"):
            rows, nbytes = t.range_totals(side, lo, hi)
            got = (v[side]["total_kvs"], v[side]["total_bytes"])
            if got != (rows, nbytes):
                bad.append(f"{side} totals {got} != ({rows}, {nbytes})")
        if out["findings"] is not None and out["findings"] != want:
            bad.append(f"findings {gen.status_counts(out['findings'])} != {gen.status_counts(want)}")
        for side, path in zip(("src", "dst"), out.get("dumps", ())):
            ids, cnt = _read_dump(path)
            ids_all, _ = t.side(side)
            a, b = np.searchsorted(ids_all, [np.uint64(lo), np.uint64(hi)])
            if not np.array_equal(ids, ids_all[a:b]):
                bad.append(f"{side} dump: {len(ids)} keys, want the {b - a} keys of the range in order")
            if not np.array_equal(cnt, np.arange(1, len(cnt) + 1)):
                bad.append(f"{side} dump: cnt is not 1..{len(cnt)} in line order")
        return bad

    # ---- the loop ------------------------------------------------------
    def _issue(self, kind: str, traced: bool, *args) -> tuple[float, float]:
        """One request: hygiene, timed call, untimed check.  Returns
        (wall, cpu) of the timed part, (0, 0) when it failed."""
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        self._n += 1
        rid = f"r{self._n}.{kind}"
        self.tracer.enabled = traced
        res = self.result
        res.attempted += 1
        try:
            cpu0 = self.meter.sample()
            with self.tracer.request(kind, rid) as req:
                out = getattr(self, kind)(rid, *args)
            cpu = self.meter.sample() - cpu0
            problems = self.check(kind, out)
        except Exception:  # noqa: BLE001 -- a failed request is counted, the loop goes on
            traceback.print_exc()
            res.failed += 1
            return 0.0, 0.0
        if problems:
            print(f"[perfbench] {rid} wrong: {'; '.join(problems)}", file=sys.stderr, flush=True)
            res.failed += 1
            return 0.0, 0.0
        wall = req["end"] - req["start"]
        if "verdict_s" in out:
            res.verdict_s.append(out["verdict_s"])
        if kind == "compare":
            res.findings_s.append(out["findings_s"])
        elif kind == "range":
            res.request_s.append(wall)
        elif kind == "roundtrip":
            res.export_s.append(out["export_s"])
            res.reload_s.append(out["reload_s"])
        lo, hi = out["lo"], out["hi"]
        res.pairs += sum(self.truth.range_totals(side, lo, hi)[0] for side in ("src", "dst"))
        res.busy_s += wall
        return wall, cpu

    def _range_bounds(self, i: int) -> tuple[int, int]:
        width = 2 * RANGE_PAIRS  # src ids step by 2
        span = int(self.truth.src_ids[-1]) + 2 - width  # lo is drawn from [0, span)
        d = self.truth.drift_ids
        a, b = max(0, int(d[0]) - width + 1), min(span, int(d[-1]) + 1)  # these lo hit drift
        if i % DRIFT_TARGET_EVERY == 0:
            lo = int(self.rng.integers(a, b))
        elif b - a < span // 2:  # clustered drift: a range beside it
            lo = int(self.rng.integers(0, span - (b - a)))
            lo += (b - a) if lo >= a else 0
        else:
            lo = int(self.rng.integers(0, span))
        return lo, lo + width

    def _roundtrip_bounds(self, share: float) -> tuple[int, int]:
        top = int(self.truth.src_ids[-1]) + 2
        width = int(top * share)
        lo = int(self.rng.integers(0, top - width))
        return lo, lo + width

    def plan(self) -> list[tuple[str, tuple]]:
        """One cycle's requests: a full compare, the full-range verdicts, the
        range requests, a roundtrip."""
        verdicts = [("verdict", ())] * VERDICTS_PER_CYCLE
        ranges = [("range", self._range_bounds(i)) for i in range(RANGES_PER_CYCLE)]
        return [("compare", ())] + verdicts + ranges + [("roundtrip", self._roundtrip_bounds(ROUNDTRIP_SHARE))]

    def warmup_plan(self) -> list[tuple[str, tuple]]:
        """A compare, a verdict and a roundtrip at full size: the first of
        each kind pays for code generation, JIT compilation and worker
        start-up, and a full-range verdict is still ~40% slower the second
        time than from the third on.  The set-up's own query has already
        warmed the range verdict."""
        return [("compare", ()), ("verdict", ()),
                ("roundtrip", self._roundtrip_bounds(ROUNDTRIP_SHARE))]

    def cycle(self, traced: bool, plan: list[tuple[str, tuple]]) -> None:
        first = len(self.tracer.spans)
        wall = cpu = 0.0
        for kind, args in plan:
            w, c = self._issue(kind, traced, *args)
            wall += w
            cpu += c
        self.result.cycle_cpu_s.append(cpu)
        self.result.cycle_wall[traced].append(wall)
        if traced:
            self.result.traced_cycles.append(self.layers(self.tracer.spans[first:], wall))

    def layers(self, spans: list[dict], wall: float) -> dict:
        """Per-layer metrics of one traced cycle from its spans."""
        by = {}
        for s in spans:
            by.setdefault(s["name"], []).append(s)
        layer = [s for s in spans if s["parent"] is not None]

        def tot(name, key):
            return float(sum(s.get(key, 0) for s in by.get(name, [])))

        m = {}
        for name in ("checksum", "diff", "scan"):
            m[f"{name}.wall_s"] = tot(name, "end") - tot(name, "start")
            m[f"{name}.task_cpu_s"] = tot(name, "cpu_s")
            m[f"{name}.shuffle_bytes"] = tot(name, "shuffle_bytes")
        m["checksum.rows_hashed"] = tot("checksum", "rows")
        m["checksum.jobs"] = tot("checksum", "jobs")
        m["diff.shuffle_records"] = tot("diff", "shuffle_records")
        m["diff.spill_bytes"] = tot("diff", "spill_bytes")
        m["diff.write_s"] = tot("diff", "write_s")
        m["diff.findings"] = tot("diff", "findings")
        m["diff.useful_ratio"] = m["diff.findings"] / max(m["diff.shuffle_records"], 1.0)
        m["scan.jobs"] = tot("scan", "jobs")
        m["scan.bytes_written"] = tot("scan", "bytes_written")
        m["sources.rows_read"] = float(sum(s.get("input_records", 0) for s in layer))
        range_ids = {s["request"] for s in by.get("range", [])}
        range_read = sum(s.get("input_records", 0) for s in layer if s["request"] in range_ids)
        range_rows = sum(s.get("rows", 0) for s in by.get("checksum", []) if s["request"] in range_ids)
        m["sources.read_amplification"] = range_read / max(range_rows, 1)
        m["sources.scandump.wall_s"] = tot("scandump", "end") - tot("scandump", "start")
        m["sources.scandump.task_cpu_s"] = tot("scandump", "cpu_s")
        m["sources.scandump.rows_parsed"] = tot("scandump", "input_records")
        m["session.jobs"] = float(sum(s.get("jobs", 0) for s in layer))
        m["session.tasks"] = float(sum(s.get("tasks", 0) for s in layer))
        driver = 0.0
        for req in (s for s in spans if s["parent"] is None):
            children = [s for s in layer if s["request"] == req["request"]]
            jobs = [i for s in children for i in s.get("job_intervals", [])]
            # reading the status store happens inside the request: not Spark's work
            idle = req["end"] - req["start"] - sum(s.get("trace_s", 0) for s in children)
            driver += idle - covered(jobs, req["start"], req["end"])
        m["session.driver_s"] = driver
        m["session.task_busy_ratio"] = sum(s.get("run_s", 0) for s in layer) / (wall * self.cores)
        m["session.gc_s"] = float(sum(s.get("gc_s", 0) for s in layer))
        m["session.failed_tasks"] = float(sum(s.get("failed_tasks", 0) for s in layer))
        return m


def _findings(rows) -> dict[int, str]:
    return {gen.id_of(bytes(r["key"])): r["status"] for r in rows}


def _read_dump(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, cnt) of a hex scan dump's lines, in file then line order."""
    rows = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name), "rb") as f:
                rows += _DUMP_LINE.findall(f.read())
    ids = np.array([int(k[2 * len(gen.KEY_PREFIX) :], 16) for k, _ in rows], dtype=np.uint64)
    return ids, np.array([int(c) for _, c in rows], dtype=np.int64)


_DUMP_LINE = re.compile(rb"^key:([0-9A-F]+), value:[0-9A-F]*, cnt:(\d+)\.$", re.MULTILINE)


def _dir_bytes(path: str) -> int:
    return sum(e.stat().st_size for e in os.scandir(path) if e.is_file())


#: (name, unit, better) of every per-layer metric a traced run reports
PER_LAYER = (
    ("checksum.wall_s", "s", "lower"),
    ("checksum.task_cpu_s", "s", "lower"),
    ("checksum.rows_hashed", "count", "lower"),
    ("checksum.shuffle_bytes", "bytes", "lower"),
    ("checksum.jobs", "count", "lower"),
    ("diff.wall_s", "s", "lower"),
    ("diff.task_cpu_s", "s", "lower"),
    ("diff.shuffle_records", "count", "lower"),
    ("diff.shuffle_bytes", "bytes", "lower"),
    ("diff.spill_bytes", "bytes", "lower"),
    ("diff.write_s", "s", "lower"),
    ("diff.findings", "count", "higher"),
    ("diff.useful_ratio", "ratio", "higher"),
    ("sources.rows_read", "count", "lower"),
    ("sources.read_amplification", "ratio", "lower"),
    ("sources.scandump.wall_s", "s", "lower"),
    ("sources.scandump.task_cpu_s", "s", "lower"),
    ("sources.scandump.rows_parsed", "count", "lower"),
    ("scan.wall_s", "s", "lower"),
    ("scan.task_cpu_s", "s", "lower"),
    ("scan.jobs", "count", "lower"),
    ("scan.shuffle_bytes", "bytes", "lower"),
    ("scan.bytes_written", "bytes", "lower"),
    ("session.jobs", "count", "lower"),
    ("session.tasks", "count", "lower"),
    ("session.driver_s", "s", "lower"),
    ("session.task_busy_ratio", "ratio", "higher"),
    ("session.gc_s", "s", "lower"),
    ("session.failed_tasks", "count", "lower"),
    ("trace.overhead_pct", "%", "lower"),
)


def end_to_end(res: Result, setup_s: list[float], peak_rss_mb: float) -> dict:
    """Gated metrics of one untraced run, name -> (value, unit).  A value
    is None when every request it is measured on failed."""

    def med(xs, scale=1.0):
        return statistics.median(xs) * scale if xs else None

    def per(n, s):
        return n / s if s else None

    return {
        "setup_s": (med(setup_s), "s"),
        "verdict_s": (med(res.verdict_s), "s"),
        "findings_s": (med(res.findings_s), "s"),
        "request_p50_ms": (med(res.request_s, 1e3), "ms"),
        "requests_per_s": (per(len(res.request_s), sum(res.request_s)), "1/s"),
        "export_s": (med(res.export_s), "s"),
        "reload_s": (med(res.reload_s), "s"),
        "pairs_per_s": (per(res.pairs, res.busy_s), "1/s"),
        "cpu_s": (med(res.cycle_cpu_s), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def per_layer(res: Result) -> dict:
    """Per-layer metrics of one traced run: each the median over traced
    cycles, plus the tracing overhead against the run's untraced cycles."""
    on, off = res.cycle_wall[True], res.cycle_wall[False]
    values = {"trace.overhead_pct": (statistics.mean(on) / statistics.mean(off) - 1) * 100}
    for name in res.traced_cycles[0]:
        values[name] = statistics.median(c[name] for c in res.traced_cycles)
    return {name: (values[name], unit) for name, unit, _ in PER_LAYER}
