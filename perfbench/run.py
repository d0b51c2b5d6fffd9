"""georeader_spark benchmark: closed-loop workloads with per-operation
correctness checks and per-layer attribution.

Run from the repository root:

    python3 perfbench/run.py --workload pages_flagship --seed 1 \
        --seconds 14 --trace 0

Workloads: ``pages_flagship``, ``iterative_ann_knn``,
``oneshot_query_mix`` (see ``workloads.py`` and ``README.md``). One
client in this process drives ``local[nproc]``; the next operation
starts when the previous one returns. Every operation is timed as
builder call + a noop-sink write that computes every column, never
``.count()``. Each operation's result is checked untimed: once in the
warm pass against its reference, and once after the loop by a result
fingerprint.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first runs
the same untraced measurement as the base, then a second session with
one job group per operation and the event log on, and prints the
per-layer metrics, including the tracing overhead against that base.
The last stdout line is the result object; the line before it
describes the host and the run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import numpy as np

import eventlog
import procstat
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: scale of the query workloads' tables (fixture row-count rules)
TABLE_SF = 0.01
#: pages per flagship pass
N_PAGES = 100_000
#: fewest timed operations in a run: with the tail rule (ten samples
#: beyond it) 24 samples put op_wall_s_tail at p58, not the median
MIN_SAMPLES = 24
#: pmod base of the per-row hashes summed into a result fingerprint
_FP_MOD = 2147483647

E2E_UNITS = {
    "setup_s": "s",
    "queries_per_s": "1/s",
    "op_wall_s_p50": "s",
    "op_wall_s_tail": "s",
    "ok_ratio": "ratio",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}


def _layer_units() -> dict[str, str]:
    units = {
        "plans.session_start_s": "s",
        "sources.pages_materialize_s": "s",
        "queries.build_s": "s",
        "queries.build_jobs": "count",
        "queries.action_s": "s",
        "driver.jobs_per_op": "count",
        "driver.stages_per_op": "count",
        "driver.gap_s": "s",
        "pipeline.extract_s": "s",
        "pipeline.extract_share": "ratio",
        "kernels.text_extract_us_per_page": "us",
        "kernels.minhash_signature_us_per_row": "us",
        "kernels.simhash64_us_per_row": "us",
        "kernels.decode_ppm_us_per_row": "us",
        "spark.scan.bytes": "B",
        "spark.scan.rows": "count",
        "spark.codegen_s": "s",
        "spark.udf.rows": "count",
        "spark.udf.bytes_sent": "B",
        "spark.udf.bytes_returned": "B",
        "spark.udf.worker_s": "s",
        "spark.shuffle.bytes_written": "B",
        "spark.shuffle.write_s": "s",
        "spark.shuffle.fetch_wait_s": "s",
        "spark.spill_bytes": "B",
        "spark.exec.run_s": "s",
        "spark.exec.cpu_s": "s",
        "spark.exec.gc_s": "s",
        "spark.exec.busy_ratio": "ratio",
        "trace.overhead_ratio": "ratio",
    }
    for name in workloads.all_op_names():
        units[f"queries.{name}.wall_s"] = "s"
    return units


# ---------------------------------------------------------------------------
# host and process environment
# ---------------------------------------------------------------------------

def host_info() -> dict:
    cpus = len(os.sched_getaffinity(0))
    ram = procstat.host_ram_gib()
    return {
        "nproc": cpus,
        "ram_gib": round(ram, 2),
        # local mode runs every task in the driver JVM: a quarter of
        # the host's RAM, capped, instead of the 48g program default
        "driver_heap": f"{max(1, min(8, int(ram // 4)))}g",
        "scaling_gate_2_to_8": (
            f"not measurable: nproc={cpus} < 8" if cpus < 8
            else "measurable; not run by this benchmark"),
    }


def configure_env(host: dict, work: str) -> None:
    """Size Spark to the host and keep every file it writes in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": host["driver_heap"],
        "PYTHONPATH": os.pathsep.join(path),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # no hsperfdata file in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = None


def start_session(host: dict, work: str, event_dir: str | None):
    import bench
    from georeader_spark.plans.session import get_spark

    conf = dict(bench.BENCH_CONF)
    conf["spark.ui.showConsoleProgress"] = "false"
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    # the heap is committed at its host-sized maximum from the start, so
    # resident memory does not depend on when G1 chose to expand it
    conf["spark.driver.defaultJavaOptions"] = f"-Xms{host['driver_heap']}"
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_dir,
        })
    n = host["nproc"]
    spark = get_spark("perfbench", master=f"local[{n}]",
                      shuffle_partitions=2 * n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the gateway JVM this process started and wait for it and
    every process below this one to end."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    others = [p for p in procstat.descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    procstat.wait_gone(others)


# ---------------------------------------------------------------------------
# one measured phase: session, warmup with checks, closed loop
# ---------------------------------------------------------------------------

class Spans:
    """In-memory spans with parentage; one id per operation."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.items: list[dict] = []

    def start(self, name: str, parent: dict | None = None, **attrs) -> dict:
        span = {"id": len(self.items), "name": name,
                "parent": parent["id"] if parent else None,
                "start": time.time(), **attrs}
        if self.enabled:
            self.items.append(span)
        return span

    @staticmethod
    def end(span: dict) -> None:
        span["end"] = time.time()


def _fingerprint_exprs(df):
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in df.columns]
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(_FP_MOD))).alias("h1"),
        F.sum(F.pmod(F.hash(*cols), F.lit(_FP_MOD))).alias("h2"),
    ]


def _observed(df):
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, *_fingerprint_exprs(df)), obs


def _fingerprint(obs) -> tuple:
    got = obs.get
    return (got["n"], got["h1"], got["h2"])


class Phase:
    """Set up a session, warm and check every operation, then run the
    closed loop for ``seconds``."""

    def __init__(self, host, wl, seed, seconds, work, traced, refs=None):
        self.host, self.wl, self.seed = host, wl, seed
        self.seconds, self.work, self.traced = seconds, work, traced
        self.check_refs = refs  # fingerprints checked by an earlier phase
        self.refs: dict[str, tuple | None] = {}
        self.problems: dict[str, str] = {}
        self.records: list[dict] = []  # timed operations
        self.checks: list[dict] = []  # fingerprinted check pass
        self.spans = Spans(traced)
        self.event_dir = os.path.join(work, "eventlog") if traced else None
        self.setup_parts: dict[str, float] = {}
        self.spark = None

    def run(self, materialize: bool) -> None:
        run_span = self.spans.start("run", traced=self.traced)
        if self.event_dir:
            os.makedirs(self.event_dir, exist_ok=True)
        t = time.perf_counter()
        self.spark = start_session(self.host, self.work, self.event_dir)
        self.setup_parts["session_start_s"] = time.perf_counter() - t
        if materialize:
            t = time.perf_counter()
            self.wl.materialize(self.spark)
            self.setup_parts["materialize_s"] = time.perf_counter() - t
        self.wl.configure(self.spark, self.host["nproc"])
        self.ops = self.wl.ops()
        self.setup_parts["warmup_s"] = self._warm() + self._check_pass()
        self.setup_s = sum(self.setup_parts.values())
        self.run_span = run_span
        self._loop(run_span)

    def _group(self, gid: str, desc: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(gid, desc)

    def _warm(self) -> float:
        """Run every operation once, untimed by the loop, collecting its
        rows; check them (first phase) or their fingerprint against the
        first phase's. Returns the warm time (checks excluded)."""
        self._group("warm-noop", "warm noop sink")
        t = time.perf_counter()
        self.spark.range(1).write.format("noop").mode("overwrite").save()
        total = time.perf_counter() - t
        for name, build in self.ops.items():
            self._group(f"warm-{name}", name)
            try:
                t = time.perf_counter()
                df = build(self.spark)
                observed, obs = _observed(df)
                rows = [tuple(r) for r in observed.collect()]
                total += time.perf_counter() - t
                fp = _fingerprint(obs)
                if self.check_refs is None:
                    why = self.wl.check(name, [c.lower() for c in df.columns], rows)
                elif fp != self.check_refs.get(name):
                    why = "result differs from the checked first-phase result"
                else:
                    why = None
            except Exception as ex:  # a broken leaf is a counted failure
                traceback.print_exc(file=sys.stderr)
                why, fp = f"{type(ex).__name__}: {str(ex)[:300]}", None
            self.refs[name] = None if why else fp
            if why:
                self.problems[name] = why
                print(f"check failed: {name}: {why}", file=sys.stderr)
        return total

    def _loop(self, run_span: dict) -> None:
        me = os.getpid()
        pids = procstat.descendants(me)
        # peak memory of the loop only, not of materialization and warmup
        procstat.reset_peak_rss(pids)
        cpu0 = procstat.cpu_seconds(pids)
        rounds = workloads.round_orders(list(self.ops), self.seed)
        round_s: list[float] = []
        # whole rounds only, so every operation type has the same sample
        # count; the first round sizes the loop to --seconds, but never
        # below MIN_SAMPLES operations, so the tail is not the median
        planned = math.ceil(MIN_SAMPLES / len(self.ops))
        while len(round_s) < planned:
            t = time.perf_counter()
            for name in next(rounds):
                self.records.append(self._op(name, run_span))
            round_s.append(time.perf_counter() - t)
            if len(round_s) == 1:
                planned = max(planned, round(self.seconds / round_s[0]))
        self.round_s = round_s
        pids = procstat.descendants(me)
        self.cpu_s = procstat.cpu_seconds(pids) - cpu0
        self.peak_rss_mb = procstat.peak_rss_mb(pids)
        self._group("idle", "idle")

    def _op(self, name: str, run_span: dict) -> dict:
        op_id = f"op-{len(self.records)}"
        rec = {"id": op_id, "name": name, "ok": False}
        span = self.spans.start("op", run_span, op=op_id, leaf=name)
        self._group(op_id, name)
        tracker = self.spark.sparkContext.statusTracker() if self.traced else None
        try:
            bspan = self.spans.start("build", span, op=op_id)
            e0, t0 = time.time(), time.perf_counter()
            df = self.ops[name](self.spark)
            t1, e1 = time.perf_counter(), time.time()
            self.spans.end(bspan)
            if self.traced:
                rec["build_jobs"] = len(tracker.getJobIdsForGroup(op_id))
            aspan = self.spans.start("action", span, op=op_id)
            e2, t2 = time.time(), time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t3, e3 = time.perf_counter(), time.time()
            self.spans.end(aspan)
            # an operation whose warm result failed its check fails too
            rec.update(build_s=t1 - t0, action_s=t3 - t2, wall=(t1 - t0) + (t3 - t2),
                       epochs=(e0, e1, e2, e3), ok=self.refs.get(name) is not None)
            if self.traced:
                rec["jobs"] = len(tracker.getJobIdsForGroup(op_id))
        except Exception as ex:  # counted as a failed operation
            traceback.print_exc(file=sys.stderr)
            rec["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
        self.spans.end(span)
        return rec

    def _check_pass(self) -> float:
        """Run every operation a second time before the loop, untimed,
        through the timed path's noop sink with an ``observe()``
        fingerprint, which must equal the checked warm result; this also
        warms the timed path. The fingerprint is kept out of the timed
        operations: on ``oneshot_query_mix`` it added 8% to the mean and
        14% to the median operation wall time. Returns the pass time."""
        t = time.perf_counter()
        for name, build in self.ops.items():
            self._group(f"check-{name}", name)
            ok = False
            try:
                observed, obs = _observed(build(self.spark))
                observed.write.format("noop").mode("overwrite").save()
                ref = self.refs.get(name)
                ok = ref is not None and _fingerprint(obs) == ref
            except Exception:  # counted as a failed check
                traceback.print_exc(file=sys.stderr)
            if not ok:
                self.problems.setdefault(name, "check pass: result differs "
                                         "from the checked warm result")
            self.checks.append({"name": name, "ok": ok})
        return time.perf_counter() - t

    def outcomes(self) -> list[dict]:
        """Every attempted operation: the timed ones and the checks."""
        return self.records + self.checks

    # -- end-to-end metrics --------------------------------------------------

    def walls(self, name: str | None = None) -> list[float]:
        return [r["wall"] for r in self.records
                if "wall" in r and (name is None or r["name"] == name)]

    def e2e(self) -> tuple[dict, dict]:
        walls = sorted(self.walls())
        if not walls:
            raise RuntimeError("no operation completed")
        n = len(walls)
        pct, tail = tail_percentile(walls)
        done = self.outcomes()
        failed = sum(not r["ok"] for r in done)
        metrics = {
            "setup_s": self.setup_s,
            "queries_per_s": n / sum(walls),
            "op_wall_s_p50": hd_quantile(walls, 0.5),
            "op_wall_s_tail": tail,
            "ok_ratio": (len(done) - failed) / len(done),
            "cpu_s_per_op": self.cpu_s / len(self.records),
            "peak_rss_mb": self.peak_rss_mb,
        }
        detail = {
            "samples": n, "rounds": len(self.round_s),
            "round_s": [round(r, 3) for r in self.round_s],
            "op_wall_s_tail_percentile": pct,
            "setup_parts": {k: round(v, 4) for k, v in self.setup_parts.items()},
            "failed_checks": self.problems,
        }
        return metrics, detail


def tail_percentile(walls: list[float]) -> tuple[float, float]:
    """(p, value): the highest whole percentile with at least ten samples
    above it, and never below the median: with fewer than 20 samples it
    is the median. The value is ``hd_quantile`` at p."""
    n = len(walls)
    p = max(50, math.floor(100.0 * (n - 10) / n))
    return float(p), hd_quantile(walls, p / 100.0)


def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a weighted mean of
    all order statistics, with Beta(q(n+1), (1-q)(n+1)) weights.

    A query mix has clusters of operation times a leaf apart, and the
    sample at a single rank jumps between them from run to run; on
    ``oneshot_query_mix`` the plain median spread 13% between seeds."""
    x = np.sort(np.asarray(values, dtype=np.float64))
    n = len(x)
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    t = np.linspace(0.0, 1.0, 20_001)[1:-1]
    log_pdf = (a - 1.0) * np.log(t) + (b - 1.0) * np.log1p(-t)
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate(([0.0], np.cumsum(pdf)))
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, len(cdf)), cdf)
    return float(np.diff(edges) @ x)


# ---------------------------------------------------------------------------
# per-layer metrics of a traced phase
# ---------------------------------------------------------------------------

def layer_metrics(base: Phase, traced: Phase, groups: dict, kernels: dict,
                  extract_s: float | None) -> dict:
    recs = [r for r in traced.records if "wall" in r]
    n = len(recs)
    stats = [groups.get(r["id"]) or eventlog.GroupStats() for r in recs]

    def total(counter: str) -> float:
        return sum(s.counters.get(counter, 0.0) for s in stats)

    def gap(r, s) -> float:
        e0, e1, e2, e3 = (e * 1000.0 for e in r["epochs"])
        idle = (e1 - e0) - eventlog.covered_ms(s.jobs, e0, e1)
        idle += (e3 - e2) - eventlog.covered_ms(s.jobs, e2, e3)
        return idle / 1000.0

    wall_sum = sum(r["wall"] for r in recs)
    out = {
        "plans.session_start_s": base.setup_parts["session_start_s"],
        "sources.pages_materialize_s": (
            base.setup_parts["materialize_s"]
            if isinstance(base.wl, workloads.FlagshipWorkload) else 0.0),
        "queries.build_s": sum(r["build_s"] for r in recs) / n,
        "queries.build_jobs": sum(r["build_jobs"] for r in recs) / n,
        "queries.action_s": sum(r["action_s"] for r in recs) / n,
        "driver.jobs_per_op": sum(len(s.jobs) for s in stats) / n,
        "driver.stages_per_op": sum(s.stages for s in stats) / n,
        "driver.gap_s": sum(gap(r, s) for r, s in zip(recs, stats)) / n,
        "pipeline.extract_s": extract_s or 0.0,
        "pipeline.extract_share": (
            extract_s / statistics.median(traced.walls(workloads.PIPELINE_OP))
            if extract_s else 0.0),
        **kernels,
        "spark.scan.bytes": total("scan_bytes") / n,
        "spark.scan.rows": total("scan_rows") / n,
        "spark.codegen_s": total("codegen_ms") / 1e3 / n,
        "spark.udf.rows": total("udf_rows") / n,
        "spark.udf.bytes_sent": total("udf_bytes_sent") / n,
        "spark.udf.bytes_returned": total("udf_bytes_returned") / n,
        "spark.udf.worker_s": total("udf_worker_ms") / 1e3 / n,
        "spark.shuffle.bytes_written": total("shuffle_bytes_written") / n,
        "spark.shuffle.write_s": total("shuffle_write_ns") / 1e9 / n,
        "spark.shuffle.fetch_wait_s": total("fetch_wait_ms") / 1e3 / n,
        "spark.spill_bytes": total("spill_bytes") / n,
        "spark.exec.run_s": total("run_ms") / 1e3 / n,
        "spark.exec.cpu_s": total("cpu_ns") / 1e9 / n,
        "spark.exec.gc_s": total("gc_ms") / 1e3 / n,
        "spark.exec.busy_ratio": total("run_ms") / 1e3 / (wall_sum * traced.host["nproc"]),
        "trace.overhead_ratio": (
            (wall_sum / n) / statistics.mean(base.walls())),
    }
    for name in workloads.all_op_names():
        w = traced.walls(name)
        out[f"queries.{name}.wall_s"] = statistics.median(w) if w else 0.0
    return out


def _extract_probe(phase: Phase, reps: int = 3) -> float:
    """Median noop-sink time of ``pipeline.extract_stage`` alone over
    the flagship's pages (its own job group, outside the loop)."""
    from georeader_spark.pipeline import extract_stage

    phase._group("probe-extract", "extract_stage")
    times = []
    for _ in range(reps + 1):
        t = time.perf_counter()
        extract_stage(phase.spark.read.parquet(phase.wl.path)).write.format(
            "noop").mode("overwrite").save()
        times.append(time.perf_counter() - t)
    return statistics.median(times[1:])


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=TABLE_SF,
                    help="scale factor of the query workloads' fixture tables "
                         "(a directory under fixtures/)")
    ap.add_argument("--pages", type=int, default=N_PAGES,
                    help="pages per flagship pass")
    ap.add_argument("--tamper-expected", action="append", default=[],
                    metavar="OP", help="self-test hook: corrupt OP's reference")
    return ap.parse_args(argv)


def _program_present() -> str | None:
    for rel in ("georeader_spark/queries.py", "bench.py",
                "tools/check_correctness.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = _program_present()
    if missing:
        print(f"perfbench: {missing} not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)

    host = host_info()
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    wl = None
    try:
        configure_env(host, work)
        wl = workloads.make(args.workload, args.seed, work, host["nproc"],
                            args.sf, args.pages, args.tamper_expected)
        base = Phase(host, wl, args.seed, args.seconds, work, traced=False)
        base.run(materialize=True)
        metrics, detail = base.e2e()
        phases = [base]
        if args.workload == workloads.FLAGSHIP:
            detail["pages_per_s"] = metrics["queries_per_s"] * args.pages
        if args.trace:
            traced = _traced_phase(args, host, wl, work, base, detail)
            phases.append(traced)
            metrics = traced.layer
    finally:
        if wl is not None:
            wl.close()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(len(p.outcomes()) for p in phases)
    failed = sum(not r["ok"] for p in phases for r in p.outcomes())
    units = _layer_units() if args.trace else E2E_UNITS
    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "host": host,
            "scale": {"table_sf": args.sf, "pages": args.pages},
            "closed_loop_clients": 1, **detail}
    print(json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


def _traced_phase(args, host, wl, work, base: Phase, detail: dict) -> Phase:
    """Second session with job groups and the event log; sets
    ``.layer`` to the per-layer metrics and adds its details."""
    base.spark.stop()
    traced = Phase(host, wl, args.seed, args.seconds, work, traced=True,
                   refs=base.refs)
    traced.run(materialize=False)
    op = traced.spans.start("op", traced.run_span, op="kernels")
    kspan = traced.spans.start("kernel", op, op="kernels")
    kernels = workloads.kernel_micro()
    traced.spans.end(kspan)
    traced.spans.end(op)
    extract_s = (_extract_probe(traced)
                 if args.workload == workloads.FLAGSHIP else None)
    traced.spans.end(traced.run_span)
    traced.spark.stop()  # flushes the event log
    groups = eventlog.attribute(eventlog.read_events(traced.event_dir))
    traced.layer = layer_metrics(base, traced, groups, kernels, extract_s)
    detail["traced"] = traced.e2e()[1]
    detail["untraced_base"] = {"mean_op_wall_s": statistics.mean(base.walls())}
    detail["trace_file"] = _write_trace(args, host, traced, traced.layer)
    return traced


def _write_trace(args, host, phase: Phase, metrics: dict) -> str:
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace_{args.workload}_s{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"host": host, "workload": args.workload, "seed": args.seed,
                   "spans": phase.spans.items, "ops": phase.records,
                   "metrics": metrics}, f, indent=1)
    return os.path.relpath(path, ROOT)


if __name__ == "__main__":
    sys.exit(main())
