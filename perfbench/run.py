"""perfbench: the pandrs_spark registry benchmark.

Runs one fixed mix of registry queries (``__spark_entry__.queries()``)
in a fresh Spark session with a single client: the queries run one after
another, each as build -> ``toPandas()`` -> ``release_persisted()``.
Pass 1 is cold and runs the mix in its listed order. Warm-up passes
follow (checked, not counted in the warm metrics), then a fixed number
of timed warm passes (set by ``--seconds``), each in an order drawn from
``--seed``. Every result is
hashed outside the timed region and checked against the DuckDB-oracle
hash committed in ``expected.json``.

With ``--trace 1`` the run instead traces one cold and one warm pass
(spans around the library's public functions, Spark's event log and
plan-phase tracker) and then times one untraced warm pass, so the
tracing overhead is measured in the same session.

Usage (from the repository root):
    python3 perfbench/run.py --workload relational_short --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import asdict, dataclass, field  # noqa: E402

import spans  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]  # the cold pass runs them in this order
    pass_s: float  # one warm pass at the commit that defined the mix
    warmup: int  # passes between the cold and the timed passes, while the JIT settles

    def warm_passes(self, seconds: float) -> int:
        """Timed warm passes that fill ``seconds`` at the defining commit.
        The count depends only on ``seconds``, never on measured speed,
        so every commit does the same work (peak RSS grows with work)."""
        return max(1, int(seconds // self.pass_s))


# Each mix is small enough that one run (session set-up, cold pass,
# warm-up passes and timed warm passes) stays near 50 s. Why each
# workload exists is stated in BENCHMARK.json and README.md.
WORKLOADS = {
    "relational_short": Workload(
        (
            "q99_interval_join",
            "q297_ewma_control_chart",
            "q354_orc_roundtrip_agg",
            "q228_streaming_sliding_counts",
        ),
        3.5,
        3,
    ),
    "graph_iterative": Workload(("q69_trade_bfs_hops",), 2.7, 5),
}

# Layers traced by span wrappers: name -> module below ``pandrs_spark``.
OPERATOR_LAYERS = (
    "graph", "ml", "similarity", "dedup", "timeseries",
    "windows", "joins", "text", "hypothesis",
)
TRACED_MODULES = (
    "catalog",
    "frame",
    "operators.util",
    *(f"operators.{m}" for m in OPERATOR_LAYERS),
    "streaming.windows",
    "sources.io",
)

# End-to-end metrics in the result line of an untraced run. The summary
# line before it also prints cold_cpu_s, cold_wall_s, wall_s,
# query_p50_s, query_p75_s, fail_ratio and peak_rss_mb, which are not
# steady on a shared host or not non-zero enough for a bound: see
# README.md.
BOUNDED_E2E = ("setup_s", "cpu_s")

REF_ITEMS = 500_000
REF_NOMINAL_S = 0.2  # _reference_cpu_s() on the quiet machine that defined the benchmark

TAIL_SAMPLES = 10  # a percentile is reported only with this many samples above it


def percentile_with_tail(samples: list[float], q: float, min_above: int = TAIL_SAMPLES) -> float | None:
    """Nearest-rank ``q`` percentile of ``samples``, or None unless at
    least ``min_above`` samples lie above it (40 samples for p75)."""
    if not samples:
        return None
    ordered = sorted(samples)
    rank = max(1, math.ceil(q * len(ordered)))
    if len(ordered) - rank < min_above:
        return None
    return ordered[rank - 1]


@dataclass
class QueryRun:
    pass_label: str
    query: str
    wall_s: float = 0.0
    cpu_s: float = 0.0  # process-tree CPU time over the same region
    build_s: float = 0.0
    collect_s: float = 0.0
    release_s: float = 0.0
    rows: int = 0
    persisted: int = 0
    ok: bool = True
    error: str | None = None
    windows_ms: list = field(default_factory=list)  # (phase, start, end)
    catalyst_ms: dict = field(default_factory=dict)

    @property
    def label(self) -> str:
        return f"{self.pass_label}/{self.query}"


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_workdir() -> dict[str, str]:
    """Scratch space inside the checkout: temp files, Spark local dirs,
    the event log and run records. Emptied (except records) per run so
    every run sees the same starting state."""
    dirs = {k: os.path.join(WORK, k) for k in ("tmp", "local", "eventlog", "runs")}
    for k in ("tmp", "local", "eventlog"):
        shutil.rmtree(dirs[k], ignore_errors=True)
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    # Spark gets half the CPUs this process may run on; the rest are left
    # to the driver JVM's own threads (planner, JIT compiler, GC) and to
    # Python. With every CPU given to Spark, a stage waits for any CPU the
    # host steals: on a shared 4-vCPU VM, four interleaved seeds spread
    # cold_wall_s by 0.30 of its median with 4 cores and 0.01 with 2, at
    # the same speed.
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    return dirs


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _descendants(bench) -> list[int]:
    me = os.getpid()
    return [
        int(p) for p in os.listdir("/proc")
        if p.isdigit() and bench._is_descendant(int(p), me)
    ]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: list[int], grace_s: float) -> None:
    """Wait up to ``grace_s`` for ``pids`` to exit, then kill the rest
    and wait until they are gone."""
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.1)


def _shutdown(spark, bench) -> None:
    """Stop the session and the JVM, and wait until every process this
    run started (JVM, Python workers) has exited."""
    children = _descendants(bench)
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _reap(children, 30)


def _tree_cpu_s(bench) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and every live process it started: the driver JVM,
    the Python worker daemon and its workers. Time the host steals from
    the machine's CPUs is not in it."""
    ticks = 0
    for pid in (os.getpid(), *_descendants(bench)):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited since it was listed
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _reference_cpu_s() -> float:
    """CPU time of a fixed piece of pure-Python work (build and sort a
    list of REF_ITEMS floats). It does not involve the program, so its
    ratio to REF_NOMINAL_S tracks how fast the shared host is running
    this machine's CPUs at the moment."""
    rng = random.Random(0)
    t0 = time.process_time()
    sorted([rng.random() for _ in range(REF_ITEMS)])
    return time.process_time() - t0


def _steal_s() -> float:
    """Host steal time summed over this machine's CPUs (/proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class Runner:
    def __init__(self, spark, queries, sf_dir, expected, frame, check, tracer, cpu_clock):
        self.spark = spark
        self.queries = queries
        self.sf_dir = sf_dir
        self.expected = expected
        self.frame = frame
        self.check = check
        self.tracer = tracer
        self.cpu_clock = cpu_clock
        self.runs: list[QueryRun] = []
        self.pass_steal_s: dict[str, float] = {}
        self.ref_cpu_s: list[float] = []

    def _cache_empty(self) -> bool:
        return bool(self.spark._jsparkSession.sharedState().cacheManager().isEmpty())

    def run_query(self, name: str, pass_label: str, traced: bool) -> QueryRun:
        r = QueryRun(pass_label, name)
        sc = self.spark.sparkContext
        sc.setJobDescription(f"perfbench {r.label}")
        tr = self.tracer
        tr.enabled = traced
        tr.query = r.label
        df = pdf = None
        c0 = self.cpu_clock()
        t0, e0 = time.perf_counter(), time.time()
        t1, e1 = t0, e0
        try:
            with tr.region("queries.build", "queries"):
                df = self.queries[name](self.spark, self.sf_dir)
            t1, e1 = time.perf_counter(), time.time()
            with tr.region("collect.toPandas", "collect"):
                pdf = df.toPandas()
        except Exception as e:  # noqa: BLE001 — a failing query is counted, not fatal
            r.ok, r.error = False, f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            t2, e2 = time.perf_counter(), time.time()
            if df is None:
                t1, e1 = t2, e2
            r.persisted = self.frame.release_persisted()
            t3, e3 = time.perf_counter(), time.time()
        r.cpu_s = self.cpu_clock() - c0
        r.build_s, r.collect_s, r.release_s, r.wall_s = t1 - t0, t2 - t1, t3 - t2, t3 - t0
        r.windows_ms = [
            ("build", e0 * 1e3, e1 * 1e3),
            ("collect", e1 * 1e3, e2 * 1e3),
            ("release", e2 * 1e3, e3 * 1e3),
        ]
        sc.setJobDescription(None)
        tr.query = None
        # Everything below is outside the timed region.
        if not self._cache_empty():
            r.ok, r.error = False, r.error or "cache not empty after release_persisted()"
            self.spark.catalog.clearCache()
        if pdf is not None:
            r.rows = len(pdf)
            if r.ok:
                want = self.expected.get(name)
                got = self.check.value_hash(self.check.canon(pdf))
                if want is None or got != want["hash"]:
                    r.ok, r.error = False, f"result hash {got} != expected {want and want['hash']}"
        if traced and df is not None:
            phases = df._jdf.queryExecution().tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                opt = phases.get(ph)
                if opt.isDefined():
                    r.catalyst_ms[ph] = int(opt.get().durationMs())
        self.runs.append(r)
        return r

    def run_pass(self, order, pass_label: str, traced: bool = False) -> list[QueryRun]:
        """Run the queries in ``order`` and record the host's steal time
        over the pass, after one sample of the reference work."""
        self.ref_cpu_s.append(_reference_cpu_s())
        s0 = _steal_s()
        runs = [self.run_query(q, pass_label, traced) for q in order]
        self.pass_steal_s[pass_label] = _steal_s() - s0
        return runs


def _guard(bench) -> dict:
    """Quiet-machine record. ``bench._foreign_spark_pids`` is reused; its
    ``_load_guard`` wait loop is not, because it would hold a run for up
    to 90 s while the load average of the previous run decays."""
    return {
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "foreign_spark_pids": bench._foreign_spark_pids(),
    }


def _layer_metrics(traced_runs, untraced_wall, roll, spark_q, rss_mb) -> dict[str, tuple[float, str]]:
    """The per-layer metrics of a traced run, summed over its traced passes."""
    def fn(key: str, field_: str) -> float:
        return roll.get(key, {}).get(field_, 0)

    def ratio(key: str) -> float:
        calls = fn(key, "calls")
        return fn(key, "changed") / calls if calls else 0.0

    def spark_sum(k: str) -> float:
        return sum(spark_q.get(r.label, {}).get(k, 0) for r in traced_runs)

    wall = sum(r.wall_s for r in traced_runs)
    warm_wall = sum(r.wall_s for r in traced_runs if r.pass_label.startswith("warm"))
    m: dict[str, tuple[float, str]] = {
        "queries.build_s": (sum(r.build_s for r in traced_runs), "s"),
        "queries.build_jobs": (spark_sum("build_jobs"), "count"),
        "catalog.load_table.calls": (fn("catalog.load_table", "calls"), "count"),
        "catalog.load_table.s": (fn("catalog.load_table", "s"), "s"),
        "frame.persisted": (fn("frame.release_persisted", "returned"), "count"),
        "frame.release_s": (fn("frame.release_persisted", "s"), "s"),
        "operators.util.fan_out.calls": (fn("operators.util.fan_out", "calls"), "count"),
        "operators.util.fan_out.widened": (ratio("operators.util.fan_out"), "ratio"),
        "operators.util.right_size_keyed.calls": (fn("operators.util.right_size_keyed", "calls"), "count"),
        "operators.util.right_size_keyed.collapsed": (ratio("operators.util.right_size_keyed"), "ratio"),
        "operators.util.tracked_persist.calls": (fn("operators.util.tracked_persist", "calls"), "count"),
        "operators.util.assert_bounded.s": (fn("operators.util.assert_bounded", "s"), "s"),
    }
    for layer in (*(f"operators.{o}" for o in OPERATOR_LAYERS), "streaming.windows", "sources.io"):
        m[f"{layer}.calls"] = (fn(layer, "calls"), "count")
        m[f"{layer}.self_s"] = (fn(layer, "self_s"), "s")
    for ph in ("analysis", "optimization", "planning"):
        m[f"spark.catalyst.{ph}_s"] = (sum(r.catalyst_ms.get(ph, 0) for r in traced_runs) / 1e3, "s")
    stage_s = spark_sum("stage_s")
    m.update({
        "spark.sql_executions": (spark_sum("sql_executions"), "count"),
        "spark.jobs": (spark_sum("jobs"), "count"),
        "spark.stages": (spark_sum("stages"), "count"),
        "spark.tasks": (spark_sum("tasks"), "count"),
        "spark.aqe.replans": (spark_sum("aqe_replans"), "count"),
        "spark.exec.stage_s": (stage_s, "s"),
        "spark.exec.run_s": (spark_sum("run_s"), "s"),
        "spark.exec.cpu_s": (spark_sum("cpu_s"), "s"),
        "spark.exec.gc_s": (spark_sum("gc_s"), "s"),
        "spark.exec.deser_s": (spark_sum("deser_s"), "s"),
        "spark.driver_gap_s": (wall - stage_s, "s"),
        "spark.python_worker.stage_s": (spark_sum("python_stage_s"), "s"),
        "spark.shuffle.read_mb": (spark_sum("shuffle_read_mb"), "MB"),
        "spark.shuffle.write_mb": (spark_sum("shuffle_write_mb"), "MB"),
        "spark.input_mb": (spark_sum("input_mb"), "MB"),
        "spark.spill_mb": (spark_sum("spill_mb"), "MB"),
        "collect.s": (sum(r.collect_s for r in traced_runs), "s"),
        "collect.rows": (sum(r.rows for r in traced_runs), "rows"),
        "trace.wall_s": (warm_wall, "s"),
        "trace.overhead_s": (warm_wall - untraced_wall, "s"),
        "memory.jvm_peak_rss_mb": (rss_mb["jvm"], "MB"),
        "memory.python_peak_rss_mb": (rss_mb["python"], "MB"),
    })
    return m


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or not os.path.isdir(
        os.path.join(ROOT, "pandrs_spark")
    ):
        print(f"perfbench: no pandrs_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    dirs = _prepare_workdir()
    sys.path.insert(0, ROOT)

    import bench

    guard_start = _guard(bench)
    tracer = spans.Tracer()
    tracer.enabled = False
    if args.trace:
        # Before __spark_entry__ is imported: the query modules bind
        # library functions by name at import time.
        tracer.instrument(
            {m: importlib.import_module(f"pandrs_spark.{m}") for m in TRACED_MODULES},
            "pandrs_spark",
        )

    from pandrs_spark import catalog, frame
    from pandrs_spark.session import get_spark

    import __spark_entry__ as entry

    sf_dir = catalog.default_sf_dir()
    if os.path.basename(sf_dir.rstrip("/")) != expected["sf"]:
        print(f"perfbench: expected hashes are for {expected['sf']}, data dir is {sf_dir}", file=sys.stderr)
        return 2
    extra = None
    if args.trace:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    steal0 = _steal_s()
    try:
        spark = get_spark("perfbench", extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            spark.range(1).count()
            setup_s = time.perf_counter() - T_START
            from tools import check_oracle

            wl = WORKLOADS[args.workload]
            rng = random.Random(args.seed)
            orders = []

            def shuffled() -> list[str]:
                orders.append(rng.sample(wl.queries, len(wl.queries)))
                return orders[-1]

            runner = Runner(
                spark, entry.queries(), sf_dir, expected["queries"], frame, check_oracle, tracer,
                lambda: _tree_cpu_s(bench),
            )
            cold = runner.run_pass(wl.queries, "cold", traced=bool(args.trace))
            warm_passes = []
            if args.trace:
                order = shuffled()
                warm_passes.append(runner.run_pass(order, "warm1", traced=True))
                untraced = runner.run_pass(order, "untraced", traced=False)
            else:
                for i in range(wl.warmup):
                    runner.run_pass(shuffled(), f"warmup{i + 1}")
                for i in range(wl.warm_passes(args.seconds)):
                    warm_passes.append(runner.run_pass(shuffled(), f"warm{i + 1}"))
            jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
            rss_mb = {"python": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(jvm_pid)}
            cpus_effective = spark.sparkContext.defaultParallelism
        finally:
            _shutdown(spark, bench)
    finally:
        _reap(_descendants(bench), 0)  # anything left by a failed start
    steal_s = _steal_s() - steal0

    runs = runner.runs
    failed = sum(not r.ok for r in runs)
    warm_totals = [sum(r.wall_s for r in p) for p in warm_passes]
    warm_samples = [r.wall_s for p in warm_passes for r in p]
    # Each query's warm wall is its median over the warm passes; the p50
    # is taken across queries, so it does not jump between the fast and
    # slow queries of a mix as passes are added.
    per_query_warm = {
        q: statistics.median(r.wall_s for p in warm_passes for r in p if r.query == q)
        for q in wl.queries
    }
    # CPU per pass over every pass of the run, the cold one included: the
    # JIT keeps compiling for several passes, and how much of that lands
    # in any one pass varies from run to run while the total does not.
    cpu_per_pass = sum(r.cpu_s for r in runs) / len({r.pass_label for r in runs})
    host_scale = REF_NOMINAL_S / statistics.median(runner.ref_cpu_s)
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_cpu_s": (sum(r.cpu_s for r in cold), "s"),
        "cpu_s": (cpu_per_pass * host_scale, "s"),
        "cpu_raw_s": (cpu_per_pass, "s"),
        "cold_wall_s": (sum(r.wall_s for r in cold), "s"),
        "wall_s": (statistics.median(warm_totals), "s"),
        "query_p50_s": (statistics.median(per_query_warm.values()), "s"),
        "peak_rss_mb": (sum(rss_mb.values()), "MB"),
    }
    p75 = percentile_with_tail(warm_samples, 0.75)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "sf_dir": sf_dir,
        "warm_orders": orders,
        "warm_passes": len(warm_passes),
        "cpu_steal_s": steal_s,
        "pass_steal_s": runner.pass_steal_s,
        "ref_cpu_s": runner.ref_cpu_s,
        "peak_rss_mb_by_process": rss_mb,
        "cpus_effective": cpus_effective,
        "loadavg_1m_at_start": guard_start["loadavg_1m"],
        "loadavg_1m_at_end": round(os.getloadavg()[0], 2),
        "foreign_spark_pids": guard_start["foreign_spark_pids"],
        "fail_ratio": failed / len(runs),
        "query_p75_s": p75,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "queries": [asdict(r) | {"label": r.label} for r in runs],
    }
    if args.trace:
        import eventlog

        logs = [os.path.join(dirs["eventlog"], f) for f in os.listdir(dirs["eventlog"])]
        traced_runs = [r for r in runs if r.pass_label != "untraced"]
        windows = [
            eventlog.Window(r.label, ph, a, b) for r in traced_runs for ph, a, b in r.windows_ms
        ]
        spark_q = eventlog.read(logs[0], windows) if len(logs) == 1 else {}
        roll = spans.rollup(tracer.spans)
        untraced_wall = sum(r.wall_s for r in untraced)
        metrics = _layer_metrics(traced_runs, untraced_wall, roll, spark_q, rss_mb)
        record["per_query"] = {
            r.label: {
                "spark": spark_q.get(r.label, {}),
                "layers": spans.rollup([s for s in tracer.spans if s.query == r.label]),
            }
            for r in traced_runs
        }
        record["per_workload"] = {k: v for k, (v, _) in metrics.items()}
        record["spans"] = [asdict(s) for s in tracer.spans]
    else:
        metrics = {k: e2e[k] for k in BOUNDED_E2E}

    out = os.path.join(dirs["runs"], f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    p75_txt = f"{p75:.4f} s" if p75 is not None else f"n/a (< {TAIL_SAMPLES} samples above p75)"
    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
        + ", ".join(f"{k}={v:.4f} {u}" for k, (v, u) in e2e.items())
        + f", query_p75_s={p75_txt}, fail_ratio={record['fail_ratio']:.4f} ({failed}/{len(runs)})"
        + f"; load {record['loadavg_1m_at_start']}->{record['loadavg_1m_at_end']},"
        + f" foreign_spark_pids={record['foreign_spark_pids']}, cpus_effective={cpus_effective}"
        + f", cpu_steal_s={steal_s:.2f}"
        + f", warm_passes={len(warm_passes)}; record {os.path.relpath(out, ROOT)}"
    )
    for r in runs:
        if not r.ok:
            print(f"FAILED {r.label}: {r.error}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
