"""Local mirror of the driver's correctness gate, and the one tool that
runs and measures registry queries.

Runs ``queries()`` entries on Spark and their ``oracle_sql()`` twins on
DuckDB at the given sf dir, canonicalizes both results (columns sorted
by name, rows sorted, doubles rounded to 1e-9), and reports
row-count / schema / value-hash agreement per query.

Queries are named by full name or by their ``qNN`` prefix and run in
the order given, once per mention; with no names the whole registry
runs once. The first run of a query is the checked one. Each later
mention is a warm run: it is listed under the row's ``warm`` and its
result must hash-equal the first run's.

Every run records ``build_s`` (calling the query function),
``collect_s`` (``toPandas()``), ``spark_sec`` (their sum) and the Spark
work of its build, collect and release windows, read from the
session's event log by ``perfbench/eventlog.py`` (``eventlog.FIELDS``:
jobs, build_jobs, stages, tasks, stage_s, cpu_s, shuffle MB, ...). The
log is written to a temporary directory that is deleted on exit.

After each run the cache manager must be empty again (after
``release_persisted()``) and the session conf must equal what it was
before the run; either leak fails the query.

Usage: python tools/check_oracle.py [sf_dir] [--json OUT] [query ...]
       python tools/check_oracle.py SF_DIR q68 q68 q68 q68   # 1 cold + 3 warm
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.append(os.path.join(ROOT, "perfbench"))

import eventlog  # noqa: E402 — perfbench/eventlog.py

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
# The measured fields of a run, summed into the registry totals.
MEASURES = ("build_s", "collect_s", "spark_sec", *eventlog.FIELDS)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            # normalize lists/arrays to tuples for sorting
            s = s.map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        if s.dtype.kind == "f":
            s = s.round(9)
        if str(s.dtype).startswith("datetime64"):
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        out[c] = s
    df = pd.DataFrame(out)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last").reset_index(drop=True)
    return df


def value_hash(df: pd.DataFrame) -> str:
    return hashlib.md5(df.to_csv(index=False, float_format="%.9f").encode()).hexdigest()


def resolve(names: list[str], registry) -> list[str]:
    """Registry names for ``names``, one per mention and in order. Each
    is a full name or its ``qNN`` prefix; raises ``ValueError`` naming
    every unknown or ambiguous one."""
    out, bad = [], []
    for n in names:
        hits = [n] if n in registry else [k for k in registry if k.startswith(n + "_")]
        if len(hits) == 1:
            out.append(hits[0])
        else:
            bad.append(f"{n!r} is " + (f"ambiguous ({', '.join(hits)})" if hits else "unknown"))
    if bad:
        raise ValueError("; ".join(bad))
    return out


class SparkLog:
    """The session's event log, read one run at a time: each call hands
    the lines written since the last one to ``eventlog.parse`` with that
    run's windows."""

    def __init__(self, spark, log_dir: str):
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        (name,) = os.listdir(log_dir)
        self.path = os.path.join(log_dir, name)
        self.fh = open(self.path, encoding="utf-8")
        self.rest = ""

    def fields(self, windows: list[tuple[str, float, float]]) -> dict:
        # Events reach the log through an asynchronous listener bus;
        # once it is empty, every job and stage of the run is written.
        self.bus.waitUntilEmpty()
        lines = (self.rest + self.fh.read()).split("\n")
        self.rest = lines.pop()
        ws = [eventlog.Window("run", ph, a * 1e3, b * 1e3) for ph, a, b in windows]
        got = eventlog.parse(lines, ws).get("run") or dict.fromkeys(eventlog.FIELDS, 0)
        return {k: round(v, 3) for k, v in got.items()}

    def size_mb(self) -> float:
        return os.path.getsize(self.path) / 1e6

    def close(self) -> None:
        self.fh.close()


def _restore_conf(spark, before: dict, after: dict) -> list[str]:
    """Put the session conf back to ``before``; the changed keys, as
    ``key: before -> after``."""
    diff = []
    for k in sorted(before.keys() | after.keys()):
        if before.get(k) != after.get(k):
            diff.append(f"{k}: {before.get(k)} -> {after.get(k)}")
            if k in before:
                spark.conf.set(k, before[k])
            else:
                spark.conf.unset(k)
    return diff


def run_once(spark, fn, sf_dir: str, log: SparkLog | None = None):
    """Run one registry query and measure it: ``(result, row)``, where
    ``result`` is the collected pandas frame (None if Spark raised) and
    ``row`` holds the run's times, its event-log fields when ``log`` is
    given, and ``err`` if the query raised or leaked cache or session
    conf. Leaks are cleaned up before returning."""
    from pandrs_spark.frame import release_persisted

    problems = []
    pdf = None
    conf0 = spark.conf.getAll
    t0 = time.time()
    t1 = None
    try:
        df = fn(spark, sf_dir)
        t1 = time.time()
        pdf = df.toPandas()
    except Exception as e:  # noqa: BLE001 — a failing query is reported, not fatal
        problems.append(f"spark: {e}"[:200])
    finally:
        t2 = time.time()
        t1 = t1 or t2
        release_persisted()
        if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
            problems.append("persisted-cache leak")
            spark.catalog.clearCache()
        conf_diff = _restore_conf(spark, conf0, spark.conf.getAll)
        if conf_diff:
            problems.append("session-conf leak: " + "; ".join(conf_diff))
        t3 = time.time()
    row = {"build_s": round(t1 - t0, 3), "collect_s": round(t2 - t1, 3), "spark_sec": round(t2 - t0, 3)}
    if log is not None:
        row |= log.fields([("build", t0, t1), ("collect", t1, t2), ("release", t2, t3)])
    if problems:
        row["err"] = " | ".join(problems)
    return pdf, row


def _measure_txt(row: dict) -> str:
    return (
        f"build {row['build_s']:.2f}s collect {row['collect_s']:.2f}s, "
        f"{row['jobs']} jobs ({row['build_jobs']} in build)"
    )


def _oracle_problems(cs: pd.DataFrame, co: pd.DataFrame) -> list[str]:
    problems = []
    if len(cs) != len(co):
        problems.append(f"rows {len(cs)} vs {len(co)}")
    if list(cs.columns) != list(co.columns):
        problems.append(f"cols {list(cs.columns)} vs {list(co.columns)}")
    elif len(cs) == len(co) and value_hash(cs) != value_hash(co):
        diff_cols = []
        for c in cs.columns:
            a, b = cs[c], co[c]
            try:
                eq = (a.values == b.values) | (a.isna().values & b.isna().values)
            except Exception:  # noqa: BLE001
                eq = np.array([x == y or (pd.isna(x) and pd.isna(y)) for x, y in zip(a, b)])
            if not eq.all():
                i = int(np.argmin(eq))
                diff_cols.append(f"{c}[row{i}]: {a.iloc[i]!r} vs {b.iloc[i]!r}")
        problems.append("values: " + "; ".join(diff_cols[:4]))
    return problems


def _totals(rows: list[dict]) -> dict:
    return {k: round(sum(r[k] for r in rows), 3) for k in MEASURES}


def _warm_median(warm: list[dict]) -> dict:
    return {k: round(statistics.median(w[k] for w in warm), 3) for k in MEASURES}


def check(spark, sf_dir: str, qs: dict, order: list[str], log: SparkLog) -> dict[str, dict]:
    """Run ``order`` (registry names; a repeat is a warm run) and check
    each query's first run against its DuckDB oracle: one row per
    query."""
    import __spark_entry__ as E

    oracles = E.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    results: dict[str, dict] = {}
    first_hash: dict[str, str] = {}

    def fail(name: str, row: dict, msg: str) -> None:
        print(f"FAIL {name}: {msg}")
        row["pass"] = False
        row.setdefault("err", msg)

    for name in order:
        t0 = time.time()
        sdf, run = run_once(spark, qs[name], sf_dir, log)
        if name in results:
            row = results[name]
            row.setdefault("warm", []).append(run)
            i = len(row["warm"])
            print(f"WARM {name} #{i}: {_measure_txt(run)}")
            if "err" in run:
                fail(name, row, f"warm run {i}: {run['err']}")
            elif first_hash.get(name) and value_hash(canon(sdf)) != first_hash[name]:
                fail(name, row, f"warm run {i}: result hash differs from the first run's")
            continue
        row = results[name] = run
        if "err" in run:
            fail(name, row, run["err"])
            continue
        cs = canon(sdf)
        first_hash[name] = value_hash(cs)
        row["rows"] = len(cs)
        if name not in oracles:
            row["pass"], row["rows_only"] = None, True
            print(f"SKIP {name}: rows-only ({len(cs)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            fail(name, row, f"duckdb: {e}"[:200])
            continue
        problems = _oracle_problems(cs, canon(odf))
        if problems:
            fail(name, row, " | ".join(problems)[:200])
            continue
        row["pass"] = True
        row["sec"] = round(time.time() - t0, 2)
        print(f"PASS {name} ({len(cs)} rows, {row['sec']:.1f}s; {_measure_txt(run)})")
    return results


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print("usage: check_oracle.py [sf_dir] [--json OUT] [query ...]")
            return 2
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    import __spark_entry__ as E

    qs = E.queries()
    try:
        order = resolve(args[1:], qs) if args[1:] else list(qs)
    except ValueError as e:
        print(f"check_oracle: {e}", file=sys.stderr)
        return 2

    # A terminated run unwinds like an interrupted one, so the event
    # log is removed either way.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    log_dir = tempfile.mkdtemp(prefix="check_oracle-eventlog-")
    print(f"event log: {log_dir}")
    try:
        return _main(sf_dir, qs, order, json_out, log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


def _main(sf_dir: str, qs: dict, order: list[str], json_out: str | None, log_dir: str) -> int:
    from py4j.protocol import Py4JError

    from pandrs_spark.session import get_spark

    # PANDRS_ORACLE_SHUFFLE: override shuffle partitions for
    # determinism audits — a full sweep under an adversarial partition
    # count (e.g. 7) must hash-match the committed artifact, or some
    # query's float fold is partition-order dependent.
    shuf = int(os.environ.get("PANDRS_ORACLE_SHUFFLE", "0")) or None
    spark = get_spark(
        "oracle-check",
        shuffle_partitions=shuf,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    log = SparkLog(spark, log_dir)
    try:
        # Preflight the loader itself so one bad table reports as ONE
        # failure (the loader as a component), not as twenty query
        # failures.
        from pandrs_spark.catalog import load_table

        broken_tables: dict[str, str] = {}
        for t in TABLES:
            try:
                load_table(spark, sf_dir, t).schema
            except Exception as e:  # noqa: BLE001
                broken_tables[t] = str(e).splitlines()[0][:200]
        if broken_tables:
            for t, err in broken_tables.items():
                print(f"LOADER FAIL {t}: {err}")
            print(
                "component failure: table loader — fix pandrs_spark/catalog.py "
                "before reading per-query results"
            )
        spark.catalog.clearCache()
        results = check(spark, sf_dir, qs, order, log)
        log_mb = round(log.size_mb(), 1)
    finally:
        log.close()
        # A terminated run's JVM may already be gone
        with contextlib.suppress(Py4JError):
            spark.stop()

    rows = list(results.values())
    n_pass = sum(r.get("pass") is True for r in rows)
    n_fail = sum(r.get("pass") is False for r in rows)
    totals = _totals(rows)
    warm = {n: _warm_median(r["warm"]) for n, r in results.items() if "warm" in r}
    print(f"\n{n_pass} pass, {n_fail} fail, {len(qs)} queries total")
    print("totals (first runs): " + ", ".join(f"{k} {v}" for k, v in totals.items()))
    for n, m in warm.items():
        spark_secs = [w["spark_sec"] for w in results[n]["warm"]]
        print(f"warm median {n} ({len(spark_secs)} runs): spark_sec {m['spark_sec']:.2f} "
              f"{sorted(spark_secs)}, {_measure_txt(m)}")
    print(f"event log: {log_mb} MB")
    for kind in ("persisted-cache leak", "session-conf leak"):
        leaked = sorted({n for n, r in results.items() if kind in r.get("err", "")})
        if leaked:
            print(f"{kind}s: {leaked}")
    if broken_tables:
        print(f"loader broken for: {sorted(broken_tables)}")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_pass": n_pass,
                    "n_fail": n_fail,
                    "n_registered": len(qs),
                    "eventlog_mb": log_mb,
                    "totals": totals,
                    "warm_median_totals": _totals(list(warm.values())) if warm else {},
                    "queries": results,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_out}")
    return 1 if n_fail or broken_tables else 0


if __name__ == "__main__":
    raise SystemExit(main())
