"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, canonicalizes both results (columns sorted
by name, rows sorted, doubles rounded to 1e-9), and reports
row-count / schema / value-hash agreement per query.

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


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
    only = set(args[1:])

    from pandrs_spark.session import get_spark

    import __spark_entry__ as E

    # PANDRS_ORACLE_SHUFFLE: override shuffle partitions for
    # determinism audits — a full sweep under an adversarial partition
    # count (e.g. 7) must hash-match the committed artifact, or some
    # query's float fold is partition-order dependent.
    shuf = int(os.environ.get("PANDRS_ORACLE_SHUFFLE", "0")) or None
    spark = get_spark("oracle-check", shuffle_partitions=shuf)
    qs, oracles = E.queries(), E.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    # Preflight the loader itself so one bad table reports as ONE failure
    # (the loader as a component), not as twenty query failures.
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

    from pandrs_spark.frame import release_persisted

    def cache_is_clean() -> bool:
        return bool(
            spark._jsparkSession.sharedState().cacheManager().isEmpty()
        )

    spark.catalog.clearCache()
    n_pass = n_fail = 0
    leaks: list[str] = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        leaked = False
        spark_sec = None
        try:
            sdf = fn(spark, sf_dir).toPandas()
            # Spark-side wall (compute + toPandas), recorded separately
            # from `sec` (which additionally pays the DuckDB oracle +
            # canonicalization) so sweep rankings aren't confounded by
            # oracle-side cost (VERDICT r11 item 3 — e.g. q143's DuckDB
            # twin is an all-pairs recursive CTE that dwarfs its Spark
            # wall).
            spark_sec = round(time.time() - t0, 2)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            results[name] = {"pass": False, "err": f"spark: {e}"[:200]}
            n_fail += 1
            continue
        finally:
            # drop frames pinned by global-position sorts so cached
            # partitions don't accumulate across the 189-query run —
            # and ASSERT the cache manager actually returns to empty:
            # an operator persisting outside _PERSISTED/unpersist
            # discipline would accumulate cache across a long-running
            # session (tests/test_persist_leaks.py pins the same
            # invariant per-operator)
            release_persisted()
            if not cache_is_clean():
                leaked = True
                leaks.append(name)
                spark.catalog.clearCache()
        if leaked:
            print(f"FAIL {name}: persisted-cache leak after release_persisted()")
            results[name] = {
                "pass": False,
                "err": "persisted-cache leak",
                "spark_sec": spark_sec,
            }
            n_fail += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            results[name] = {
                "pass": None,
                "rows_only": True,
                "rows": len(sdf),
                "spark_sec": spark_sec,
            }
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            results[name] = {
                "pass": False,
                "err": f"duckdb: {e}"[:200],
                "spark_sec": spark_sec,
            }
            n_fail += 1
            continue
        cs, co = canon(sdf), canon(odf)
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
        if problems:
            print(f"FAIL {name}: " + " | ".join(problems))
            results[name] = {
                "pass": False,
                "err": " | ".join(problems)[:200],
                "spark_sec": spark_sec,
            }
            n_fail += 1
        else:
            print(f"PASS {name} ({len(cs)} rows, {time.time()-t0:.1f}s)")
            results[name] = {
                "pass": True,
                "rows": len(cs),
                "sec": round(time.time() - t0, 2),
                "spark_sec": spark_sec,
            }
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {len(qs)} queries total")
    if leaks:
        print(f"persisted-cache leaks: {leaks}")
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
                    "queries": results,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_out}")
    return 1 if n_fail or broken_tables else 0


if __name__ == "__main__":
    raise SystemExit(main())
