"""Compute the expected result hashes in ``expected.json``.

For every query of every workload, runs its DuckDB oracle SQL
(``__spark_entry__.oracle_sql()``) over the library's default dataset
and stores the row count and value hash, canonicalized exactly as
``tools/check_oracle.py`` does. Spark is not involved. Rerun only when
a workload's mix or the dataset changes:

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    import duckdb

    import __spark_entry__ as entry
    from pandrs_spark.catalog import default_sf_dir
    from run import WORKLOADS
    from tools.check_oracle import TABLES, canon, value_hash

    sf_dir = default_sf_dir()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = entry.oracle_sql()
    names = sorted({q for wl in WORKLOADS.values() for q in wl.queries})
    out = {}
    for name in names:
        df = canon(con.execute(oracles[name]).fetchdf())
        out[name] = {"rows": len(df), "hash": value_hash(df)}
        print(f"{name}: {len(df)} rows {out[name]['hash']}")
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump({"sf": os.path.basename(sf_dir.rstrip("/")), "queries": out}, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
