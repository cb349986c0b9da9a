"""The registry runner (tools/check_oracle.py): name resolution, the
per-run fences and the measured record of each run."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

from tools.check_oracle import resolve, run_once

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool(name: str, *args: str, timeout: int = 600) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", name), *args],
        capture_output=True, text=True, timeout=timeout, cwd=ROOT,
    )


def test_resolve_full_names_prefixes_and_repeats():
    reg = dict.fromkeys(["q01_pricing", "q02_min_cost", "q10_a", "q10_a_b"])
    assert resolve(["q01", "q02_min_cost", "q01"], reg) == ["q01_pricing", "q02_min_cost", "q01_pricing"]
    # an exact name wins over the names it prefixes
    assert resolve(["q10_a"], reg) == ["q10_a"]
    with pytest.raises(ValueError, match="'q03' is unknown"):
        resolve(["q01", "q03"], reg)
    reg["q01_other"] = None
    with pytest.raises(ValueError, match="'q01' is ambiguous"):
        resolve(["q01"], reg)


@pytest.mark.parametrize("tool", ["check_oracle.py", "plan_report.py"])
def test_unknown_query_name_exits_2_before_spark(tool, sf_dir):
    r = _tool(tool, sf_dir, "q01", "q01_no_such_query", timeout=120)
    assert r.returncode == 2, r.stdout + r.stderr
    assert "'q01_no_such_query' is unknown" in r.stderr
    assert "PASS" not in r.stdout


def test_session_conf_leak_fails_the_run(spark, sf_dir):
    key, new_key = "spark.sql.shuffle.partitions", "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.getAll

    def leaky(spark, sf_dir):
        spark.conf.set(key, "3")
        spark.conf.set(new_key, "true")
        return spark.range(3)

    pdf, row = run_once(spark, leaky, sf_dir)
    assert len(pdf) == 3
    assert row["err"].startswith("session-conf leak")
    assert f"{key}: {before[key]} -> 3" in row["err"]
    assert f"{new_key}: None -> true" in row["err"]
    # the fence puts the session back as it was
    assert spark.conf.getAll == before

    pdf, row = run_once(spark, lambda spark, sf_dir: spark.range(3), sf_dir)
    assert "err" not in row
    assert row["spark_sec"] >= row["build_s"] >= 0


def test_runner_records_each_run(tmp_path, sf_dir):
    out = tmp_path / "runs.json"
    r = _tool("check_oracle.py", sf_dir, "q01", "q01", "q69", "--json", str(out))
    assert r.returncode == 0, r.stdout[-3000:] + r.stderr[-3000:]
    log_dir = re.search(r"^event log: (\S+)$", r.stdout, re.M).group(1)
    assert not os.path.exists(log_dir)
    rec = json.loads(out.read_text())
    rows = rec["queries"]
    assert set(rows) == {"q01_pricing_summary", "q69_trade_bfs_hops"}
    for row in rows.values():
        assert row["pass"] is True
        for run in (row, *row.get("warm", [])):
            assert {"build_s", "collect_s", "spark_sec"} <= set(run)
            assert run["jobs"] >= 1
    assert rows["q69_trade_bfs_hops"]["build_jobs"] >= 1
    assert len(rows["q01_pricing_summary"]["warm"]) == 1
    assert rec["totals"]["jobs"] == sum(row["jobs"] for row in rows.values())
