"""CLI entry point (python -m finanalyzer_spark) — the reference's
runnable surface (findatabase.py:246-248) mapped onto the Spark jobs.
main() is called in-process with argv to keep the suite fast; one
subprocess smoke proves the module wiring.
"""

from __future__ import annotations

import os
import subprocess
import sys

from finanalyzer_spark.__main__ import main

from .conftest import SF_DIR_ORACLE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_queries_lists_registry(capsys):
    assert main(["queries"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert "pricing_summary" in out and len(out) >= 150


def test_cli_init_update_roundtrip(spark, tmp_path, capsys):
    csv = tmp_path / "tickers.csv"
    csv.write_text("Ticker,Name,Exchange\nAAPL,Apple,NASDAQ\nMSFT,Microsoft,NASDAQ\n")
    wh = str(tmp_path / "wh")
    assert main(["init", "--warehouse", wh, "--tickers", str(csv)], spark=spark) == 0
    assert "registry: 2 tickers" in capsys.readouterr().out
    assert (
        main(["update", "--warehouse", wh, "--today", "2026-08-10"], spark=spark) == 0
    )
    out = capsys.readouterr().out
    assert "history: " in out and "fundamentals: 2" in out


def test_cli_sql_and_query(spark, capsys):
    assert main(
        ["sql", "--sf-dir", SF_DIR_ORACLE,
         "SELECT count(*) AS n FROM lineitem"], spark=spark
    ) == 0
    out = capsys.readouterr().out
    assert "|n" in out.replace(" ", "")  # show() table header
    assert any(ch.isdigit() for ch in out)  # and the count row
    assert main(["query", "--sf-dir", SF_DIR_ORACLE, "value_counts"], spark=spark) == 0
    assert main(["query", "--sf-dir", SF_DIR_ORACLE, "nope"], spark=spark) == 2


def test_cli_module_wiring_subprocess():
    res = subprocess.run(
        [sys.executable, "-m", "finanalyzer_spark", "queries"],
        capture_output=True, text=True, timeout=120, cwd="/root/repo",
    )
    assert res.returncode == 0 and "pricing_summary" in res.stdout


def test_cli_explain_prints_physical_plan(spark, capsys):
    from finanalyzer_spark.__main__ import main

    assert (
        main(
            ["explain", "--sf-dir", "/root/testdata/sf0.001",
             "select_project_filter"],
            spark=spark,
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "PushedFilters" in out

    assert (
        main(
            ["explain", "--sf-dir", "/root/testdata/sf0.001", "nope"],
            spark=spark,
        )
        == 2
    )


def test_cli_shards_builds_layout(spark, tmp_path, capsys):
    import glob

    from finanalyzer_spark.__main__ import main

    out = str(tmp_path / "shards")
    assert (
        main(
            ["shards", "--sf-dir", "/root/testdata/sf0.001", "--out", out,
             "--tokens-per-shard", "400"],
            spark=spark,
        )
        == 0
    )
    assert glob.glob(f"{out}/split=*/shard_id=*/*.parquet")
    assert "train" in capsys.readouterr().out


def test_cli_lint_subset(spark, capsys):
    """Lint a known-clean query (no findings) and a deliberate-BNLJ
    query (exactly the whitelisted WARN)."""
    from finanalyzer_spark.__main__ import main

    from .conftest import SF_DIR_ORACLE

    rc = main(
        ["lint", "--sf-dir", SF_DIR_ORACLE, "pricing_summary",
         "revenue_decile_profile"],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "ERROR" not in out
    assert "revenue_decile_profile: [nested-loop-join]" in out


def test_cli_lint_strict_flags_cartesian(spark, capsys):
    from finanalyzer_spark.plans.lint import lint_plan

    a = spark.range(3)
    b = spark.range(4).withColumnRenamed("id", "id2")
    findings = lint_plan("crossed", a.crossJoin(b))
    assert any(
        f.rule in ("cartesian-product", "nested-loop-join") for f in findings
    )


def test_bench_diff_jitter_suppression(tmp_path):
    """bench_diff must suppress a slowdown flag when the new run's own
    rep spread exceeds the flag factor (host jitter), and keep flagging
    tight-spread (plan-shaped) slowdowns. The r10 form of the guard
    was unreachable (compared t_old to reps[0] == t_new) — this pins
    the fixed semantics (r11, ADVICE)."""
    import json as _json

    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(_json.dumps({"queries": {
        "jittery": 1.0, "regressed": 1.0, "steady": 1.0,
    }}))
    new.write_text(_json.dumps({
        "queries": {"jittery": 3.0, "regressed": 3.0, "steady": 1.05},
        # jittery: reps disagree by >2x -> suppressed as host noise
        # regressed: tight reps -> a real plan-shaped slowdown, flagged
        "rep_spread": {"jittery": [3.0, 9.0], "regressed": [3.0, 3.2]},
    }))
    res = subprocess.run(
        [sys.executable, "scripts/bench_diff.py", str(old), str(new)],
        capture_output=True, text=True, timeout=60, cwd="/root/repo",
    )
    assert res.returncode == 1  # regressed still gates
    assert "NOTE jittery" in res.stdout and "not flagged" in res.stdout
    assert "FLAG regressed" in res.stdout
    assert "FLAG jittery" not in res.stdout
    assert "steady" not in res.stdout
    assert "1 flagged" in res.stdout


def test_perf_pairs_verdict_and_drift_flags():
    """scripts/perf_pairs.py: a gain needs >= 9/10 pair wins AND a median
    gap wider than the parent's IQR; a pair whose two runs both sit far
    past their side's median, the same way, is flagged as host drift."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "perf_pairs", os.path.join(REPO, "scripts", "perf_pairs.py")
    )
    pp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pp)

    parent = [2.0, 2.1, 2.2, 1.9, 2.05, 2.15, 1.95, 2.0, 2.1, 2.2]
    faster = [p - 0.4 for p in parent]
    assert pp.verdict(list(zip(parent, faster)), higher=False) == "gain"
    assert pp.verdict(list(zip(parent, faster)), higher=True) == "loss"
    # 10/10 wins, but the gap (0.05) is inside the parent's IQR
    assert pp.verdict([(p, p - 0.05) for p in parent], higher=False) == "unresolved"
    # a wide gap, but only 8/10 wins
    mixed = faster[:8] + [p + 0.1 for p in parent[8:]]
    assert pp.verdict(list(zip(parent, mixed)), higher=False) == "unresolved"

    # pair 4: the host slowed both runs; pair 7: only the change's run
    slow = list(zip(parent, faster))
    slow[3] = (5.0, 4.6)
    slow[6] = (slow[6][0], 4.6)
    assert pp.drifted(slow) == [3]
