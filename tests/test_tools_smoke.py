"""Smoke tests for `tools/` entry points and the `run.py` CLI: run each on the
small test fixture so a stale call into the package fails here instead of in
a long run."""

from __future__ import annotations

import os

import pytest

from tools.scale_stress import measure


@pytest.fixture
def session_confs(spark):
    """The entry points build their session with get_spark, which re-applies
    its runtime defaults to the shared test session; put back what changed."""
    saved = dict(spark.conf.getAll)
    yield
    for k, v in saved.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)


def test_scale_stress_measure_runs_on_the_test_fixture(spark, sf_dir):
    rows = measure(spark, sf_dir, 1)
    assert [r["family"] for r in rows] == [
        "q40_exact", "q42_lsh", "q202_prefix", "q218_snm", "q245_tfidf",
        "q49b_lsh_fixed_bits", "q49b_lsh_scaled_bits", "q103_semdedup",
        "q103_semdedup_scaled_cells",
    ]
    for r in rows:
        assert r["k"] == 1 and r["out_rows"] >= 0 and r["sec"] >= 0, r
        if "candidates" in r:  # every output pair is a verified candidate
            assert r["out_rows"] <= r["candidates"], r


def test_measure_prefix_sweeps_a_short_prefix(spark, sf_dir, session_confs,
                                              monkeypatch, capsys):
    """measure_prefix runs drive_driver's sweep over the registry's first
    queries; the sweep alone writes no PARITY.md."""
    from tools import drive_driver, measure_prefix

    parity = os.path.join(drive_driver.REPO, "PARITY.md")
    before = os.stat(parity).st_mtime_ns
    monkeypatch.setenv("SPARK_GRAFT_VERIFY_SF_DIR", sf_dir)
    assert measure_prefix.main(["--n", "3"]) == 0
    out = capsys.readouterr().out
    lines = [ln for ln in out.splitlines() if ln[:4] in ("OK  ", "FAIL", "ROWS")]
    assert len(lines) == 3 and not any(ln.startswith("FAIL") for ln in lines), out
    assert "PREFIX fails=0 total=" in out and "queries=3 " in out, out
    assert os.stat(parity).st_mtime_ns == before


def test_run_check_passes_a_query_with_an_oracle(sf_dir, session_confs, capsys):
    from hive_ddl_extract_tool_spark import run

    assert run.main(["q01_pricing_summary", sf_dir, "--check"]) == 0
    assert capsys.readouterr().out.startswith("OK: q01_pricing_summary")
