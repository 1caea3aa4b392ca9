"""Smoke tests for `tools/` entry points: run each on the small test fixture
so a stale call into the package fails here instead of in a long run."""

from __future__ import annotations

from tools.scale_stress import measure


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
