"""Unit coverage for the 10x-corpus oracle gate (tools/x10_oracle.py).

The gate itself runs out-of-band (K=10 at sf0.1 -> X10_ORACLE.json); these
tests pin the pieces that keep it honest at fixture cost:

- the shared canon (hive_ddl_extract_tool_spark/verify.py) is
  TYPE-SENSITIVE, also inside list cells, so no compare can drift into
  type-folding;
- the scaled-cells DuckDB init relation degenerates to the registered
  fixture contract at k=1 (same ci numbering, same vectors), so the
  scaled oracle is anchored to the already-adjudicated q103 oracle.
"""
from __future__ import annotations

import datetime
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_ddl_extract_tool_spark.verify import canon, diff, hash_rows, register_views
from tests.conftest import SF_DIR
from tools.x10_oracle import scaled_cent0_sql


def test_canon_is_type_sensitive():
    assert canon(5) != canon(5.0)
    assert canon(True) != canon(1)
    assert canon(None) == "NULL"
    assert canon(float("nan")) == "float:NaN"
    # tz-aware and naive datetimes canonicalize to the same wall-clock
    ts = datetime.datetime(2026, 1, 2, 3, 4, 5)
    aware = ts.replace(tzinfo=datetime.timezone.utc)
    assert canon(ts) == canon(aware)
    # list cells canonicalize element by element, with the same rules
    assert canon([ts]) == canon([aware])
    assert canon([1]) != canon([1.0])
    assert canon((True, None)) == canon([True, None]) != canon([1, None])


def test_hash_rows_is_order_insensitive_but_value_strict():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y")]
    assert hash_rows(cols, rows) == hash_rows(cols, list(reversed(rows)))
    # column-name sort means (a=x, b=1) must hash like rows under ["a","b"]
    assert hash_rows(cols, rows) == hash_rows(["a", "b"], [("x", 1), ("y", 2)])
    assert hash_rows(cols, rows) != hash_rows(cols, [(1, "x"), (2, "z")])
    assert diff(cols, rows, ["a", "b"], [("x", 1), ("y", 2)]) is None
    assert "column mismatch" in diff(cols, rows, ["a", "c"], [("x", 1), ("y", 2)])
    assert "row count mismatch" in diff(cols, rows, cols, rows[:1])
    msg = diff(cols, rows, cols, [(1, "x"), (2.0, "y")])
    assert "value mismatch (1 rows differ)" in msg and "float:2.0" in msg


def test_inflate_all_doubles_every_table(spark, tmp_path):
    """inflate_all composes the three inflations (documents/embeddings,
    events, TPC-H facts) through symlinked layers: every inflated table
    must be exactly K-fold, every dimension must pass through unchanged,
    and the layered symlinks must resolve (a broken chain reads as a
    missing table, not a wrong count)."""
    from tools.scale_stress import inflate_all

    dst = str(tmp_path / "all")
    inflate_all(spark, SF_DIR, dst, 2)
    inflated = ("documents", "embeddings", "events", "orders", "lineitem")
    for t in inflated:
        n_src = spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
        n_dst = spark.read.parquet(f"{dst}/{t}.parquet").count()
        assert n_dst == 2 * n_src, (t, n_src, n_dst)
    for t in ("region", "nation", "customer", "supplier", "part"):
        n_src = spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
        n_dst = spark.read.parquet(f"{dst}/{t}.parquet").count()
        assert n_dst == n_src, (t, n_src, n_dst)
    # disjointness of the key shifts: no order key appears in two copies
    for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey"),
                   ("events", "event_id")):
        df = spark.read.parquet(f"{dst}/{t}.parquet")
        n_all = df.count()
        n_keys = df.select(key).distinct().count()
        n_src_keys = (
            spark.read.parquet(f"{SF_DIR}/{t}.parquet").select(key)
            .distinct().count()
        )
        assert n_keys == 2 * n_src_keys, (t, n_keys, n_src_keys)
        assert n_all >= n_keys


def test_gate_end_to_end_at_k2(spark, tmp_path):
    """The whole gate (inflate -> 26 family checks on both engines) at a
    fixture-cheap configuration (sf0.001, K=2): a regression in the
    inflation invariants, a family pipeline, or a parameterized oracle
    builder fails the suite, not just the out-of-band 10x run."""
    from tools.x10_oracle import run_gate

    n_src = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    n_docs, results = run_gate(spark, SF_DIR, 2, str(tmp_path),
                               keep_failed=False)
    assert n_docs == 2 * n_src
    # round-11 hygiene contract: the layered x{K}/x{K}_events/x{K}_tpch
    # corpora are retired together in run_gate's finally
    leftovers = [d for d in os.listdir(tmp_path) if d.startswith("x2")]
    assert not leftovers, f"gate leaked inflated corpora: {leftovers}"
    assert [r["query"] for r in results] == [
        "q40_exact_dedup", "q42_minhash_lsh_dedup", "q202_prefix_filter_join",
        "q218_sorted_neighborhood", "q245_tfidf_simjoin",
        "q49b_lsh_scaled_bits", "q103_semdedup_scaled_cells",
        "q102_token_budget_select", "q68_dup_clusters",
        "q35_tfidf_topterms", "q81_bm25_topk", "q87_embed_dim_stats",
        "q156_bpe_merge_rounds", "q109_audio_chunks",
        "q95_curation_report", "q112_training_manifest",
        "q114_arrow_batch_stats", "q105_length_buckets",
        "q228_lr_apportionment",
        "q220_incremental_equivalence", "q186_concurrent_sessions",
        "q59_asof_join",
        "q01_pricing_summary", "q02_revenue_by_nation",
        "q172_zorder_layout", "q129_point_in_time_join",
        "q157_dataset_profile", "q174_equidepth_histogram",
        "q138_cogroup_reconcile",
    ]
    mismatches = [r for r in results if not r["match"]]
    assert not mismatches, f"cross-engine mismatch at K=2: {mismatches}"
    # the disjoint-copy invariant, checked on the cheapest family: exact
    # dedup groups must EXACTLY double (copy 1's shingles/norms are
    # disjoint from copy 0's, so no cross-copy group merges)
    from hive_ddl_extract_tool_spark.operators.dedup import q40_exact_dedup

    n_groups_1x = q40_exact_dedup(spark, SF_DIR).count()
    by = {r["query"]: r for r in results}
    assert by["q40_exact_dedup"]["rows_spark"] == 2 * n_groups_1x


def test_scaled_cent0_degenerates_to_fixture_contract_at_k1():
    from hive_ddl_extract_tool_spark.operators.similarity import _CENT0_SQL

    con = duckdb.connect()
    register_views(con, SF_DIR)
    fixture = con.sql(
        f"SELECT ci, cv FROM {_CENT0_SQL} c ORDER BY ci"
    ).fetchall()
    scaled = con.sql(
        f"SELECT ci, cv FROM {scaled_cent0_sql(1)} c ORDER BY ci"
    ).fetchall()
    assert len(fixture) == 8
    assert [r[0] for r in fixture] == [r[0] for r in scaled] == list(range(8))
    assert fixture == scaled
