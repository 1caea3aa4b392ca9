"""Oracle-verified CORRECTNESS at 10x corpus for the dedup/similarity
families.

tools/x10_smoke.py proves every registered query *executes* at 10x and
tools/scale_stress.py proves the candidate tiers grow linearly -- but
neither compares values at scale. The inflation is deterministic (copy j
suffixes every word with ``x{j}``; embeddings rotate by j), so DuckDB can
compute the SAME answers on the SAME inflated parquet. This tool runs one
representative per family on both engines at K (default 10) and applies
the driver's exact pass rule (schema names + row count + type-strict value
hash, from hive_ddl_extract_tool_spark/verify.py), upgrading "executes at scale" to
"is correct at scale":

- q40 exact dedup            (the one-hash-shuffle floor)
- q42 MinHash+LSH near-dup   (band candidates -> exact-Jaccard verify)
- q202 prefix-filter join    (lossless exact Jaccard, MERGE-pinned dfreq)
- q218 sorted-neighborhood   (W-bounded blocking)
- q245 tf-idf sparse cosine  (df-pruned postings)
- q103 SemDeDup, SCALED-CELLS recipe (8K trained cells at K = the
  constant-occupancy production configuration scale_stress measures;
  the registered fixed-cell oracle only covers the fixture contract, so
  this is the first value-level check of the recipe that actually ships
  at 100 TB)
- q102 token-budget selection  (selection family representative)
- q68 dup-cluster connected components (graph family representative)
- q35 tf-idf top terms          (text-analysis family representative)
- q81 BM25 top-k                (retrieval family representative)
- q87 per-dimension moments     (vectors family representative)
- q156 BPE merge rounds         (tokenizer family representative)
- q109 overlapping byte-window chunks (multimodal family representative)
- q95 + q112 curation funnel / training manifest (curation family)
- q220 incremental-replay equivalence on a K-fold EVENTS corpus
  (streaming family: inflate_events gives disjoint per-copy users on the
  same timestamp timeline, so the exactly-once incremental contract --
  aggregates AND the independently-derived batch count -- is
  value-verified at scale, not just smoke-executed)
- q186 interval concurrency on the same K-fold EVENTS corpus (behavior
  family: the distributed sweep line's TWO-LEVEL prefix sum -- in-bucket
  window + carry-in over per-hour delta totals -- is exactly the claim
  that deserves a value check at volume; disjoint per-copy users on an
  identical timeline make every hour's concurrency scale K-fold)
- q01 pricing summary + q02 revenue-by-nation on K-fold TPC-H FACTS
  (relational aggregate + multi-way join families: inflate_tpch copies
  orders/lineitem with disjoint order keys against shared dimensions;
  layered on the events corpus, so this third corpus is ALL-inflated)
- q172 Z-order layout audit, q129 point-in-time SCD join, and q157
  dataset profile (layout / advanced / profiling families, on the
  all-inflated corpus -- q157 profiles K-fold orders+documents+events
  in one run)
- q174 equi-depth histogram on K-fold orders (physical/statistics
  family: the bounded-cell rank-exact construction -- value cells stay
  ~constant while per-cell counts scale K-fold, so the bucket
  boundaries must be IDENTICAL at every K and the depths exactly
  K-fold; a histogram that global-sorts or interpolates drifts here)
- q114 mapInArrow batch stats on the K-fold docs corpus + q138
  cogrouped-applyInPandas reconcile on the K-fold TPC-H facts (the
  Python-interchange families: every other family above stays
  JVM-side, so until round 11 the pandas/Arrow boundary was only
  executes-at-scale smoke -- these two value-hash the RecordBatch and
  cogrouped-pandas paths against DuckDB at volume, q114 row-for-row)
- q105 length-bucket batch planning on the K-fold docs corpus
  (selection/batch-planning family, round 12: power-of-two CASE
  bucketing, ceiling-division batch counts, and the decimal-widened
  waste_ppm ratio at volume -- the same family the Spark-only gate
  pins by exact law at K=100/300 in tools/kfold_invariants.py)
- q228 largest-remainder apportionment on the K-fold docs corpus
  (selection/apportionment family, round 13: Hamilton quotas,
  remainder ranking, and the source tiebreak over K-fold-scaled
  token masses -- the 28th family; the Spark-only gate additionally
  pins its full-row K-invariance as an exact law at K=100/300)
- q59 as-of join on the K-fold events corpus (temporal-join family,
  round 14: the union-tag + last(ignorenulls) merge_asof shape's
  per-user tie ordering value-verified at volume, gap_sec included --
  the 29th family; the Spark-only gate additionally pins its id-triple
  law at K=100/300)

Usage: python tools/x10_oracle.py [--sf-dir /root/testdata/sf0.1] [--k 10]
                                  [--out X10_ORACLE.json]
Prints one JSON line per family and exits nonzero on any mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from hive_ddl_extract_tool_spark.verify import collect, diff, hash_rows, register_views
from tools.scale_stress import VEC_STRIDE, inflate


def scaled_cent0_sql(k: int) -> str:
    """The scaled-cells init as a DuckDB relation: 8 seed vectors per
    inflated copy (vec_id j*VEC_STRIDE + 0..7), with ci = the seed's
    POSITION in the Spark init list (j*8 + i) so both engines number the
    cells identically."""
    return f"""(SELECT (vec_id // {VEC_STRIDE}) * 8 + vec_id % {VEC_STRIDE} AS ci,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
   FROM embeddings WHERE vec_id % {VEC_STRIDE} < 8)"""


def check(name, sdf, con, sql):
    t0 = time.monotonic()
    scols, srows = collect(sdf)
    t_spark = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    rel = con.sql(sql)
    ocols, orows = list(rel.columns), rel.fetchall()
    t_duck = round(time.monotonic() - t0, 2)
    return {
        "query": name, "match": diff(scols, srows, ocols, orows) is None,
        "rows_spark": len(srows), "rows_oracle": len(orows),
        "hash_spark": hash_rows(scols, srows), "hash_oracle": hash_rows(ocols, orows),
        "sec_spark": t_spark, "sec_duck": t_duck,
    }


def run_gate(spark, sf_dir: str, k: int, work_dir: str,
             keep_failed: bool = True) -> tuple[int, list[dict]]:
    """Inflate sf_dir by K under work_dir and run every family check on
    both engines. Returns (inflated doc count, result rows). Factored out
    of main() so tests/test_x10_oracle.py can drive the WHOLE gate at a
    fixture-cheap (sf0.001, K=2) configuration inside the suite (which
    passes keep_failed=False so fixtures never accumulate under tmp_path)."""
    dst = f"{work_dir}/x{k}"
    shutil.rmtree(dst, ignore_errors=True)
    inflate(spark, sf_dir, dst, k)
    n_docs = spark.read.parquet(f"{dst}/documents.parquet").count()

    con = duckdb.connect()
    results: list[dict] = []
    completed = False
    try:
        _family_checks(spark, con, dst, k, results)
        completed = True
        return n_docs, results
    finally:
        con.close()
        # The three corpora are layered (dst_events symlinks dst's doc
        # tables, dst_tpch symlinks dst_events'), so they can only be
        # retired together, after every family check: without this the
        # K=30 copies persist under work_dir as multi-GB residue -- the
        # same leak tools/kfold_invariants.py closed in round 11. But a
        # recorded cross-engine MISMATCH -- or a crash mid-gate, which
        # needs the evidence most -- is debuggable only against the corpus
        # that produced it, so a CLI run leaves it in place (symlink
        # layering intact) instead of retiring it. results is appended to
        # in place by _family_checks so partial rows survive an abort.
        if keep_failed and (not completed
                            or any(not r["match"] for r in results)):
            why = ("gate aborted mid-run" if not completed
                   else "mismatch recorded")
            print(f"KEPT {dst}* under {work_dir}: {why}, "
                  "corpora preserved for debugging", flush=True)
        else:
            for d in (dst, f"{dst}_events", f"{dst}_tpch"):
                shutil.rmtree(d, ignore_errors=True)


def _family_checks(spark, con, dst: str, k: int,
                   results: list[dict]) -> None:
    # In-place append to results is the single contract: run_gate's
    # finally block reads the same list to preserve partial rows on an
    # abort, so this function deliberately returns nothing.
    from hive_ddl_extract_tool_spark.operators import all_oracles, all_queries
    from hive_ddl_extract_tool_spark.operators import similarity
    from pyspark.sql import functions as F

    register_views(con, dst)

    qs, oracles = all_queries(), all_oracles()
    for name in ("q40_exact_dedup", "q42_minhash_lsh_dedup",
                 "q202_prefix_filter_join", "q218_sorted_neighborhood",
                 "q245_tfidf_simjoin"):
        row = check(name, qs[name](spark, dst), con, oracles[name])
        row["k"] = k
        print(json.dumps(row), flush=True)
        results.append(row)

    # q49b scaled-bits: the embedding-LSH production recipe (planes grow
    # with ⌈log₂K⌉ so 2^bits ∝ corpus pins bucket occupancy) through the
    # SAME operator body and probe-mask generator as the registered
    # fixed-bits query; the oracle is the same SQL builder at the scaled
    # plane count.
    from hive_ddl_extract_tool_spark.operators._cache import cached_df

    n_planes = similarity.N_PLANES + max(0, (k - 1).bit_length())
    bk = cached_df(spark, f"x10o_buckets{n_planes}:{dst}",
                   lambda: similarity._buckets(spark, dst, n_planes))
    sdf = similarity._q49b_verify(
        spark, dst, similarity._q49b_candidates(bk, n_planes))
    row = check("q49b_lsh_scaled_bits", sdf, con, similarity._oracle_q49b(n_planes))
    row.update({"k": k, "n_planes": n_planes})
    print(json.dumps(row), flush=True)
    results.append(row)

    # q103 scaled-cells: the production recipe (cells ∝ corpus, constant
    # occupancy) through the SAME operator body and the SAME unrolled-Lloyd
    # oracle builder as the registered fixed-cell query -- init is the 8
    # seed vectors per copy, exactly tools/scale_stress.py's configuration.
    n_cells = 8 * k
    init_ids = [j * VEC_STRIDE + i for j in range(k) for i in range(8)]
    emb = spark.read.parquet(f"{dst}/embeddings.parquet")
    init_rows = {r["vec_id"]: list(r["embedding"])
                 for r in emb.filter(F.col("vec_id").isin(init_ids))
                 .select("vec_id", "embedding").collect()}
    init = [init_rows[i] for i in init_ids]
    cent = similarity.train_centroids(spark, dst, n_cells=n_cells, init=init)
    ranked = similarity._ivf_ranked(
        spark, dst, cent, f"ivf_ranked_scaled{n_cells}:{dst}")
    sdf = similarity._semdedup_from_ranked(ranked)
    row = check("q103_semdedup_scaled_cells", sdf, con,
                similarity._oracle_q103(scaled_cent0_sql(k)))
    row.update({"k": k, "n_cells": n_cells})
    print(json.dumps(row), flush=True)
    results.append(row)

    # Selection (q102 token-budget select), graph (q68 dup-cluster
    # connected components), text (q35 tf-idf top terms -- corpus-wide df
    # against a K-fold vocabulary), retrieval (q81 BM25 top-k), and
    # vectors (q87 per-dimension moments over the rotated embeddings)
    # families: the registered query against the registered oracle on the
    # inflated documents/embeddings corpus -- value-level, not merely the
    # executes-at-10x smoke these families had before.
    for name in ("q102_token_budget_select", "q68_dup_clusters",
                 "q35_tfidf_topterms", "q81_bm25_topk",
                 "q87_embed_dim_stats",
                 # round-9 widening to the remaining doc-corpus families:
                 # tokenizer (BPE merge rounds), multimodal (overlapping
                 # byte-window chunker on the binary-ish hex encoding),
                 # curation (gate funnel + the composed training manifest)
                 "q156_bpe_merge_rounds", "q109_audio_chunks",
                 "q95_curation_report", "q112_training_manifest",
                 # round-11 widening: the pandas/Arrow interchange boundary
                 # at volume. q114 is mapInArrow with exact pyarrow kernels
                 # (per-doc integer token counts / byte lengths / md5-60
                 # fingerprints), so the zero-copy RecordBatch path itself
                 # is value-hash-compared against DuckDB row-for-row on the
                 # K-fold docs corpus -- previously every 10x/30x family
                 # stayed JVM-side and the Python boundary was only
                 # executes-at-scale smoke
                 "q114_arrow_batch_stats",
                 # round-12 widening: selection/batch-planning. q105's
                 # per-(source, bucket) padding manifest exercises the
                 # power-of-two CASE bucketing, ceiling-division batch
                 # counts, and the decimal-widened waste_ppm ratio at
                 # K-fold volume -- the same family the Spark-only K=100/
                 # 300 gate pins by exact law (kfold_invariants.py)
                 "q105_length_buckets",
                 # round-13 widening: selection/apportionment. q228's
                 # largest-remainder slot allocation exercises exact
                 # DECIMAL/HUGEINT quota arithmetic and the
                 # remainder-ranked tiebreak at K-fold token masses --
                 # the same family the Spark-only K=100/300 gate pins by
                 # a full-output invariance law
                 "q228_lr_apportionment"):
        row = check(name, qs[name](spark, dst), con, oracles[name])
        row["k"] = k
        print(json.dumps(row), flush=True)
        results.append(row)

    # Streaming family: q220's incremental-replay equivalence on a K-fold
    # EVENTS corpus. inflate() symlinks events (only docs/embeddings grow),
    # so stage a sibling corpus whose events are inflated with disjoint
    # user/event ids and the SAME timestamp timeline (K-fold batch sizes,
    # same staged-batch count); the oracle recomputes the aggregates AND
    # derives n_batches from the same inflated view, so the exactly-once
    # incremental contract is value-verified at scale.
    from tools.scale_stress import inflate_events

    dst_ev = f"{dst}_events"
    shutil.rmtree(dst_ev, ignore_errors=True)
    inflate_events(spark, dst, dst_ev, k)
    register_views(con, dst_ev)
    row = check("q220_incremental_equivalence",
                qs["q220_incremental_equivalence"](spark, dst_ev),
                con, oracles["q220_incremental_equivalence"])
    row["k"] = k
    print(json.dumps(row), flush=True)
    results.append(row)

    # Behavior family on the same K-fold events: q186's distributed sweep
    # line. The scale claim under test is the TWO-LEVEL prefix sum (running
    # sum windowed WITHIN each hour bucket + a carry-in prefix over the
    # one-row-per-hour delta table, never a global ordering); disjoint
    # per-copy users on the identical timeline mean every hour's boundary
    # count, peak, and end concurrency must scale exactly K-fold -- a
    # tie-ordering or carry-in defect that fixture volume hides becomes a
    # cross-engine value divergence here.
    row = check("q186_concurrent_sessions",
                qs["q186_concurrent_sessions"](spark, dst_ev),
                con, oracles["q186_concurrent_sessions"])
    row["k"] = k
    print(json.dumps(row), flush=True)
    results.append(row)

    # Temporal/as-of join family (round 14) on the same K-fold events:
    # q59's union-tag + last(ignorenulls) window as-of fill -- the
    # join-free merge_asof shape whose per-user (ts, event_id) tie
    # ordering is exactly what volume stresses. Disjoint per-copy users
    # replay the identical timeline, so every copy must reproduce the 1x
    # click->prior-view pairing (ids shifted, gap_sec verbatim); a
    # tie-break or window-frame defect that fixture volume hides becomes
    # a cross-engine value divergence here. Complements the Spark-only
    # q59 exact law at K=100/300 in tools/kfold_invariants.py with a
    # second engine's full-row values (gap_sec included) to K=30.
    row = check("q59_asof_join", qs["q59_asof_join"](spark, dst_ev),
                con, oracles["q59_asof_join"])
    row["k"] = k
    print(json.dumps(row), flush=True)
    results.append(row)

    # Relational aggregate + multi-way join families: K-fold TPC-H FACTS
    # (orders/lineitem copies with disjoint order keys, shared dimensions
    # so FK joins resolve for every copy). Sums/counts scale exactly
    # K-fold per group, ratios are K-invariant; an overflow or a
    # broadcast-threshold flip that only appears at volume becomes a
    # value divergence here instead of hiding behind fixture size.
    # Layered on dst_ev, so this third corpus has EVERY table K-fold --
    # which also hosts the layout (q172 Z-order on K-fold lineitem),
    # point-in-time join (q129 on K-fold orders), and dataset-profile
    # (q157 over K-fold orders+documents+events at once) families.
    from tools.scale_stress import inflate_tpch

    dst_tpch = f"{dst}_tpch"
    shutil.rmtree(dst_tpch, ignore_errors=True)
    inflate_tpch(spark, dst_ev, dst_tpch, k)
    register_views(con, dst_tpch)
    for name in ("q01_pricing_summary", "q02_revenue_by_nation",
                 "q172_zorder_layout", "q129_point_in_time_join",
                 "q157_dataset_profile",
                 # physical/statistics family: equi-depth histogram over
                 # K-fold orders -- bounded value cells, rank-exact bucket
                 # boundaries identical at every K, per-bucket depths
                 # exactly K-fold
                 "q174_equidepth_histogram",
                 # round-11 widening: cogrouped applyInPandas reconcile on
                 # K-fold orders+lineitem (disjoint order keys, so every
                 # header finds its detail inside one hash bucket). The
                 # vectorized in-bucket pandas merge emits integer-cent
                 # partials whose sums must match DuckDB exactly -- the
                 # second Python-interchange surface value-checked at scale
                 "q138_cogroup_reconcile"):
        row = check(name, qs[name](spark, dst_tpch), con, oracles[name])
        row["k"] = k
        print(json.dumps(row), flush=True)
        results.append(row)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--out", default=None)
    ap.add_argument("--work-dir", default="/tmp/x10_oracle")
    args = ap.parse_args()
    k = args.k

    from hive_ddl_extract_tool_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="x10-oracle", cpus=cpus,
                      shuffle_partitions=cpus,
                      extra_conf={"spark.driver.memory": "24g"})

    n_docs, results = run_gate(spark, args.sf_dir, k, args.work_dir)

    fails = sum(0 if r["match"] else 1 for r in results)
    summary = {"sf_dir": args.sf_dir, "k": k, "n_docs": n_docs,
               "cpus": cpus, "fails": fails, "results": results}
    print(json.dumps({"summary": {kk: vv for kk, vv in summary.items()
                                  if kk != "results"}}))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
