"""Scale rehearsal: time a representative query set at sf0.1 and at the
10x replica (scripts/make_scale_replica.py), print per-query scaling
factors vs the 10x data ratio, and emit one JSON line for artifacts.

Usage: python scripts/bench_scaling.py [small_dir] [big_dir] [factor]

Methodology mirrors bench.py: one untimed warm pass over the set at the
SMALL scale (JVM JIT, Python workers), then a timed pass per scale. The
session-shared shingle memo is cleared before EACH timed pass so both
scales pay the one-time cache materialization symmetrically (the warm
pass would otherwise pre-populate it for the small pass only, inflating
the first dedup-family ratio). A query is healthy when
time_big / time_small <= factor * slack (linear or better — fixed
per-query overheads amortize); the exact all-pairs baselines are
expected to approach factor^2 and are labeled as such.

``run_rehearsal`` is importable — tests/test_scaling.py asserts the
same linear bounds in CI whenever the replica dir exists.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

# (name, expected) — expected "linear" means ratio should track the
# data factor; "overlap" marks dedup/ANN queries whose output scales
# with true pair/candidate volume (still ~linear under the replica's
# disjoint-copy construction); "quadratic" marks the documented exact
# all-pairs baselines whose LSH/IVF twins are the production path.
# queries whose plan builds a VersionedTable fixture on first call
# (kept per session under plans.common.fixture_root): big-side fixtures are
# pre-built UNTIMED (r11 #9) and bench_all splits build from measure
# (r12 bookkeeping #2). New fixture queries MUST extend this tuple or
# their rehearsal ratio is cold-build-vs-warm-small skewed.
FIXTURE_BACKED_PREFIXES = (
    "etl_cdf", "etl_merge", "etl_mor", "etl_scd2_from",
    "etl_table_changes", "etl_schema", "etl_rename",
    "etl_read_pruned", "etl_optimize", "etl_drop",
    "etl_constraints", "etl_clone", "etl_partition",
    "etl_point_lookup", "etl_sql_update", "etl_snapshot_drift",
    "etl_generated", "etl_incremental_rollup",
    "etl_format_read", "etl_sql_dml",
    "etl_sql_ddl", "etl_sql_catalog", "etl_sql_table_changes",
    "etl_sql_merge_set", "etl_sql_copy_into", "etl_identity_ids",
    "etl_sql_copy_evolve", "etl_identity_by_default", "etl_sql_txn",
)

QUERIES_UNDER_TEST = [
    ("q01_pricing_summary", "linear"),
    ("q03_shipping_priority", "linear"),
    ("q09_product_profit", "linear"),
    ("q18_large_orders", "linear"),
    ("q21_high_value_open_orders", "linear"),
    ("q23_market_basket", "linear"),
    ("etl_sessionize", "linear"),
    ("etl_asof_join", "linear"),
    ("etl_grouping_sets", "linear"),
    ("etl_decile_report", "linear"),
    ("events_rfm_segments", "linear"),
    ("events_hypertable_rollup", "linear"),
    ("win_moving_avg", "linear"),
    ("etl_stratified_sample", "linear"),
    ("etl_sequence_pack", "linear"),
    ("text_quality_score", "linear"),
    ("text_dsir_importance", "linear"),
    ("text_ngram_topk", "linear"),
    ("dedup_exact", "linear"),
    ("text_segment_dedup", "linear"),
    # round-8: span removal is window-hash bounded ("overlap": output
    # scales with true duplicated-window volume, ~linear under the
    # replica's disjoint-copy construction); encoding repair is a pure
    # Arrow map
    ("text_exact_substr_dedup", "overlap", "checksum"),
    ("text_encoding_repair", "linear", "checksum"),
    ("etl_bloom_semi_join", "linear"),
    ("graph_pagerank", "linear"),
    # round-8 late additions: maintained rollup (refresh work runs
    # eagerly at construction, inside the timer), audio/video feature
    # extraction (fixed fanout per doc), dense-series statistics
    # (corpus collapses to |types|x|days| in the first groupBy), BM25
    # (scan-stage features + one broadcast stats row). checksum keeps
    # Catalyst from pruning the scored/aggregated payload under count.
    ("etl_incremental_rollup", "linear", "checksum"),
    ("mm_audio_vad_segments", "linear", "checksum"),
    ("mm_video_shot_detect", "linear", "checksum"),
    ("events_autocorr", "linear", "checksum"),
    ("events_changepoint", "linear", "checksum"),
    ("text_bm25_score", "linear", "checksum"),
    ("sim_topk_sq8", "linear", "checksum"),
    ("emb_random_projection", "linear"),
    # round-9: change-feed family (the 3-commit demo table builds
    # eagerly inside the timer — linear in corpus), audio fingerprint
    # (fixed WHT fanout per doc), EXIF probe (O(header) per payload),
    # CJK token counting (pure codegen projection), unigram tokenizer
    # (capped-type EM + distinct-type Arrow stage). checksum where
    # count() would prune the payload.
    ("etl_cdf_changes", "linear", "checksum"),
    ("etl_cdf_replay", "linear", "checksum"),
    ("etl_scd2_from_cdf", "linear", "checksum"),
    ("mm_audio_fingerprint", "linear", "checksum"),
    # banded pairs: output scales with true near-dup volume plus the
    # lossy-feature collision tail — the LSH "overlap" class
    ("mm_audio_fingerprint_pairs", "overlap", "checksum"),
    ("mm_exif_probe", "linear", "checksum"),
    ("text_token_count_cjk", "linear", "checksum"),
    ("text_unigram_lm_tokens", "linear", "checksum"),
    # round-10: conditional MERGE clauses (the 2-commit demo table
    # builds eagerly inside the timer — dir-pruned CoW, linear in the
    # touched base), trained langid (trigram count shuffle + broadcast
    # weight join, linear in chars)
    ("etl_merge_clauses", "linear", "checksum"),
    ("etl_merge_clauses_feed", "linear", "checksum"),
    ("text_langid_trained", "linear", "checksum"),
    # round-10 part 2: MOR delete (tombstone anti-join read), the
    # registered table_changes batch face, widened-schema cast reads —
    # each builds its table eagerly inside the timer
    ("etl_mor_delete", "linear", "checksum"),
    ("etl_table_changes_batch", "linear", "checksum"),
    ("etl_schema_widening", "linear", "checksum"),
    # round-11: schema-evolving MERGE + its typed feed, keyed-tombstone
    # MOR delete, rename-conform read (per-dir alias, zero shuffle),
    # bloom-pruned merge (bloom build is one job over the new dir;
    # probe is a capped driver bit test), per-file-stats range read,
    # and the optimize() planner run (materialize+bin-pack inside the
    # timer) — each builds its table eagerly inside the timer
    ("etl_merge_evolve", "linear", "checksum"),
    ("etl_merge_evolve_feed", "linear", "checksum"),
    ("etl_mor_delete_keyed", "linear", "checksum"),
    ("etl_rename_evolution", "linear", "checksum"),
    ("etl_merge_bloom_pruned", "linear", "checksum"),
    ("etl_read_pruned_files", "linear", "checksum"),
    ("etl_optimize_table", "linear", "checksum"),
    ("etl_drop_evolution", "linear", "checksum"),
    # round-11 part 2: constraint-gated writes (enforcement = one
    # extra codegen scan of each written batch, fixture builds inside
    # the timer), planner-driven Z-order rewrite (one range shuffle +
    # per-file footer sweep), zero-copy clone + diverging append,
    # metadata-only partition evolution (mixed-layout conform read),
    # theta-sketch audience algebra (one distinct shuffle + K-row
    # sketches; estimate joins touch K x |types| rows)
    ("etl_constraints", "linear", "checksum"),
    ("etl_optimize_zorder", "linear", "checksum"),
    ("etl_clone_divergence", "linear", "checksum"),
    ("etl_partition_evolution", "linear", "checksum"),
    ("events_audience_theta", "linear", "checksum"),
    ("etl_generated_columns", "linear", "checksum"),
    # round-12: registered-format snapshot read (one InputPartition
    # per file, executor Arrow conform — linear in files/rows), its
    # time-travel face, the SQL DML router (statement rewrite is O(1);
    # the routed merge/delete/scans are the linear work), and string
    # cluster keys (boundary sample is a capped top-K; rewrite is the
    # same single range shuffle) — fixtures build inside the timer
    ("etl_format_read", "linear", "checksum"),
    ("etl_format_read_asof", "linear", "checksum"),
    ("etl_sql_dml", "linear", "checksum"),
    ("etl_sql_update", "linear", "checksum"),
    ("etl_optimize_zorder_str", "linear", "checksum"),
    ("etl_point_lookup", "linear", "checksum"),
    ("etl_snapshot_drift", "linear", "checksum"),
    # round-13: SQL DDL (metadata-only ALTERs + one dir-pruned
    # UPDATE), the named-catalog round trip (CTAS + INSERT + SELECT
    # by name), and the TABLE_CHANGES SQL face (reads only the two
    # commits' change files) — all linear in rows by construction
    ("etl_sql_ddl", "linear", "checksum"),
    ("etl_sql_catalog", "linear", "checksum"),
    ("etl_sql_table_changes", "linear", "checksum"),
    # round-13 part 2: column-subset MERGE (same one full-outer join
    # over touched dirs as the full-row clause path) and COPY INTO
    # (file listing is metadata; the load scans only new files)
    ("etl_sql_merge_set", "linear", "checksum"),
    ("etl_sql_copy_into", "linear", "checksum"),
    # identity assignment: one O(#partitions) agg + broadcast join
    ("etl_identity_ids", "linear", "checksum"),
    # round-14: PATTERN-filtered evolving COPY (driver-side fnmatch
    # over the listing + the same new-files-only scan), BY DEFAULT
    # identity (one batch agg + a column-pruned below-water probe),
    # and the two-table transaction script (each statement's data is
    # written once; the commit point is metadata-only)
    ("etl_sql_copy_evolve", "linear", "checksum"),
    ("etl_identity_by_default", "linear", "checksum"),
    ("etl_sql_txn", "linear", "checksum"),
    ("dedup_ngram_jaccard", "overlap"),
    ("dedup_containment", "overlap"),
    ("dedup_containment_capped", "overlap"),
    ("dedup_minhash_lsh", "overlap"),
    ("dedup_simhash", "overlap"),
    ("dedup_groups", "overlap"),
    ("dedup_embedding_lsh", "overlap"),
    ("sim_topk_lsh", "overlap"),
    ("sim_topk_ivf", "overlap"),
    ("sim_topk_bruteforce", "quadratic"),
    ("dedup_embedding_cosine", "quadratic"),
]


def _force(df, action: str) -> None:
    """Materialize a query for timing. ``count`` is the historical
    action; ``checksum`` aggregates a hash over EVERY output column —
    required for queries whose expensive payload (e.g. a rewritten
    text column) would otherwise be PRUNED by Catalyst under count()
    (count only needs row multiplicity, so a projection-only payload
    costs nothing — the exact-substring probe measured 1.8s counted
    vs 37s computed at 100x)."""
    if action == "checksum":
        from pyspark.sql import functions as F

        # bit_xor, not sum: xxhash64 sums overflow long under ANSI
        df.select(
            F.xxhash64(*[F.col(c).cast("string") for c in df.columns]).alias(
                "__h"
            )
        ).agg(F.expr("bit_xor(__h)")).collect()
    else:
        df.count()


def timed_pass(spark, QUERIES, sf_dir, queries, verbose=True):
    times = {}
    for q in queries:
        name, action = q[0], (q[2] if len(q) > 2 else "count")
        t0 = time.perf_counter()
        _force(QUERIES[name](spark, sf_dir), action)
        times[name] = round(time.perf_counter() - t0, 3)
        if verbose:
            print(f"#   {name}: {times[name]:.2f}s", file=sys.stderr)
    return times


def run_rehearsal(
    spark,
    small: str,
    big: str,
    factor: float = 10.0,
    queries=None,
    slack: float = 1.5,
    verbose: bool = True,
):
    """Warm at small scale, time both scales, return per-query rows
    with ratio and an ``ok`` linear-bound verdict."""
    from python_etl_spark.operators import dedup
    from python_etl_spark.plans import QUERIES

    queries = queries if queries is not None else QUERIES_UNDER_TEST
    if verbose:
        print("# warm pass (small)", file=sys.stderr)
    for q in queries:
        _force(QUERIES[q[0]](spark, small), q[2] if len(q) > 2 else "count")
    # split build/measure for FIXTURE-BACKED queries (r11 verdict #9):
    # their VersionedTable fixtures are re-entrant and session-cached,
    # so the small warm pass above leaves the small side WARM while
    # the big side would build its multi-phase fixture COLD inside
    # the timer — a fixture-construction skew, not a complexity
    # signal (etl_constraints sat at 14.4x of its 15x bound purely on
    # this). Pre-build the big fixtures too; the timed passes then
    # compare steady-state read/DML work at both scales.
    fixture_backed = [
        q for q in queries if q[0].startswith(FIXTURE_BACKED_PREFIXES)
    ]
    if verbose and fixture_backed:
        print(
            f"# building {len(fixture_backed)} big fixtures (untimed)",
            file=sys.stderr,
        )
    for q in fixture_backed:
        _force(QUERIES[q[0]](spark, big), q[2] if len(q) > 2 else "count")
    if verbose:
        print("# timed pass (small)", file=sys.stderr)
    dedup.clear_shared_shingle_cache()
    t_small = timed_pass(spark, QUERIES, small, queries, verbose)
    if verbose:
        print("# timed pass (big)", file=sys.stderr)
    dedup.clear_shared_shingle_cache()
    t_big = timed_pass(spark, QUERIES, big, queries, verbose)

    rows = []
    actions = {q[0]: (q[2] if len(q) > 2 else "count") for q in queries}
    for q in queries:
        name, expected = q[0], q[1]
        # 0.1s floor on the denominator: sub-100ms small-scale timings
        # are scheduler-noise-dominated and would turn a healthy 1s big
        # run into a spurious 20x "ratio".
        ratio = round(t_big[name] / max(t_small[name], 0.1), 2)
        rows.append(
            {
                "query": name,
                "small_s": t_small[name],
                "big_s": t_big[name],
                "ratio": ratio,
                "expected": expected,
                "ok": (
                    ratio <= factor * slack
                    if expected != "quadratic"
                    else ratio <= factor * factor * slack
                ),
            }
        )
    # de-flake: a single GC/scheduler hiccup during one timed pass can
    # push one query past its band (observed when the rehearsal runs
    # after ~10 min of other suites in the same JVM). A genuine
    # complexity blowup reproduces on a retimed pair; a hiccup does
    # not — so re-time ONLY the breaching queries once and keep the
    # better ratio.
    for row in rows:
        if row["ok"]:
            continue
        name = row["query"]
        if verbose:
            print(f"# retiming {name} (ratio {row['ratio']})", file=sys.stderr)
        import time as _time

        t0 = _time.perf_counter()
        _force(QUERIES[name](spark, small), actions[name])
        rs = _time.perf_counter() - t0
        t0 = _time.perf_counter()
        _force(QUERIES[name](spark, big), actions[name])
        rb = _time.perf_counter() - t0
        retry_ratio = round(rb / max(rs, 0.1), 2)
        # keep BOTH timings: the report must show that the first pass
        # breached and was retimed (a one-sided keep-the-better would
        # bias ratios downward invisibly)
        row.update(
            {
                "first_small_s": row["small_s"],
                "first_big_s": row["big_s"],
                "first_ratio": row["ratio"],
                "retimed": True,
            }
        )
        if retry_ratio < row["ratio"]:
            row.update(
                {
                    "small_s": round(rs, 3),
                    "big_s": round(rb, 3),
                    "ratio": retry_ratio,
                }
            )
            row["ok"] = (
                retry_ratio <= factor * slack
                if row["expected"] != "quadratic"
                else retry_ratio <= factor * factor * slack
            )
    return rows


def main():
    small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    big = sys.argv[2] if len(sys.argv) > 2 else ".scratch/sf1x"
    factor = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0
    from python_etl_spark.session import get_spark

    spark = get_spark("bench-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    rows = run_rehearsal(spark, small, big, factor)
    print(
        json.dumps(
            {
                "metric": "scaling_rehearsal",
                "factor": factor,
                "small": small,
                "big": big,
                "rows": rows,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
