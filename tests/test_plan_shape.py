"""Physical-plan assertions — the 100 TB posture, checked in CI:
filters reach the parquet scan, projections prune columns, dimension
joins broadcast instead of shuffling."""

from __future__ import annotations

import contextlib

from python_etl_spark.plans import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    return (
        QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


@contextlib.contextmanager
def _broadcast_threshold(spark, value: str):
    """Plan under autoBroadcastJoinThreshold=``value``; ``1b`` makes
    every input "large", as it is at 100 TB."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, saved)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "etl_filter_pushdown")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThan(l_quantity" in plan


def test_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "etl_filter_pushdown")
    # 3-column projection must not read the other 8 lineitem columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[-1]


def test_dim_joins_broadcast(spark, sf_dir):
    for name in ["q03_shipping_priority", "q05_local_supplier_volume",
                 "q10_returned_items"]:
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name


def test_q01_whole_stage_codegen(spark, sf_dir):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES["q01_pricing_summary"](spark, sf_dir).explain("codegen")
    assert "WholeStageCodegen" in buf.getvalue()


def test_global_rank_no_single_partition_window(spark, sf_dir):
    """win_ntile / win_percent_rank / etl_stratified_sample must not
    funnel all rows through a single-partition global-order window (the
    100 TB scale-killer) once the input no longer fits the broadcast
    threshold."""
    with _broadcast_threshold(spark, "1b"):
        for name in ["win_ntile", "win_percent_rank", "etl_stratified_sample",
                     "etl_surrogate_key", "etl_sequence_pack"]:
            plan = _plan(spark, sf_dir, name)
            assert "Exchange SinglePartition" not in plan, (name, plan)


def test_win_ntile_constructs_without_jobs(spark, sf_dir):
    """An input under the broadcast threshold ranks in one window:
    building win_ntile runs no Spark job (the range path ran 5), and
    its plan has no range exchange."""
    import uuid

    sc = spark.sparkContext
    group = f"construct-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        df = QUERIES["win_ntile"](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan, plan


def test_broadcast_stat_joins(spark, sf_dir):
    """The new normalize/anomaly/contamination queries must broadcast
    their small side (stats / benchmark set / centroids), leaving the
    big side unshuffled at the join."""
    for name in ["etl_zscore_normalize", "events_anomaly_zscore",
                 "dedup_contamination", "sim_cluster_centroids"]:
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)


def test_chunked_exact_ops_never_broadcast_corpus(spark, sf_dir):
    """The distributed exact embedding ops must not pull packed chunks
    through the driver as a broadcast relation — the chunk cartesian has
    to stay executor-side (shuffle-replicate)."""
    for name in ["sim_knn_join_exact", "dedup_embedding_cosine"]:
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_no_cartesian_products(spark, sf_dir):
    """Scalar-subquery joins must broadcast, not nested-loop over rows."""
    for name in ["q11_supplier_balance_share", "q22_inactive_customers",
                 "q15_top_supplier"]:
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_ngram_topk_distributed_topk(spark, sf_dir):
    """Corpus top-k must be TakeOrderedAndProject (per-partition heaps)
    — a global-order window over the full gram-count frame would
    single-partition billions of distinct trigrams at 100 TB."""
    plan = _plan(spark, sf_dir, "text_ngram_topk")
    assert "TakeOrderedAndProject" in plan


def test_dsir_ratio_table_broadcasts(spark, sf_dir):
    """The 64-row DSIR ratio table must broadcast onto the per-doc
    bigram stream — a sort-merge join there would shuffle the whole
    exploded corpus on the bucket id."""
    plan = _plan(spark, sf_dir, "text_dsir_importance")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_cluster_no_cartesian(spark, sf_dir):
    """SemDeDup candidates come from a cluster equijoin; the quadratic
    work must stay inside clusters, never a corpus cross join."""
    plan = _plan(spark, sf_dir, "dedup_semantic_cluster")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_grouping_sets_single_shuffle(spark, sf_dir):
    """Expand + partial HashAggregate BEFORE the exchange: each
    granularity partial-aggregates map-side, then one shuffle carries
    all levels."""
    for name in ["events_hypertable_rollup", "etl_grouping_sets"]:
        plan = _plan(spark, sf_dir, name)
        assert "Expand" in plan, name
        assert plan.count("Exchange") <= 2, (name, plan.count("Exchange"))


def test_interval_join_no_cartesian_no_distinct(spark, sf_dir):
    """Interval overlap join must be a bucket equijoin with
    first-shared-bucket emission: no cartesian, and no dedup
    aggregate anywhere in the plan."""
    plan = _plan(spark, sf_dir, "etl_interval_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" not in plan  # no DISTINCT pass


def test_market_basket_no_fact_broadcast(spark, sf_dir):
    """q23's part-frequency table is fact-derived (one row per distinct
    part — ~20M rows at 100 TB), so it must not carry an explicit
    broadcast HINT; the only forced broadcast is the 1-row n_orders
    scalar. Auto-broadcast is disabled while planning so any
    BroadcastHashJoin left can only come from a hint."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, sf_dir, "q23_market_basket")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in plan, plan
    # the n_orders scalar cross join is the one permitted broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_null_safe_join_is_hash_join(spark, sf_dir):
    """<=> must plan as a hash-join key (EqualNullSafe), never a
    nested-loop over rows."""
    plan = _plan(spark, sf_dir, "etl_null_safe_join")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_scorecard_and_balance_broadcast_dims(spark, sf_dir):
    """q24/q25 attach their dims via broadcast; the fact side shuffles
    only for fact-fact joins."""
    for name in ["q24_supplier_delivery_scorecard", "q25_nation_trade_balance"]:
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name


def test_dim_broadcast_policy_size_gated(spark, sf_dir):
    """SF-scaling dims (customer/part/supplier) are hinted through
    plans.common.bc_dim: under the session autoBroadcastJoinThreshold
    the hint fires (same plans as before — BroadcastHashJoin at test
    SFs), over it the hint is withheld so AQE decides from runtime
    sizes instead of the driver OOMing on a 10^9-row 'dimension'."""
    from pyspark.sql import functions as F

    from python_etl_spark.plans.common import bc_dim
    from python_etl_spark.sources.tables import load_table

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    def joined_plan():
        q = orders.join(bc_dim(cust), orders.o_custkey == cust.c_custkey)
        return q._jdf.queryExecution().executedPlan().toString()

    thr_key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(thr_key)
    try:
        # small SF: estimate fits the default threshold -> hint fires
        hinted = bc_dim(cust)
        assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
        assert "BroadcastHashJoin" in joined_plan()
        # simulate 100 TB: customer no longer fits -> no hint. (AQE may
        # still broadcast at runtime; assert on the HINT, not the join.)
        spark.conf.set(thr_key, "1b")
        hinted = bc_dim(cust)
        assert "ResolvedHint" not in hinted._jdf.queryExecution().analyzed().toString()
    finally:
        spark.conf.set(thr_key, saved)
    # back under the default threshold the hint is there again
    hinted = bc_dim(cust)
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    # q25 (the VERDICT's representative) still broadcasts its dims at
    # the test SF under the gated policy
    assert "BroadcastHashJoin" in _plan(spark, sf_dir, "q25_nation_trade_balance")


def test_decile_and_rfm_no_single_partition_window(spark, sf_dir):
    """etl_decile_report (NTILE over the orders fact) and
    events_rfm_segments (three NTILEs over the per-user frame) ride
    operators/ranking.with_ntile. Once the input no longer fits the
    broadcast threshold, neither plan may funnel a fact/user-sized
    frame through one task."""
    with _broadcast_threshold(spark, "1b"):
        for name in ["etl_decile_report", "events_rfm_segments"]:
            plan = _plan(spark, sf_dir, name)
            assert "Exchange SinglePartition" not in plan, (name, plan)


def test_streak_and_cohort_partitioned_windows(spark, sf_dir):
    """The streak islands window and cohort cumsum partition by their
    keys — no single-partition funnel of the collapsed frames."""
    for name in ["win_streak_detection", "events_cohort_ltv"]:
        plan = _plan(spark, sf_dir, name)
        assert "Exchange SinglePartition" not in plan, (name, plan)


def test_hive_partition_pruning(spark, sf_dir, tmp_path):
    """A lang= partitioned layout must prune at the DIRECTORY level:
    the filter shows up as a PartitionFilter on the scan (zero I/O for
    other langs), not a post-scan Filter over all files."""
    from python_etl_spark.sinks.writers import write_parquet
    from python_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_by_lang")
    write_parquet(docs, path, partition_by=["lang"])

    from pyspark.sql import functions as F

    q = spark.read.parquet(path).where(F.col("lang") == "en")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    head = plan.split("PartitionFilters")[1][:120]
    assert "lang" in head, head
    assert q.count() == docs.where(F.col("lang") == "en").count()


def test_segment_dedup_windowgrouplimit_and_hash_partition(spark, sf_dir):
    """text_segment_dedup's keep-first window must be partitioned by the
    segment (hash-distributed, never a global window), and Spark's
    WindowGroupLimit must run map-side so the shuffle carries at most
    one candidate winner per (segment, task) — the hot-boilerplate-
    segment guard."""
    plan = _plan(spark, sf_dir, "text_segment_dedup")
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(seg" in plan
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_random_projection_zero_exchange(spark, sf_dir):
    """emb_random_projection is a pure per-row map: any Exchange in the
    plan means someone turned a projection into a shuffle."""
    plan = _plan(spark, sf_dir, "emb_random_projection")
    assert "Exchange" not in plan
    assert "FileScan parquet" in plan


def test_quality_linear_score_single_shuffle(spark, sf_dir):
    """One partial-agg shuffle on doc_id; weights live in the
    expression, so no second scan, no join, no broadcast."""
    plan = _plan(spark, sf_dir, "text_quality_linear_score")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_analyze_table_scans_prune_to_one_column(spark, sf_dir):
    """The per-column-aggregate form is only scale-equivalent to a
    single pass because column pruning reaches every scan: each of the
    four scans must read exactly ITS column (total bytes == one
    four-column pass), and no Expand (the fused multi-count-distinct
    form multiplies every row 5x — measured 3-4x slower)."""
    plan = _plan(spark, sf_dir, "etl_analyze_table")
    assert "Expand" not in plan
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) == 4
    assert all(s.count(":") == 1 for s in schemas), schemas  # 1 col each


def test_peak_concurrency_no_single_partition(spark, sf_dir):
    """Once its input no longer fits the broadcast threshold, the
    sweep-line running sum must ride global_cumsum's range-partition
    machinery — no Exchange SinglePartition anywhere."""
    with _broadcast_threshold(spark, "1b"):
        plan = _plan(spark, sf_dir, "events_peak_concurrency")
    assert "Exchange SinglePartition" not in plan


def test_audience_overlap_no_cartesian(spark, sf_dir):
    """The pairwise overlap comes from a user-keyed equijoin (bounded
    by types-per-user), never a type-pair cartesian of user sets."""
    plan = _plan(spark, sf_dir, "events_audience_overlap")
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_hll_overlap_no_single_partition_and_no_fact_rescans(spark, sf_dir):
    """The HLL overlap plan must collapse the fact table ONCE into
    |types| sketch rows (one partial-agg shuffle) and do all pairwise
    work on the tiny sketch frame — no single-partition exchange on a
    fact-sized path, and exactly one events scan."""
    plan = _plan(spark, sf_dir, "events_audience_overlap_hll")
    assert plan.count("Scan parquet") <= 2  # one per join side, same table
    assert "hll_sketch_agg" in plan or "HllSketchAgg" in plan or "hll" in plan.lower()


def test_zorder3_zero_shuffles(spark, sf_dir):
    """The k-way Morton projection is pure per-row bit arithmetic —
    no Exchange anywhere in the plan."""
    plan = _plan(spark, sf_dir, "etl_zorder3_code")
    assert "Exchange" not in plan, plan


def test_html_extract_pure_arrow_map(spark, sf_dir):
    """HTML extraction is an embarrassingly-parallel map stage: Arrow
    -batched Python, zero exchanges (the 100 TB crawl-extraction
    shape — throughput scales with cores, nothing shuffles)."""
    plan = _plan(spark, sf_dir, "text_html_extract")
    assert "ArrowEvalPython" in plan  # batched, not row-at-a-time
    assert "Exchange" not in plan, plan


def test_url_blocklist_broadcast_no_shuffle(spark, sf_dir):
    """The domain blocklist rides as a broadcast nested-loop anti join
    (suffix match is non-equi): the URL side must stream through with
    zero exchanges."""
    plan = _plan(spark, sf_dir, "etl_url_blocklist_filter")
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_url_host_dedup_single_shuffle(spark, sf_dir):
    """Canonicalization is codegen string ops; the only shuffle is the
    keep-first groupBy on the canonical key."""
    plan = _plan(spark, sf_dir, "etl_url_host_dedup")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bpe_checked_type_bounded_python(spark, sf_dir):
    """BPE tokenization: Arrow UDF over distinct word TYPES only, with
    the per-type counts broadcast back to the corpus-side rollup — the
    corpus never enters Python, and no cartesian/single-partition
    exchanges appear."""
    plan = _plan(spark, sf_dir, "text_bpe_tokens_checked")
    assert "ArrowEvalPython" in plan
    assert "BroadcastHashJoin" in plan  # type counts join back broadcast
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_warc_ingest_pure_map_no_exchange(spark, sf_dir):
    """WARC ingest is binaryFile -> Arrow decode -> projection: a pure
    map pipeline (one task per container at 100 TB), zero exchanges."""
    plan = _plan(spark, sf_dir, "etl_warc_ingest_stats")
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    assert "Exchange" not in plan, plan


def test_exact_substr_no_single_partition_no_cartesian(spark, sf_dir):
    """ExactSubstr: window-hash counts and the per-doc covered-set
    rollup are hash-partitioned shuffles; nothing funnels through one
    partition and nothing goes cartesian. Reassembly is a higher-order
    function over the token array (no Python at all)."""
    plan = _plan(spark, sf_dir, "text_exact_substr_dedup")
    assert "Exchange SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "ArrowEvalPython" not in plan  # pure JVM expressions


def test_encoding_repair_pure_arrow_map(spark, sf_dir):
    """Mojibake repair is an embarrassingly-parallel Arrow map —
    zero exchanges, same shape as HTML extraction."""
    plan = _plan(spark, sf_dir, "text_encoding_repair")
    assert "ArrowEvalPython" in plan
    assert "Exchange" not in plan, plan


def test_quality_fit_moments_then_broadcast_score(spark, sf_dir):
    """The normal-equations fit: ONE global aggregation produces the
    1-row moment/determinant frame (a single-partition merge of tiny
    partials — the only SinglePartition exchange allowed), which rides
    to the scoring map as a broadcast; the corpus itself never
    shuffles."""
    plan = _plan(spark, sf_dir, "text_quality_fit_predict")
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_bm25_scan_stage_features_one_broadcast(spark, sf_dir):
    """BM25: per-doc features are higher-order filters in the scan
    stage (no explode, no hash shuffle of the corpus); the corpus
    stats reduce through the single allowed SinglePartition merge and
    ride back as a broadcast."""
    plan = _plan(spark, sf_dir, "text_bm25_score")
    assert "Exchange hashpartitioning" not in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Generate explode" not in plan, plan


def test_audio_vad_single_doc_key_shuffle(spark, sf_dir):
    """VAD: binary payloads never shuffle — the decode UDF projects
    them to 16 energies in the scan stage, the explode fans out
    scalars, and the only exchanges are on the doc key (window +
    groupBys reuse the partitioning; no SinglePartition funnel)."""
    plan = _plan(spark, sf_dir, "mm_audio_vad_segments")
    assert "Exchange SinglePartition" not in plan, plan
    assert "ArrowEvalPython" in plan
    # the payload column must not appear above the projection that
    # consumes it: no exchange carries the binary
    for frag in plan.split("Exchange"):
        if frag.startswith(" hashpartitioning"):
            assert "payload" not in frag.split("+- ")[0], plan


def test_video_shot_detect_zero_udf_doc_partitioned(spark, sf_dir):
    """Shot detection stays whole-stage JVM (no Python evals) and
    never funnels to one partition; windows and groupBys all key on
    doc_id."""
    plan = _plan(spark, sf_dir, "mm_video_shot_detect")
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_dense_series_stats_collapse_before_windows(spark, sf_dir):
    """autocorr/changepoint: the events scan pre-aggregates to
    (type, day) BEFORE the spine join and windows — the raw event
    frame must not feed a window directly (partial_count in the
    aggregate proves map-side combine on the corpus pass)."""
    for name in ("events_autocorr", "events_changepoint"):
        plan = _plan(spark, sf_dir, name)
        assert "partial_count" in plan or "partial count" in plan, name
        # windows run on the post-aggregate frame: every Window node
        # sits above a HashAggregate in the tree dump
        w = plan.find("Window")
        a = plan.find("HashAggregate")
        assert w != -1 and a != -1, name


def test_scd2_pointintime_equi_join_not_cartesian(spark, sf_dir):
    """The validity-range lookup must execute as an EQUI join on the
    dimension key with the range as a post-filter — never a cartesian
    / nested-loop expansion, and no single-partition funnel."""
    plan = _plan(spark, sf_dir, "etl_scd2_pointintime")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_shapley_two_corpus_passes_one_broadcast_total(spark, sf_dir):
    """Shapley attribution: conversions and touches are keyed corpus
    passes (hash joins), the conversion total is the only
    SinglePartition merge and rides back as a broadcast."""
    plan = _plan(spark, sf_dir, "events_shapley_attribution")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_latency_quantiles_grouped_windows_no_funnel(spark, sf_dir):
    """Selection quantiles run per-priority windows — partitioned, not
    a global sort, no SinglePartition exchange."""
    plan = _plan(spark, sf_dir, "q27_ship_latency_quantiles")
    assert "Exchange SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rolling_wau_no_per_event_window(spark, sf_dir):
    """The rolling distinct count must collapse to user-day rows
    before the range fan-out: no Window over raw events, distinct via
    aggregate."""
    plan = _plan(spark, sf_dir, "events_rolling_wau")
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cjk_token_count_zero_shuffle_scan_speed(spark, sf_dir):
    """The CJK token-count query is pure per-row codegen (regex +
    higher-order array lambdas): NO exchange anywhere — the 100 TB
    plan is the scan itself."""
    plan = _plan(spark, sf_dir, "text_token_count_cjk")
    assert "Exchange" not in plan, plan
    assert "BatchScan" in plan or "FileScan" in plan or "Scan parquet" in plan


def test_cjk_vocab_coverage_bounded_head_broadcast(spark, sf_dir):
    """Vocab coverage over mixed tokens keeps the text_vocab_coverage
    shape: the top-K head reduces to ONE row before joining the 1-row
    totals — broadcast join, no cartesian, no single-partition sort of
    the corpus (TakeOrdered handles the bounded head)."""
    plan = _plan(spark, sf_dir, "text_vocab_coverage_cjk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan, plan


def test_cdf_replay_no_cartesian_keyed_shuffles(spark, sf_dir):
    """CDC replay = one window over the feed + one anti join against
    the base, both keyed on the merge key — never a cartesian, and the
    feed scan reads cdf files only (asserted in tests/test_table.py)."""
    plan = _plan(spark, sf_dir, "etl_cdf_replay")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin LeftAnti" in plan or "BroadcastHashJoin" in plan, plan


def test_audio_fingerprint_payloads_never_shuffle(spark, sf_dir):
    """The WAV fingerprint family's scale contract: binary payloads
    are reduced to per-frame peaks IN THE SCAN STAGE — no Exchange
    carries a binary column; only (doc_id, f, peak) scalars shuffle."""
    plan = _plan(spark, sf_dir, "mm_audio_fingerprint")
    for ex in plan.split("Exchange")[1:]:
        # the first bracketed column list after each Exchange
        cols = ex.split("[", 2)[-1][:400]
        assert "payload" not in cols, cols


def test_audio_pairs_bucket_join_no_cartesian(spark, sf_dir):
    """Banded audio near-dup matching is a keyed bucket join on
    (band, val) — never a cartesian/nested-loop pair scan."""
    plan = _plan(spark, sf_dir, "mm_audio_fingerprint_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_exif_probe_zero_shuffle(spark, sf_dir):
    """EXIF probing is one Arrow pass per row: no Exchange at all."""
    plan = _plan(spark, sf_dir, "mm_exif_probe")
    assert "Exchange" not in plan, plan


def test_scd2_from_cdf_broadcast_close_join_no_cartesian(spark, sf_dir):
    """The SCD2 builder's open/close matching is a keyed broadcast
    join (closes are night-sized), never a cartesian."""
    plan = _plan(spark, sf_dir, "etl_scd2_from_cdf")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_cdc_chunk_family_no_cartesian_bounded_shuffles(spark, sf_dir):
    """Content-defined chunking: census is pure groupBy algebra (no
    joins at all); pair generation is a bucket equijoin on chunk hash
    with the boilerplate fanout cap — never an all-pairs scan."""
    stats = _plan(spark, sf_dir, "text_cdc_chunk_stats")
    assert "CartesianProduct" not in stats and "Join" not in stats
    pairs = _plan(spark, sf_dir, "text_cdc_chunk_pairs")
    assert "CartesianProduct" not in pairs
    assert "BroadcastNestedLoopJoin" not in pairs
    assert "BroadcastHashJoin" in pairs or "SortMergeJoin" in pairs


def test_recall_eval_exact_side_is_broadcast_not_cartesian(spark, sf_dir):
    """The eval's exact side is brute-force-per-query: the 10 query
    rows BROADCAST against the corpus (BroadcastNestedLoopJoin over a
    broadcast side is 10xN work by design) — never a corpus-wide
    CartesianProduct."""
    plan = _plan(spark, sf_dir, "sim_eval_recall_lsh")
    assert "CartesianProduct" not in plan, plan


def test_trained_langid_broadcasts_weight_table(spark, sf_dir):
    """Trained langid's predict join: the <=4096 x L weight table is
    BROADCAST against the doc trigram partials — never a shuffled join
    of the corpus against the model, never a cartesian."""
    plan = _plan(spark, sf_dir, "text_langid_trained")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan


def test_merge_clauses_single_keyed_join_no_cartesian(spark, sf_dir):
    """The conditional-MERGE surface is ONE full-outer join keyed on
    the merge key — never a cartesian/nested-loop clause evaluation;
    the snapshot aggregate stays a keyed hash/sort-merge plan."""
    plan = _plan(spark, sf_dir, "etl_merge_clauses")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mor_delete_read_is_keyed_antijoin_no_cartesian(spark, sf_dir):
    """A deletion-vector read is the snapshot scan plus a null-safe
    KEYED anti-join of the tombstone sidecar — never a cartesian or
    nested-loop filter."""
    plan = _plan(spark, sf_dir, "etl_mor_delete")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan, plan


# --------------------------- round-11 families ---------------------------


def test_rename_read_zero_shuffle_no_join(spark, sf_dir):
    """The rename conform is a per-dir column ALIAS inside the scan
    projection — a renamed table's snapshot aggregate plans exactly
    like an unrenamed one: no extra Exchange beyond the aggregate's
    own, no join, no cartesian."""
    plan = _plan(spark, sf_dir, "etl_rename_evolution")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan
    # scan + partial agg + ONE exchange + final agg
    assert plan.count("Exchange") <= 2, plan


def test_merge_evolve_read_casts_not_joins(spark, sf_dir):
    """The evolved-schema snapshot read conforms dirs by CAST
    projection (null-filling the new column) — never a join against
    metadata, never a cartesian; the certifying aggregate keeps the
    one-exchange shape."""
    plan = _plan(spark, sf_dir, "etl_merge_evolve")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange") <= 2, plan


def test_file_pruned_read_scans_subset_with_pushdown(spark, sf_dir):
    """The per-file-stats read keeps parquet pushdown on the residual
    predicate (the range filter reaches the scan) and plans no join;
    the file subset itself is pinned by inputFiles in
    tests/test_table.py."""
    plan = _plan(spark, sf_dir, "etl_read_pruned_files")
    assert "PushedFilters: [" in plan, plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan


def test_partition_evolution_read_casts_not_joins(spark, sf_dir):
    """The mixed-layout snapshot read (flat pre-evolution dirs + hive
    post-evolution dirs) conforms per dir by CAST projection — no
    join, no cartesian, the one-exchange aggregate shape."""
    plan = _plan(spark, sf_dir, "etl_partition_evolution")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_clone_read_plans_like_source(spark, sf_dir):
    """A shallow clone's read unions the referenced dirs directly —
    no join against clone metadata, no cartesian."""
    plan = _plan(spark, sf_dir, "etl_clone_divergence")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan


def test_constraints_read_unchanged_by_enforcement(spark, sf_dir):
    """Constraint enforcement happens on the WRITE path only: the
    certified snapshot read carries no residual filter or join from
    the checks."""
    plan = _plan(spark, sf_dir, "etl_constraints")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_theta_sketch_no_cartesian_bounded_shuffles(spark, sf_dir):
    """The theta-sketch algebra: ONE distinct shuffle over (type,
    hash) + the same-key ranking window; everything downstream joins
    K-row sketch frames (broadcast/small) — no cartesian, no
    single-partition global window."""
    plan = _plan(spark, sf_dir, "events_audience_theta")
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan, plan


def test_zorder_pruned_read_keeps_pushdown(spark, sf_dir):
    """The post-Z-order range read keeps parquet pushdown on the
    residual predicate and plans no join; the file-subset narrowing
    is pinned by inputFiles in tests/test_table.py."""
    plan = _plan(spark, sf_dir, "etl_optimize_zorder")
    assert "PushedFilters: [" in plan, plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan


def test_zorder_str_pruned_read_keeps_pushdown(spark, sf_dir):
    """The string-cluster-key twin of test_zorder_pruned_read: the
    host-range read keeps parquet pushdown on the residual predicate
    and plans no join (rank bucketing happened at WRITE time; reads
    are plain scans)."""
    plan = _plan(spark, sf_dir, "etl_optimize_zorder_str")
    assert "PushedFilters: [" in plan, plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan


def test_format_read_plans_bounded(spark, sf_dir):
    """The registered-format snapshot read is a pure Python-source
    scan + aggregation: no join, no single-partition exchange (the
    conform work is per-file inside the source)."""
    plan = _plan(spark, sf_dir, "etl_format_read")
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Join" not in plan, plan


def test_sql_dml_select_is_catalyst_scan(spark, sf_dir):
    """The SQL router's SELECT face plans like the library read —
    Catalyst parquet scans (pushdown-capable), no cartesian, no
    single-partition funnel; the router only rewrote the statement."""
    plan = _plan(spark, sf_dir, "etl_sql_dml")
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan, plan


# --------------------------- round-13 families ---------------------------


def test_sql_merge_set_select_is_catalyst_scan(spark, sf_dir):
    """The column-subset MERGE query's readback plans like any
    snapshot aggregate — Catalyst parquet scans, no cartesian, no
    single-partition funnel (assignments ran at WRITE time as one
    keyed full-outer join over touched dirs)."""
    plan = _plan(spark, sf_dir, "etl_sql_merge_set")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan, plan


def test_sql_copy_into_select_is_catalyst_scan(spark, sf_dir):
    """COPY INTO's readback is the plain snapshot aggregate: parquet
    scans of the committed dirs, no join (ingest-time file skipping
    is manifest metadata, invisible to the read plan)."""
    plan = _plan(spark, sf_dir, "etl_sql_copy_into")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
