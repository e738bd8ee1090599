"""Physical-plan regression gate: the load-bearing plan shapes from
PLANS.md must not silently degrade (e.g. a broadcast turning into a
sort-merge join, a pushed filter disappearing, top-k becoming a global
sort)."""

from __future__ import annotations

import pytest

import aeuc_vector_db_spark.queries as Q
from aeuc_vector_db_spark.queries import core as Qcore
from aeuc_vector_db_spark.queries import manifest_q as Qmanifest
from aeuc_vector_db_spark.queries import relational as Qrel
from aeuc_vector_db_spark.queries import textops as Qtext

SF01 = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    # Singles collapsed into driver-window composites (round 8's
    # core_stability_composite, round 14's five registry folds) remain
    # individually plan-gated here via their modules' FOLDED dicts or
    # module-private functions.
    fn = Q.queries().get(name)
    if fn is None:
        for mod in (Qcore, Qmanifest, Qrel, Qtext):
            folded = getattr(mod, "FOLDED", {})
            if name in folded:
                fn = folded[name][0]
                break
    if fn is None:
        fn = getattr(Qcore, f"_{name}")
    df = fn(spark, SF01)
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString() + qe.toString()


@pytest.mark.parametrize(
    "name,required",
    [
        ("knn_cosine_topk", ["BroadcastExchange", "Window"]),
        ("rel_top_revenue_orders",
         ["BroadcastHashJoin", "TakeOrderedAndProject", "HashAggregate"]),
        ("rel_pricing_summary", ["HashAggregate"]),
        ("point_lookup", ["PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,42)]"]),
        ("rel_parts_never_ordered", ["LeftAnti"]),
        ("rel_late_order_priority", ["LeftSemi"]),
        ("knn_cosine_filtered", ["BroadcastHashJoin"]),
    ],
)
def test_plan_shape(spark, name, required):
    plan = _plan(spark, name)
    missing = [r for r in required if r not in plan]
    assert not missing, f"{name}: missing plan shapes {missing}"


def test_knn_corpus_never_shuffles_before_scoring(spark):
    """The corpus side of batch k-NN must reach the scorer without an
    Exchange caused by a join (broadcast nested loop / broadcast join
    only); the only shuffle allowed is the top-k window by query_id and
    the explicit under-parallelism repartition."""
    plan = _plan(spark, "knn_cosine_topk")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan  # broadcast NLJ, not cartesian


def test_pruned_projection_reaches_scan(spark):
    """Column pruning: dataset_digest touches only vec_id — the 64-float
    embedding column must not be read from parquet."""
    df = Qcore._dataset_digest(spark, SF01)
    qe = df._jdf.queryExecution().toString()
    scan_lines = [l for l in qe.splitlines() if "ReadSchema" in l]
    assert scan_lines
    read_schema = scan_lines[0].split("ReadSchema")[1]
    assert "embedding" not in read_schema and "vec_id" in read_schema


@pytest.mark.parametrize(
    "name,required",
    [
        # decontamination: the benchmark shingle set must broadcast —
        # the corpus side never shuffles its text
        ("doc_decontaminate", ["BroadcastHashJoin", "HashAggregate"]),
        # Arrow knn: corpus scanned once; per-partition top-k, then one
        # single-partition merge task ranks (no Window, no orderBy)
        ("knn_cosine_arrow_topk", ["MapInPandas", "SinglePartition"]),
    ],
)
def test_curation_plan_shape(spark, name, required):
    plan = _plan(spark, name)
    missing = [r for r in required if r not in plan]
    assert not missing, f"{name}: missing plan shapes {missing}"


@pytest.mark.parametrize(
    "name,required",
    [
        # Q2 shape: per-part MIN aggregate + equality join back, top-20
        # is TakeOrdered, supplier dim broadcasts
        ("rel_cheapest_part_offer",
         ["HashAggregate", "TakeOrderedAndProject", "BroadcastHashJoin"]),
        # Q11 shape: the global scalar rides a broadcast nested-loop
        # (one row), never a shuffle join
        ("rel_market_share_customers",
         ["HashAggregate", "BroadcastNestedLoopJoin"]),
        # Q15 shape: MAX re-aggregate broadcast as an equality filter
        ("rel_top_quarter_supplier", ["HashAggregate", "BroadcastHashJoin"]),
        # funnel: per-user MIN chains as equi joins on the user key
        ("events_funnel_conversion", ["HashAggregate"]),
        ("events_cohort_retention", ["HashAggregate"]),
        # Q13 shape: LEFT join must survive (a dropped unmatched side
        # would show as an inner HashJoin only)
        ("rel_order_count_distribution", ["HashAggregate"]),
        # Q19 shape: the factored brand filter reaches the dim scan as
        # a pushed filter and the join broadcasts
        ("rel_disjunctive_promo_revenue",
         ["BroadcastHashJoin", "PushedFilters"]),
        ("rel_nation_share_by_year", ["BroadcastHashJoin", "HashAggregate"]),
    ],
)
def test_round8_query_plan_shape(spark, name, required):
    plan = _plan(spark, name)
    missing = [r for r in required if r not in plan]
    assert not missing, f"{name}: missing plan shapes {missing}"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"


def test_stratified_sample_is_pure_map_side(spark):
    """The sampling filter must not introduce ANY shuffle: the plan up
    to the (aggregating) declared query's Exchange is scan+filter only.
    Check the operator directly: filter over the scan, no Exchange, no
    join."""
    from aeuc_vector_db_spark.operators.curation import stratified_sample
    from aeuc_vector_db_spark.sources.tables import load_table

    docs = load_table(spark, "documents", SF01)
    out = stratified_sample(docs, {"en": 0.5, "de": 0.2})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_sequence_pack_single_shuffle(spark):
    """Packing needs exactly one Exchange (the per-stratum window) —
    a second would mean the cumsum isn't running over the shard key."""
    from aeuc_vector_db_spark.operators.curation import pack_sequences
    from aeuc_vector_db_spark.sources.tables import load_table

    docs = load_table(spark, "documents", SF01)
    out = pack_sequences(docs, budget_tokens=256, part_col="lang")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_ivf_arrow_prunes_partitions_on_disk(spark, tmp_path):
    """ivf_search_batch_arrow over partitionBy(centroid_id) storage must
    show PartitionFilters — pruned IO is the operator's reason to
    exist (its CPU half is the masked Arrow kernel)."""
    from pyspark.sql import functions as F

    from aeuc_vector_db_spark.operators import ann as A
    from aeuc_vector_db_spark.operators import clustering as C
    from aeuc_vector_db_spark.sources.tables import load_table, write_partitioned

    emb = load_table(spark, "embeddings", SF01)
    corpus = emb.withColumn("centroid_id", F.col("label").cast("int"))
    path = str(tmp_path / "ivf")
    write_partitioned(corpus, path, ["centroid_id"])
    cents = C.centroids(emb, ["label"]).select(
        F.col("label").cast("int").alias("centroid_id"), "centroid"
    )
    queries = emb.filter(F.col("vec_id") % 100 == 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    res = A.ivf_search_batch_arrow(
        spark.read.parquet(path), cents, queries, top_k=5, nprobe=2
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [centroid_id" in plan


@pytest.mark.parametrize(
    "name,required",
    [
        # epoch shuffle slice: distributed top-k, never a global sort
        ("doc_epoch_shuffle", ["TakeOrderedAndProject"]),
        # heavy hitters: candidates broadcast into a semi join
        ("doc_heavy_hitters", ["BroadcastHashJoin", "LeftSemi"]),
    ],
)
def test_round4_plan_shape(spark, name, required):
    plan = _plan(spark, name)
    missing = [r for r in required if r not in plan]
    assert not missing, f"{name}: missing plan shapes {missing}"


def test_sql_entry_stays_jvm_side(spark):
    """The SQL entry point's scalar functions must expand into the plan
    as JVM expressions — any Python-worker operator here would mean the
    SQL surface silently took the 10-100x slow path the Column builders
    avoid."""
    plan = _plan(spark, "sql_entry_knn_cosine")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    plan2 = _plan(spark, "sql_entry_pricing")
    assert "BatchEvalPython" not in plan2 and "ArrowEvalPython" not in plan2
    assert "HashAggregate" in plan2


def test_bm25_no_cartesian_and_rrf_shapes(spark):
    """BM25/RRF: the only nested-loop joins allowed are the 1-row
    broadcast scalars (avglen, N); a real CartesianProduct would mean
    the postings exploded against the corpus."""
    for name in ("doc_bm25_topk", "doc_hybrid_rrf_topk"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan or "doc_hybrid" in name, name
    # the doc-length side of the contrib join must be SEMI-FILTERED to
    # matched doc ids (broadcast left-semi) before it shuffles — the
    # full corpus-length pass exists only as the avglen scalar fold
    plan = _plan(spark, "doc_bm25_topk")
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan, (
        "bm25 dlen join is not semi-bounded"
    )


def test_window_top_k_uses_group_limit(spark):
    """Spark's WindowGroupLimit pushes rank<=k below the shuffle as a
    per-partition partial top-k — the plan property that keeps
    top-k-per-group from sorting whole partitions at 100 TB. Pin it so
    a config/regression never silently drops it."""
    plan = _plan(spark, "rel_top_orders_per_customer")
    assert "WindowGroupLimit" in plan


def test_pipeline_e2e_no_cartesian(spark):
    """The 7-stage composition must keep every stage's scale shape: no
    CartesianProduct anywhere. Since round 9 the chain eager-checkpoints
    s2/pairs/s4 (the CC consumers re-executed the Arrow kernels per
    action otherwise — PLANS.md round-9 notes), so the FINAL plan only
    shows the post-checkpoint tail (split assignment joins, equi); the
    pre-checkpoint stages (blocked jaccard equi-join, broadcast
    decontaminate) are plan-gated separately via their operators'
    dedicated queries (`doc_ngram_jaccard`, `doc_decontaminate`)."""
    plan = _plan(spark, "doc_pipeline_e2e")
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # the split-assignment equi joins survive


def test_rename_read_plans_like_unrenamed(spark):
    """The rename indirection must be free at plan time: the logicalize
    projection collapses into the scan's ReadSchema — no extra
    exchange, no Python operator."""
    plan = _plan(spark, "manifest_rename_read")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sketch_queries_stay_jvm_side_and_bounded(spark):
    """HLL/CMS must be pure JVM expression pipelines (no Python
    operators — the sha256 windows are F.conv/F.sha2 expressions) whose
    only shuffles carry sketch-sized state: partial HashAggregates on
    both sides of the exchange (map-side combine caps what leaves a
    partition at m registers / d·w cells)."""
    for name in ("doc_hll_distinct", "doc_cms_freq"):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "partial" in plan and "HashAggregate" in plan, name


def test_substring_dedup_no_cartesian_partial_agg_dup_mark(spark):
    """Window generation is map-side (explode + substr + sha2); the
    duplicate mark is groupBy(h) → equi-join, NOT a window count —
    groupBy carries partial aggregation so a boilerplate window shared
    by millions of docs combines map-side instead of piling onto one
    task, and the join's residual skew is AQE-splittable. Gate: no
    cartesian, and the dup mark has a partial HashAggregate."""
    plan = _plan(spark, "doc_substring_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial" in plan and "HashAggregate" in plan
    assert "Window" in plan  # the gaps-and-islands span merge


def test_binary_hamming_plan_shape(spark):
    """Stage 1: query side broadcasts (corpus never shuffles), top-R
    cut through WindowGroupLimit; stage 2: candidates broadcast-join
    back. And the whole pipeline is codegen expressions — no Python."""
    plan = _plan(spark, "emb_binary_hamming_topk")
    assert "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_round7_late_additions_plan_shapes(spark):
    """Volume shipping: dimension chains broadcast, fact never
    sort-merge-joins a dimension. Quality gate: the threshold is a
    broadcast one-row join (map-side gate). Resample: no cartesian;
    the fill runs as windows over one key shuffle."""
    plan = _plan(spark, "rel_volume_shipping")
    assert "BroadcastHashJoin" in plan and "HashAggregate" in plan
    assert "CartesianProduct" not in plan

    plan = _plan(spark, "doc_quality_gate_sketch")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial" in plan  # sketch aggregates combine map-side

    plan = _plan(spark, "events_resample_locf")
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_sketch_family_partial_aggregates(spark):
    """Quantile sketch and drift monitor: the bucket aggregates must
    combine map-side (partial HashAggregate) — the property that caps
    their shuffles at bins rows per partition — and stay Python-free."""
    for name in ("rel_price_quantile_sketch", "rel_order_price_drift"):
        plan = _plan(spark, name)
        assert "partial" in plan and "HashAggregate" in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan, name


def test_decorrelated_subquery_plan_shapes(spark):
    """The Q4/Q17/Q21/Q22 decorrelated shapes must keep their hash
    semi/anti joins (an EXISTS degrading to an inner join + distinct, or
    an anti to a cartesian, is the scale regression these pin) and stay
    Python-free; the rolling-30d window must run as a single Window over
    one key shuffle, never a self-join."""
    plan = _plan(spark, "rel_exists_late_shipment")
    assert "LeftSemi" in plan and "CartesianProduct" not in plan

    plan = _plan(spark, "rel_small_qty_part_revenue")
    # brand semi-filter AND the per-part aggregate join both broadcast
    assert "BroadcastHashJoin" in plan and "HashAggregate" in plan
    assert "SortMergeJoin" not in plan

    plan = _plan(spark, "rel_waiting_suppliers")
    # Optimization round 16: both quantifiers are per-order min/max
    # aggregates with map-side partials — the driving rows semi-join
    # the multi-supplier order set; no anti join remains and the big
    # side never shuffles as raw lineitem rows (exchanges carry
    # per-order aggregates). The anti-to-cartesian degradation this
    # gate existed for stays impossible: no join carries an inequality.
    assert "LeftSemi" in plan and "HashAggregate" in plan
    assert "LeftAnti" not in plan  # the rewrite removed the anti probe
    assert "TakeOrderedAndProject" in plan  # top-10, not a global sort
    assert "CartesianProduct" not in plan

    plan = _plan(spark, "rel_idle_rich_customers")
    assert "LeftAnti" in plan  # NOT EXISTS over 2001 orders
    # the 1-row scalar aggregate joins as a broadcast, never a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    plan = _plan(spark, "rel_rolling_30d_revenue")
    assert "Window" in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    # Q18 shape: the HAVING aggregate's qualifying keys drive the join,
    # and top-20 never becomes a global sort
    plan = _plan(spark, "rel_big_volume_customers")
    assert "HashAggregate" in plan and "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_reshape_queries_expand_map_side(spark):
    """unpivot and grouping-sets are Expand-based: the row fan-out is
    map-side (no extra shuffle), the only exchange is the final
    aggregate's — and no Python operator appears."""
    for name in ("rel_unpivot_part_metrics", "rel_grouping_sets_revenue"):
        plan = _plan(spark, name)
        assert "Expand" in plan, name
        assert "HashAggregate" in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_maxsim_plan_shape(spark):
    """Late-interaction MaxSim must keep the k-NN family's plan: the
    corpus reaches the 16-term scorer via a broadcast (never a shuffle
    join or cartesian), the expression stays JVM-side, and top-k per
    query is a group-limit window."""
    plan = _plan(spark, "knn_maxsim_topk")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "WindowGroupLimit" in plan


def test_round9_new_query_plan_shapes(spark):
    """Round-9 additions hold their designed shapes:

    - Q9 profit: every dim side (part/supplier/nation) is a broadcast
      hash join — the fact table shuffles exactly once, for the final
      (nation, year) aggregate; no sort-merge join anywhere;
    - Q10 returned items: top-20 is TakeOrderedAndProject (distributed
      heap), never a global Sort;
    - winnowing: ONE hash-partitioning exchange (the per-doc window);
      no self-join, no cartesian — the sliding window is a window
      function over posexploded hashes, not array-lambda slices;
    - cosine radius: the corpus reaches the scorer with no Exchange
      from a join (broadcast only) and no row-at-a-time Python eval.
    """
    plan = _plan(spark, "rel_product_type_profit")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "HashAggregate" in plan

    plan = _plan(spark, "rel_returned_item_revenue")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan

    plan = _plan(spark, "doc_winnowing_fingerprint")
    # since round 13 the whole computation (tokenize → k-gram hash →
    # sliding min → distinct → stats) is ONE vectorized Arrow kernel
    # over the scan (winnow_batch via mapInPandas — the r9-12 SQL-HOF
    # twin lives on as _doc_winnowing_fp_sql with a bit-parity test):
    # ZERO shuffles, zero explode, no window operator, and exactly one
    # Python eval node — a filter over a pandas_udf would re-evaluate
    # the kernel on both sides (2 ArrowEvalPython, measured 2×).
    # Optimization round 15: the ONE allowed exchange is the
    # ensure_min_parallelism round-robin spread of the single-file scan
    # (the kernel serialized on 1 task otherwise); the computation
    # itself must still never shuffle — no hash/range partitioning.
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, (
        "winnowing must not shuffle by key"
    )
    # plan strings print 'RoundRobinPartitioning' capitalized (it is not
    # an Expression, so no lowercase prettyName) — count case-
    # insensitively or the cap is never enforced (ADVICE r15). _plan
    # concatenates executedPlan().toString() + qe.toString(), so ONE
    # exchange prints twice; ≤2 occurrences ⟺ at most one spread.
    assert plan.lower().count("roundrobinpartitioning") <= 2
    assert "Generate explode" not in plan and "posexplode" not in plan
    assert "BatchEvalPython" not in plan
    fn = Q.queries()["doc_winnowing_fingerprint"]
    phys = fn(spark, SF01)._jdf.queryExecution().executedPlan().toString()
    assert phys.count("MapInPandas") == 1, phys
    assert phys.count("ArrowEvalPython") == 0, phys

    plan = _plan(spark, "knn_cosine_range")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # stays in codegen, no Python


def test_late_round9_batch2_plan_shapes(spark):
    """Second late-round-9 batch holds its designed shapes:

    - skyline: the dominance test runs on the per-size reduction
      (bounded candidate set), never a part-x-part self-join, and the
      winners BROADCAST back;
    - peak-concurrency: sweep line, never an interval self-join — no
      join operator at all; the running sum is the only wide stage;
    - transition matrix: all windows and the session numbering reuse
      ONE user_id hash exchange (plus the tiny final (src,dst) agg and
      the presentation sort);
    - token diversity: map-only — zero shuffles beyond presentation.
    """
    import re

    plan = _plan(spark, "rel_part_skyline")
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan

    plan = _plan(spark, "rel_peak_open_orders_hist")
    assert "Join" not in plan, "sweep line must not join intervals"
    assert "Window" in plan

    phys = (
        Q.queries()["events_transition_matrix"](spark, SF01)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    hp = re.findall(r"hashpartitioning\(([a-zA-Z_#0-9]+)", phys)
    assert sum(1 for p in hp if p.startswith("user_id")) <= 1, hp

    phys = (
        Q.queries()["doc_token_diversity"](spark, SF01)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # Optimization round 15: one round-robin input spread allowed (the
    # sorted-run scan otherwise serializes on the single-file scan's one
    # task); the statistics themselves must never shuffle by key.
    assert "hashpartitioning" not in phys and "rangepartitioning" not in phys, (
        "token diversity must not shuffle by key"
    )
    # case-insensitive: executed plans print 'RoundRobinPartitioning'
    # capitalized (ADVICE r15 — the lowercase count was always 0)
    assert phys.lower().count("roundrobinpartitioning") <= 1


def test_rfm_segments_has_no_unpartitioned_window(spark):
    """VERDICT r9 #2: the RFM quartile path must be the selection-based
    plan — NTILE boundary tuples located by bucket selection and the
    bucketing done map-side by comparison. An unpartitioned window (the
    r9 implementation's three global NTILEs) surfaces as an `Exchange
    SinglePartition` feeding a Window; neither it nor any ntile may
    appear in the executed plan. Every Window that remains partitions
    by metric(/seg) over the bounded bucket histogram."""
    phys = (
        Q.queries()["rel_rfm_segments"](spark, SF01)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ntile" not in phys.lower(), "NTILE must not run in the engine plan"
    # every Window node must carry a partition spec naming `metric`
    # (histogram cumulative + sliver rank) — the r9 failure mode was a
    # Window whose partition spec was empty. (The one remaining
    # SinglePartition exchange is the 9-row boundary-tuple scalar agg —
    # constant-size, map-side combined, fine at any scale.)
    window_lines = [ln for ln in phys.splitlines() if "Window [" in ln]
    assert window_lines, "selection path should still use bounded windows"
    for ln in window_lines:
        assert _window_partition_spec_contains(ln, "metric"), (
            f"unpartitioned/wrongly-partitioned Window in RFM plan: {ln}"
        )


def _window_partition_spec_contains(ln: str, token: str) -> bool:
    """True iff `token` appears in the PARTITION-SPEC segment of a
    physical-plan Window line. Window lines render as
    `Window [exprs], [partitionSpec]` with an optional trailing
    `, [orderSpec]` — checking the partition-spec segment specifically
    matters because a one-shot split-once (or a bare `token in ln`)
    would also scan the order spec / remainder, so a Window with an
    EMPTY partition spec but `token` in its ORDER spec would wrongly
    pass (the round-11 ADVICE false-pass shape, pinned negative in
    test_window_spec_parser_rejects_order_spec_match). Malformed lines
    fail as a clean pytest.fail instead of IndexError-ing."""
    segments = ln.split("], [")
    if len(segments) < 2:
        pytest.fail(f"unexpected Window line shape: {ln}")
    return token in segments[1]


def test_window_spec_parser_rejects_order_spec_match():
    """The advisor's described false-pass shape (r11 ADVICE item, made
    a negative test per VERDICT r11 #8): a Window with an EMPTY
    partition spec whose ORDER spec mentions the token must NOT pass
    the partition-spec check, and a malformed line must fail cleanly
    rather than slip through or IndexError."""
    # empty partition spec, token only in the order spec → reject
    bad = ("Window [sum(cnt#12L) windowspecdefinition(...) AS cum#9L], "
           "[], [metric#5 ASC NULLS FIRST]")
    assert not _window_partition_spec_contains(bad, "metric")
    # healthy shape with the token in the partition spec → accept
    good = ("Window [sum(cnt#12L) windowspecdefinition(metric#5, ...) "
            "AS cum#9L], [metric#5], [bkt#7L ASC NULLS FIRST]")
    assert _window_partition_spec_contains(good, "metric")
    # token in the partition spec, order spec empty-ish → accept
    good2 = "Window [row_number() ...], [metric#5, seg#6], [ck#8L ASC]"
    assert _window_partition_spec_contains(good2, "metric")
    # malformed line shape → clean pytest.fail, not a silent pass
    with pytest.raises(BaseException) as ei:
        _window_partition_spec_contains("Window garbage with no specs", "metric")
    assert "unexpected Window line shape" in str(ei.value)


def test_rfm_segments_direct_path_on_untied_data(spark):
    """VERDICT r11 #2: on untied data (the TPC-H fixture — every
    boundary bucket far under _RFM_SLIVER_MAX) the adaptive RFM must
    take the round-10 DIRECT path: no refinement jobs, no `ckb`
    sub-bucket column anywhere in the final plan, and the refinement
    debug hook reports nothing."""
    from aeuc_vector_db_spark.queries.relational import _rfm_segments

    out: list = []
    df = _rfm_segments(spark, SF01, _refine_out=out)
    assert out == [], f"refinement fired on untied data: {out}"
    qe = df._jdf.queryExecution()
    phys = qe.executedPlan().toString() + qe.toString()
    assert "ckb" not in phys, "refinement lineage present in direct-path plan"


def test_exact_median_selection_plan(spark):
    """Two-pass selection must never sort the full fact table: the
    bucket histogram is a partial+final HashAggregate, the located
    target buckets BROADCAST back, and the only per-row sort feeds the
    row_number window over the joined SLIVER (post-join), not the
    scan."""
    plan = _plan(spark, "rel_exact_median_price")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_no_unpartitioned_window_in_any_declared_query(spark):
    """Registry-wide gate (VERDICT r14 #6): no declared query's executed
    plan may contain a Window with an EMPTY partition spec — the shape
    that moves ALL data to one partition at scale. The former rank≤k
    global-window heads (term/bigram top-k, BM25, RRF, hybrid vector
    leg) are now written as orderBy().limit(k) + rank-after-limit
    (functions/ranking.py global_ranked_topk), which plans as
    TakeOrderedAndProject with zero WindowExec, so the gate can be
    absolute — and also build-time-silent (no `WindowExec: No Partition
    Defined` warnings in a sweep log). Plans built at sf0.001 to keep
    the fit/collect-at-build queries cheap."""
    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, fn in Q.queries().items():
        phys = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        for ln in phys.splitlines():
            ln = ln.strip()
            if "Window [" not in ln:
                continue
            segs = ln.split("], [")
            if len(segs) >= 2 and segs[1].strip() in ("", "]"):
                offenders.setdefault(name, []).append(ln[:120])
    assert not offenders, f"unpartitioned Window in: {offenders}"


def test_global_ranked_topk_plan_and_rank(spark):
    """The window-free top-k helper: TakeOrderedAndProject in the plan
    (distributed partial top-k, never a single-partition sort of the
    input), no Window node, and ranks bit-identical to row_number over
    the same total order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aeuc_vector_db_spark.functions.ranking import global_ranked_topk

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") * 37 % 101).alias("score")
    )
    order = [F.col("score").desc(), F.col("id").asc()]
    got = global_ranked_topk(df, order, 25)
    phys = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in phys
    assert "Window" not in phys
    w = Window.orderBy(*order)
    want = (
        df.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 25)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    with pytest.raises(ValueError, match="k must be"):
        global_ranked_topk(df, order, 0)


def test_orc_roundtrip_prunes_partitions_and_pushes_predicates(spark):
    """Round 15 ORC sink/scan (io_roundtrip_composite part): the
    returnflag predicate must prune partition DIRECTORIES (never read),
    the quantity predicate must reach the ORC reader as a PushedFilter
    (row-group pruning), and the ReadSchema must project only the three
    needed data columns — the shapes that make an ORC lake scan cheap
    at 100 TB."""
    plan = _plan(spark, "orc_roundtrip")
    scan = next(ln for ln in plan.splitlines() if "FileScan orc" in ln)
    part = scan.split("PartitionFilters: [")[1].split("]")[0]
    assert "l_returnflag" in part and "= R)" in part, part
    assert "PushedFilters: [IsNotNull(l_quantity), " \
           "GreaterThan(l_quantity,25.0)]" in scan
    assert ("ReadSchema: struct<l_quantity:double,"
            "l_extendedprice:double,l_shipdate:timestamp>") in scan


def test_csv_xml_roundtrips_read_explicit_schema_and_prune(spark):
    """CSV and XML reads must use the declared schema (no inference
    job) and prune the unused user_id column from the scan."""
    for part, tag in (("csv_roundtrip", "FileScan csv"),
                      ("xml_roundtrip", "FileScan xml")):
        plan = _plan(spark, part)
        scan = next(ln for ln in plan.splitlines() if tag in ln)
        assert "user_id" not in scan.split("ReadSchema:")[-1], part
        assert "event_id:bigint" in scan and "ts:timestamp" in scan, part
