"""Physical-plan assertions — the scale contract (SURVEY.md §4):
broadcasts where a side is dimension-sized, pushdown/pruning at the
scan, whole-stage codegen on the hot path, exactly one wide exchange in
the extraction pipeline, and no row-wise Python anywhere."""

from __future__ import annotations

from ocr_spark.plans import QUERIES, load_all

load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q03_broadcasts_dimension(spark, sf_dir):
    plan = _plan(QUERIES["q03_shipping_priority"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q05_snowflake_broadcasts(spark, sf_dir):
    plan = _plan(QUERIES["q05_region_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q02_filter_pushdown_and_pruning(spark, sf_dir):
    df = QUERIES["q02_filter_project"](spark, sf_dir)
    scan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in scan
    assert "IsNotNull(l_shipdate)" in scan or "GreaterThanOrEqual" in scan
    # column pruning: untouched wide columns must not be read
    assert "l_comment" not in scan and "l_returnflag" not in scan


def test_q01_wholestage_and_partial_agg(spark, sf_dir):
    df = QUERIES["q01_pricing_summary"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2  # partial + final (map-side combine)
    assert "partial_sum" in plan
    df.collect()  # AQE finalizes the plan; codegen markers appear post-run
    final_plan = _plan(df)
    # whole-stage codegen stages print as "*(N) Operator" in the final plan
    import re

    assert re.search(r"\*\(\d+\) HashAggregate", final_plan), final_plan[:500]


def test_q10_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(QUERIES["q10_top_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_extract_single_exchange(spark, tmp_path, monkeypatch):
    """extract_pages and the committed run's produce step plan the same
    single exchange: the unpinned salted size-bucket repartition."""
    import re

    from ocr_spark.extract.pipeline import extract_pages
    from ocr_spark.fixtures import pages_df
    from ocr_spark.operators import lineage

    pages = pages_df(spark, 20)
    plan = _plan(extract_pages(pages))
    assert plan.count("Exchange") == 1  # the salted size-bucket shuffle only
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan

    produced = []

    def fake_commit_run(spark, rows, produce, **kw):
        produced.append(produce(rows))
        return 0, 0

    monkeypatch.setattr(lineage, "commit_run", fake_commit_run)
    lineage.run_extraction(spark, pages, str(tmp_path), "plan")

    def exchanges(plan):
        return [
            re.sub(r"#\d+|, \[plan_id=\d+\]", "", line.strip().lstrip("+- "))
            for line in plan.splitlines()
            if "Exchange" in line
        ]

    batch = exchanges(plan)
    assert batch == exchanges(_plan(produced[0]))
    assert batch[0].startswith("Exchange hashpartitioning(bucket,"), batch
    assert "REPARTITION_BY_COL" in batch[0], batch


def test_no_rowwise_python_in_catalog(spark, sf_dir):
    """No catalog query may contain a row-at-a-time Python eval node."""
    for name, fn in QUERIES.items():
        plan = _plan(fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name


def test_d05_plan_is_distributed_and_subquadratic(spark, sf_dir):
    """Regression ladder: round-1 d05 collect()-ed the whole embeddings
    table to the driver; round-2 registered an exact all-pairs matmul
    (O(n²) comparisons). The round-3 registered path must build its plan
    without launching a job AND contain no all-pairs stage of any kind —
    candidates come from the sign-LSH bucket self-join, exact cosine runs
    only on candidates, entirely JVM-side."""
    from pyspark.sql import DataFrame

    orig = DataFrame.collect
    calls = []
    DataFrame.collect = lambda self: (calls.append(1), orig(self))[1]
    try:
        df = QUERIES["d05_embedding_neardup"](spark, sf_dir)
    finally:
        DataFrame.collect = orig
    assert calls == [], "d05 plan construction ran a driver-side collect()"
    plan = _plan(df)
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "BatchEvalPython" not in plan
    # candidates come from per-(tbl, bucket) grouped scoring — the group
    # exchange is on the LSH key, and the pandas stage is grouped (Arrow),
    # never a row-wise eval
    assert "bucket" in plan
    assert "FlatMapGroupsInPandas" in plan


def test_d10_exact_verifier_is_distributed(spark, sf_dir):
    """The exact twin keeps the distributed blocked matmul: a
    FlatMapGroupsInPandas stage over block pairs, never a driver
    collect or a cartesian join."""
    plan = _plan(QUERIES["d10_neardup_exact"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "BatchEvalPython" not in plan


def test_q28_banded_join_is_hash_equi(spark, sf_dir):
    """The range join must execute as a hash equi-join on the banded
    keys with the range check residual — never a nested-loop/cartesian
    pairing (the quadratic-whale-user failure mode)."""
    plan = _plan(QUERIES["q28_range_join"](spark, sf_dir))
    assert "HashJoin" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_p01_chunking_zero_shuffle(spark, sf_dir):
    """Chunking is sequence+posexplode+slice — one narrow scan, no
    exchange at any corpus size."""
    plan = _plan(QUERIES["p01_chunking"](spark, sf_dir))
    assert plan.count("Exchange") == 0
    assert "BatchEvalPython" not in plan


def test_t08_vocab_has_partial_agg(spark, sf_dir):
    """Heavy-hitter counting must map-side combine: the exchange carries
    per-(lang,token) partials, never exploded token rows."""
    plan = _plan(QUERIES["t08_vocab_topk"](spark, sf_dir))
    assert "partial_count" in plan


def test_e03_e05_argmin_has_no_window_sort(spark, sf_dir):
    """The centroid argmin is a map-side-combinable hash aggregate, not a
    row_number window: no Window operator (and hence no per-iteration
    full sort of the n_vectors x n_centroids exploded set) anywhere in
    either plan; a partial_min partial aggregate must be present."""
    for name in ("e03_centroid_assign", "e05_kmeans"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "Window" not in plan, f"{name}: window argmin crept back\n{plan[:2000]}"
        assert "partial_min" in plan or "partial min" in plan.lower(), name


def test_e04_routing_has_no_window(spark, sf_dir):
    """e04's cell routing must be per-row array arithmetic over the
    one-row broadcast centroid array (VERDICT r04 #5) — no Window
    operator anywhere except the single final per-query top-k, and no
    shuffle of the n_vectors x n_cells scored set (the only allowed
    nested-loop is the 1-row centroid-array broadcast)."""
    plan = _plan(QUERIES["e04_ivf_knn"](spark, sf_dir))
    win_ops = [ln for ln in plan.splitlines() if "Window [" in ln and "GroupLimit" not in ln]
    assert len(win_ops) == 1, f"expected only the final top-k window:\n{win_ops}"
    assert "qid" in win_ops[0], win_ops[0]
    # routing rides the 1-row centroid-array cross join
    assert "BroadcastNestedLoopJoin" in plan and "Cross" in plan
    assert "array_sort" in plan


def test_d13_decontam_broadcasts_benchmark_side(spark, sf_dir):
    """Decontamination must broadcast the benchmark n-gram set (small by
    construction at any corpus size) so the exploded training windows
    never shuffle; the per-doc count is the only wide stage."""
    plan = _plan(QUERIES["d13_benchmark_decontam"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "BatchEvalPython" not in plan


def test_t14_blocklist_broadcasts_list_side(spark, sf_dir):
    """Domain blocklists are megabytes at any corpus size — the list
    side must broadcast and page rows must never shuffle for the
    verdict."""
    plan = _plan(QUERIES["t14_blocklist_filter"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_t15_canonicalize_single_exchange(spark, sf_dir):
    """URL canonicalization is pure column expressions; the per-canonical
    count is the only exchange and it carries partial-agg'd rows."""
    plan = _plan(QUERIES["t15_url_canonicalize"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan


def test_p04_mix_broadcasts_weights(spark, sf_dir):
    """The mixture-weights config joins broadcast; the audit agg is the
    only exchange."""
    plan = _plan(QUERIES["p04_domain_mix"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # one SHUFFLE exchange (the audit agg); the broadcast's own
    # BroadcastExchange doesn't move page rows
    assert plan.count("Exchange hashpartitioning") == 1


def test_t16_classifier_broadcasts_weights_and_combines(spark, sf_dir):
    """The model weight table broadcasts; the per-doc logit accumulation
    must be an integer partial aggregate (map-side combined), never a
    float sum whose reduce order could perturb the score."""
    plan = _plan(QUERIES["t16_quality_classifier"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan


def test_p05_funnel_composition_stays_scale_shaped(spark, sf_dir):
    """Composing four verdicts must not introduce a cartesian pairing or
    row-wise Python; the decontam stage keeps its broadcast."""
    plan = _plan(QUERIES["p05_curation_funnel"](spark, sf_dir))
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_t17_lm_model_is_takeordered_and_broadcast(spark, sf_dir):
    """The pruned-LM build must plan the global top-K as
    TakeOrderedAndProject (per-partition partial top-K, no full-sort
    exchange of the distinct-bigram table), and scoring must join the
    K-row model via broadcast with an integer partial aggregate —
    reduce-order-free, like t16."""
    plan = _plan(QUERIES["t17_lm_likelihood"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan
    assert "BatchEvalPython" not in plan


def test_p07_order_windows_are_bucketed(spark, sf_dir):
    """The training-order rank must never window over a whole source:
    every corpus-sized Window partitions by (epoch, source, bucket); the
    only coarser windows run on the dimension tables (bucket-offset
    cumsum over epochs x sources x buckets rows, source-index over
    distinct sources). Offsets and the source dim join back via
    broadcast."""
    df = QUERIES["p07_training_order"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    win_ops = [ln for ln in plan.splitlines() if "Window [" in ln]
    # corpus-sized windows are the ones ranking doc rows (they reference
    # doc_id); dim windows (offset cumsum, source index) never do
    corpus_wins = [ln for ln in win_ops if "doc_id" in ln]
    assert corpus_wins, "expected a per-bucket rank window"
    bad = [ln for ln in corpus_wins if "bucket" not in ln]
    assert not bad, f"corpus-sized window without bucket key:\n{bad}"


def test_p08_dsir_scoring_is_broadcast_and_fold_only(spark, sf_dir):
    """p08's scoring join must broadcast the B-row ratio table (never
    shuffle the exploded gram stream on the bucket key), the 1-row
    totals/max folds ride BroadcastNestedLoopJoin, and no Window or
    row-wise Python appears anywhere."""
    from ocr_spark.operators.curation import importance_resample
    from ocr_spark.sources.io import load_table

    # barrier=False exposes the full logical plan (the gate path
    # localCheckpoints the reused intermediates, hiding the upstream
    # stages behind LogicalRDD scans)
    plan = _plan(
        importance_resample(load_table(spark, sf_dir, "documents"), barrier=False)
    )
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_p09_threshold_window_rides_count_table(spark, sf_dir):
    """p09's tercile window must run over the compressed
    (lang, lm_mills) count table — every Window in the plan sits above
    a HashAggregate, never directly on the corpus scan — and the
    threshold/model joins broadcast."""
    plan = _plan(QUERIES["p09_perplexity_buckets"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    # the one Exchange feeding the Window carries the count-table key
    win_lines = [ln for ln in plan.splitlines() if "Window" in ln and "lm_mills" in ln]
    assert win_lines, "expected the tercile window keyed on lm_mills"


def test_d15_boilerplate_set_broadcasts_back(spark, sf_dir):
    """d15's removal verdict must come from a broadcast of the
    cap-filtered boilerplate set (the segment stream reshuffles only
    for the frequency count and the per-doc rebuild), with no Window
    and no row-wise Python."""
    plan = _plan(QUERIES["d15_segment_dedup"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_d14_semdedup_is_window_free_and_cell_bounded(spark, sf_dir):
    """d14's assignment must ride the e04 routing (per-row argmin over
    the one-row broadcast centroid array — no Window, no exchange of
    the n x k scored set); the only corpus-sized exchange is the
    within-cell self-join, and no row-wise Python appears anywhere."""
    plan = _plan(QUERIES["d14_semantic_dedup"](spark, sf_dir))
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row centroid fold
