"""Physical-plan guards: the scale properties the engine is designed
around — filter pushdown into the parquet scan, column pruning, dim
broadcasts, and no duplicate fact scans — asserted on real plans so a
refactor that silently loses them fails here, not at 100 TB."""

from __future__ import annotations

import re

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()


def _plan(spark, sf_dir, name: str) -> str:
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushes_shipdate_filter(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert "PushedFilters: [" in plan
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan), (
        "l_shipdate filter must reach the parquet scan"
    )


def test_top_products_prunes_and_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_products_by_revenue")
    assert "BroadcastHashJoin" in plan  # part is a broadcast dim
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in scan"
    # the widest scan reads only the join/agg columns, never full lineitem
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert "l_comment" not in read_cols and "l_shipinstruct" not in read_cols


def test_jsonb_adhoc_pushes_user_filter(spark, sf_dir):
    plan = _plan(spark, sf_dir, "jsonb_adhoc")
    assert "PushedFilters: [" in plan


def test_bucketed_silver_read_prunes_partitions(spark, tmp_path):
    """The bucketed-upsert read side must PARTITION-PRUNE to the
    touched buckets — the property that makes per-trigger work
    O(touched) instead of O(table) at scale."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(f"c{i}", f"c{i}@x.com") for i in range(40)], "customer_id string, email string"
    ).withColumn("bucket", F.pmod(F.xxhash64("customer_id"), F.lit(16)).cast("int"))
    path = str(tmp_path / "silver")
    df.write.partitionBy("bucket").parquet(path)
    plan = (
        spark.read.parquet(path)
        .filter(F.col("bucket").isin([0, 1]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1), (
        "bucket filter must prune partitions, not post-filter rows:\n" + plan
    )


def test_single_fact_scan_queries(spark, sf_dir):
    """Queries rewritten to single-scan form must stay single-scan."""
    for name, table in [
        ("docs_exact_dedup", "documents"),
        ("dedup_lineitem_latest", "lineitem"),
        ("throughput_per_topic", "events"),
    ]:
        plan = _plan(spark, sf_dir, name)
        n = len(re.findall(rf"{table}\.parquet", plan))
        assert n == 1, f"{name}: {table} scanned {n}× (expected 1)"
    plan = _plan(spark, sf_dir, "set_ops_actors")
    for table in ("orders", "events"):
        n = len(re.findall(rf"{table}\.parquet", plan))
        assert n == 1, f"set_ops_actors: {table} scanned {n}× (expected 1)"


def test_asof_attribution_single_shuffle_no_join(spark, sf_dir):
    """The as-of join's whole point: ONE exchange on the key + a window
    — no join operator anywhere (the naive inequality join is quadratic
    per key), and the event_type filters reach the scans."""
    plan = _plan(spark, sf_dir, "events_asof_attribution")
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert re.search(r"PushedFilters: \[[^\]]*event_type", plan)


def test_range_attribution_equi_join_only(spark, sf_dir):
    """The range join must plan as an equi hash/sort-merge join on
    (bucket, key) — never a nested-loop/cartesian over the inequality."""
    plan = _plan(spark, sf_dir, "events_range_attribution")
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert re.search(r"PushedFilters: \[[^\]]*event_type", plan)


def test_vocab_top_terms_is_takeordered(spark, sf_dir):
    """Top-k must be TakeOrdered(AndProject), not a global sort."""
    plan = _plan(spark, sf_dir, "vocab_top_terms")
    assert "TakeOrdered" in plan, plan


def test_bm25_single_text_scan_and_takeordered(spark, sf_dir):
    """BM25 reads the corpus text exactly once (the materialized base
    projection feeds stats/postings/df — 0 parquet re-scans in the
    final plan) and its top-k is TakeOrdered, not a global sort."""
    plan = _plan(spark, sf_dir, "docs_bm25_search")
    assert plan.count("FileScan parquet") == 0, plan
    assert "TakeOrdered" in plan, plan


def test_stratified_sample_single_scan(spark, sf_dir):
    """The sampling summary is one scan of documents — the keep flag is
    a conditional aggregate, not a second pass."""
    plan = _plan(spark, sf_dir, "docs_stratified_sample")
    assert plan.count("FileScan parquet") == 1, plan


def test_pq_adc_broadcasts_and_no_cartesian(spark, sf_dir):
    """The PQ paths must never plan a cartesian/nested-loop join: the
    codebook and the per-query LUT are broadcast sides, the code scan
    is an equi-join. Applies to both the flat ADC scan and the
    composite IVF-PQ plan."""
    for name in ("emb_knn_pq", "emb_knn_ivfpq"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name + "\n" + plan
        assert "BroadcastNestedLoopJoin" not in plan, name + "\n" + plan
        assert "BroadcastHashJoin" in plan, name + "\n" + plan


def test_unigram_surprisal_is_takeordered(spark, sf_dir):
    """Top-20-by-surprisal must plan as TakeOrdered, not a global
    sort of every document."""
    plan = _plan(spark, sf_dir, "docs_unigram_surprisal")
    assert "TakeOrdered" in plan, plan


def test_session_window_batch_single_shuffle(spark, sf_dir):
    """Batch session_window compiles to ONE exchange on the user key —
    the same shuffle shape as the gap-lag form (no extra stage for the
    session merge)."""
    plan = _plan(spark, sf_dir, "sessionization_session_window")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_mm_decode_prunes_to_id_column(spark, sf_dir):
    """The synthesize→decode pipelines build payloads from doc_id alone
    — every variant's scan must prune to doc_id, never drag text/source
    into the Arrow passes."""
    for name in ("mm_decode_image_stats", "mm_resize_stats", "mm_audio_stats"):
        plan = _plan(spark, sf_dir, name)
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, name + "\n" + plan
        read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert read_cols == {"doc_id"}, (name, read_cols)


def test_mixture_weights_single_scan(spark, sf_dir):
    """All budget arithmetic rides the tiny per-source aggregate — one
    scan of documents, and the 1-row total attaches via broadcast, not
    a second pass."""
    plan = _plan(spark, sf_dir, "docs_mixture_weights")
    assert plan.count("FileScan parquet") == 1, plan


def test_duplicate_spans_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "docs_duplicate_spans")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_sliding_window_single_scan_single_shuffle(spark, sf_dir):
    """Hopping windows must come from the window() EXPLODE (2 structs
    per row pre-shuffle) — one events scan, one partial-agg exchange,
    never a self-join or range join against a window table."""
    plan = _plan(spark, sf_dir, "events_sliding_window")
    assert "Join" not in plan, plan
    n = len(re.findall(r"events\.parquet", plan))
    assert n == 1, f"events scanned {n}× (expected 1)"
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bigram_surprisal_broadcasts_and_takeordered(spark, sf_dir):
    """Count tables join broadcast (vocabulary-sized), top-k is
    TakeOrdered — no global sort, no shuffle join in the scoring path."""
    plan = _plan(spark, sf_dir, "docs_bigram_surprisal")
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_semdedup_no_cartesian_and_broadcast_centroids(spark, sf_dir):
    """The pair compare must be an equi-join on the cell id (the whole
    point of SemDeDup) and centroid tables ride broadcasts — no
    cartesian/nested-loop anywhere in train→assign→compare."""
    plan = _plan(spark, sf_dir, "emb_semdedup")
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bpe_encode_corpus_pass_broadcasts_vocab(spark, sf_dir):
    """Encoding must factor through the vocabulary: the corpus explode
    joins the (word → n_units) table via BROADCAST — never a shuffle
    join keyed on the corpus, never a per-document merge replay."""
    plan = _plan(spark, sf_dir, "docs_bpe_encode")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_persisted_ivf_prunes_cell_partitions(spark, sf_dir):
    """Serving from the persisted index must read ONLY the probed
    cells — since the r12 rewire via CELL-DIRECTORY SEEKS: every index
    scan is a direct ``cell=<id>`` directory open off the manifest
    (the inverted-file seek property that makes probes
    O(n_probe/n_centroids) of the index at any scale, now WITHOUT the
    n_centroids-linear partition-discovery pass — so no
    PartitionFilters remain: each scan IS one directory)."""
    plan = _plan(spark, sf_dir, "emb_knn_ivf_persisted")
    assert len(re.findall(r"cell%3D|cell=", plan)) >= 2, plan[:900]
    assert not re.search(r"PartitionFilters: \[[^\]]*cell", plan), plan[:900]


def test_salted_join_spreads_key_and_no_cartesian(spark, sf_dir):
    """The salted join must plan as an equi-join whose key includes
    the salt column (8-way spread of each hot key) with no cartesian
    fallback — and the salt must exist on BOTH shuffle sides."""
    plan = _plan(spark, sf_dir, "events_by_segment_salted")
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan
    assert "_salt" in plan, plan


def test_chunk_overlap_has_no_shuffle(spark, sf_dir):
    """Chunking must ride the scan: narrow map + generator only — any
    Exchange means someone added an accidental shuffle to a pass that
    emits ~n_tokens/stride rows straight off 100 TB of input."""
    plan = _plan(spark, sf_dir, "docs_chunk_overlap")
    body = plan.split("AdaptiveSparkPlan")[-1]
    # the only allowed Exchange is the driver-hash orderBy at the root
    assert body.count("Exchange") <= 1, body


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """The A-Res k-sample must be TakeOrdered (per-partition heaps +
    driver merge of k), never a global Sort of the corpus."""
    plan = _plan(spark, sf_dir, "docs_weighted_sample")
    assert "TakeOrderedAndProject" in plan, plan


def test_training_order_windows_are_sharded(spark, sf_dir):
    """The global-shuffle realization must never fall back to a
    single-partition window over the corpus: every Window node's
    partition spec is non-empty EXCEPT the 8-row shard-offset cumsum
    (whose input is the 8-row counts agg, not the corpus)."""
    df = QUERIES["docs_training_order"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    lines = [ln for ln in plan.splitlines() if "Window" in ln]
    corpus_windows = [ln for ln in lines if "shard_pos" in ln]
    assert corpus_windows, plan
    for ln in corpus_windows:
        assert "windowspecdefinition(shard" in ln, ln


def test_editdist_is_equi_join_not_cartesian(spark, sf_dir):
    """Fuzzy-dup candidate generation must stay an inverted-index
    equi-join on (segment_idx, segment) — an accidental cartesian or
    broadcast-nested-loop here is the all-pairs regression the blocker
    exists to prevent."""
    plan = _plan(spark, sf_dir, "docs_neardup_editdist")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )


def test_pagerank_no_cartesian_and_single_edge_build(spark, sf_dir):
    """Each propagation round is an equi-join against the edge list;
    the only crossJoins are the 1-row N broadcasts."""
    plan = _plan(spark, sf_dir, "parts_copurchase_pagerank")
    assert "CartesianProduct" not in plan
    # 1-row scalar attachments appear as BroadcastNestedLoopJoin over
    # a 1-row side — allowed; a non-broadcast NLJ is not.
    assert "NestedLoopJoin" not in plan.replace("BroadcastNestedLoopJoin", "")


def test_pagerank_edge_table_never_reshuffled(spark, sf_dir):
    """The static edge table is pre-partitioned by src ONCE (fused into
    the checkpoint); per-round joins must reuse that partitioning — the
    executed plan may exchange the node-sized rank table, but never the
    edge table. A regression here means the graph moves every round at
    100 TB instead of the ranks."""
    plan = _plan(spark, sf_dir, "parts_copurchase_pagerank")
    assert not re.search(r"Exchange hashpartitioning\(_u", plan), (
        "edge-side exchange found: the pre-partitioned edge table is "
        "being re-shuffled inside the iteration"
    )


def test_zorder_write_uses_range_exchange(spark, sf_dir):
    """The clustering write must range-partition on the curve key
    (contiguous curve segments per file) — a hash exchange would
    scatter the curve and void the per-file span tightness."""
    from ecommerce_realtime_pipeline_spark.catalog import load_table
    from ecommerce_realtime_pipeline_spark.operators.layout import with_zorder_key

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    keyed = with_zorder_key(events, ["user_id", "value"]).repartitionByRange(8, "_z")
    plan = keyed._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()


def test_heavy_hitters_recount_is_broadcast_filtered(spark, sf_dir):
    """The exact recount must reach the scan through a BROADCAST
    semi-join of the tiny MG candidate set — a shuffled join here
    means the full-cardinality shuffle the operator exists to avoid."""
    plan = _plan(spark, sf_dir, "events_heavy_hitters_mg")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_text_index_serve_prunes_token_partitions(spark, sf_dir, tmp_path):
    """The persisted inverted text index must serve queries through
    PARTITION FILTERS on the token directories — |query terms| dirs
    read per segment out of |vocab|, the columnar posting-list seek
    (the keyword twin of the IVF cell-pruning pin). Pinned across the
    manifest layout: EVERY segment scan in the union must carry the
    token PartitionFilters."""
    from pyspark.sql import functions as F

    from ecommerce_realtime_pipeline_spark.catalog import load_table
    from ecommerce_realtime_pipeline_spark.operators.text import (
        merge_text_index,
        read_text_index,
        write_text_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "tindex")
    write_text_index(docs.filter(F.col("doc_id") % 2 == 0), path)
    merge_text_index(docs.filter(F.col("doc_id") % 2 == 1), path)
    postings, _, _ = read_text_index(spark, path)
    plan = (
        postings.filter(F.col("token").isin("spark", "join", "stream"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert len(filters) == 2, plan[:800]  # one scan per segment
    for f in filters:
        assert "token" in f, plan[:800]


def test_distinctive_terms_broadcasts_margins_single_scan(spark, sf_dir):
    """One token explode feeds the pinned count table; every margin
    (per-source totals, vocab margins, 1-row corpus total) aggregates
    THAT and rides a broadcast — the corpus parquet is never re-scanned
    in the final plan (it was 4 scans before the checkpoint)."""
    plan = _plan(spark, sf_dir, "docs_distinctive_terms")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2
    assert plan.count("documents.parquet") == 0, plan


def test_source_overlap_matrix_single_corpus_pass(spark, sf_dir):
    """sizes + both self-join sides read the PINNED shingle table —
    zero corpus re-scans (and zero repeat Arrow shingle passes) in the
    final plan."""
    plan = _plan(spark, sf_dir, "docs_source_overlap_matrix")
    assert plan.count("documents.parquet") == 0, plan


def test_source_overlap_matrix_equi_join_not_cartesian(spark, sf_dir):
    """Candidate generation is an inverted-index equi-join on the
    shingle hash — never an all-pairs product."""
    plan = _plan(spark, sf_dir, "docs_source_overlap_matrix")
    assert "CartesianProduct" not in plan
    assert "NestedLoopJoin" not in plan.replace("BroadcastNestedLoopJoin", "")


def test_label_outliers_broadcasts_sum_table(spark, sf_dir):
    """The (label × dim) component-sum table joins back by BROADCAST;
    no cartesian anywhere; the final cut is TakeOrdered (no global
    sort)."""
    plan = _plan(spark, sf_dir, "emb_label_outliers")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_hard_negatives_no_cartesian_label_filter_present(spark, sf_dir):
    plan = _plan(spark, sf_dir, "emb_hard_negatives")
    assert "CartesianProduct" not in plan
    assert "NestedLoopJoin" not in plan.replace("BroadcastNestedLoopJoin", "")


def test_shipping_priority_pushes_both_date_filters(spark, sf_dir):
    """Both date predicates must reach their parquet scans; the top-10
    is TakeOrdered; no cartesian anywhere."""
    plan = _plan(spark, sf_dir, "shipping_priority")
    assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", plan), plan
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan), plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_returned_items_aggregates_before_decoration(spark, sf_dir):
    """The returnflag filter reaches the lineitem scan, the nation dim
    broadcasts, and the final cut is TakeOrdered."""
    plan = _plan(spark, sf_dir, "returned_items_report")
    assert re.search(r"PushedFilters: \[[^\]]*l_returnflag", plan), plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_market_share_single_lineitem_scan_all_dims_broadcast(spark, sf_dir):
    """One lineitem scan; the share is a conditional aggregate over the
    same shuffle (no second scan, no post-aggregation join). Supplier
    carries NO hint (unfiltered, scale-linear — a hard hint is an OOM
    at 100×); the EXECUTED adaptive plan must show AQE still promoted
    it to broadcast at this size, i.e. all three dim joins broadcast
    at runtime."""
    df = QUERIES["nation_market_share"](spark, sf_dir)
    initial = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"lineitem\.parquet", initial)) == 1, initial
    assert "CartesianProduct" not in initial
    df.collect()  # finalize the adaptive plan
    final = df._jdf.queryExecution().executedPlan().toString()
    assert final.count("BroadcastHashJoin") >= 3, final


def test_promo_share_pushes_year_filter(spark, sf_dir):
    plan = _plan(spark, sf_dir, "promo_revenue_share")
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan), plan
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1, plan
    assert "BroadcastHashJoin" in plan


def test_priority_fulfillment_semi_join_pushed_date(spark, sf_dir):
    """Lateness is a LEFT SEMI equi-join with the date comparison as a
    residual — no cartesian/nested-loop; the order-date window reaches
    the orders scan."""
    plan = _plan(spark, sf_dir, "order_priority_fulfillment")
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan
    assert "NestedLoopJoin" not in plan.replace("BroadcastNestedLoopJoin", "")
    assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", plan), plan


def test_rfm_segments_no_global_window(spark, sf_dir):
    """The round-5 de-weak: RFM quintile scoring must NOT run a
    single-reducer global-sort window (ntile over an unpartitioned
    Window) — scores come from literal boundary comparisons; the only
    windows anywhere in the job are the bin-partitioned boundary
    extractions inside exact_rank_rows_twopass, which never appear in
    this final plan at all."""
    plan = _plan(spark, sf_dir, "customer_rfm_segments")
    assert "Window" not in plan, plan
    assert "ntile" not in plan, plan


def test_order_distribution_aggregates_before_join(spark, sf_dir):
    """Q13 shape: one orders scan + one customer scan, histogram built
    on the aggregated (customer-cardinality) side — never a correlated
    per-customer subquery or cartesian."""
    plan = _plan(spark, sf_dir, "customer_order_distribution")
    assert len(re.findall(r"orders\.parquet", plan)) == 1, plan
    assert len(re.findall(r"customer\.parquet", plan)) == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_large_orders_filters_before_decoration(spark, sf_dir):
    """Q18 shape: the quantity HAVING shrinks the per-order aggregate
    before the orders/customer joins; top-20 is TakeOrdered."""
    plan = _plan(spark, sf_dir, "large_order_customers")
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dormant_balance_anti_join_pushed_date(spark, sf_dir):
    """Q22 shape: dormancy is a LEFT ANTI equi-join, the order-date
    filter reaches the orders scan, the 1-row threshold aggregate
    attaches via broadcast (no per-row subquery)."""
    plan = _plan(spark, sf_dir, "dormant_customer_balance")
    assert "LeftAnti" in plan, plan
    assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_supplier_hhi_single_scan_no_window(spark, sf_dir):
    """Q11-flavor concentration: one lineitem scan, supplier join on
    the aggregated (supplier-cardinality) side, no global window, no
    cartesian."""
    plan = _plan(spark, sf_dir, "nation_supplier_hhi")
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cluster_quality_broadcast_assignment_no_cartesian(spark, sf_dir):
    """The extra assignment pass joins the (k·dim)-row centroid table
    as a broadcast hash join; the only nested-loop is the 1-row
    scalar-total attach (crossJoin(broadcast(1-row)) — the standard
    scalar pattern), never an unbounded cartesian."""
    plan = _plan(spark, sf_dir, "emb_cluster_quality")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_curriculum_order_no_global_window(spark, sf_dir):
    """Stage assignment is literal boundary comparisons (the RFM
    de-weak pattern) — the final plan carries no window at all."""
    plan = _plan(spark, sf_dir, "docs_curriculum_order")
    assert "Window" not in plan, plan
    assert "ntile" not in plan, plan


def test_vocab_coverage_single_corpus_pass_bounded_cut(spark, sf_dir):
    """The count table is checkpointed (0 parquet scans in the final
    plan — corpus tokenized exactly once) and the ordered cut is
    TakeOrdered of a bounded frame, not a global vocab sort."""
    plan = _plan(spark, sf_dir, "vocab_coverage")
    assert plan.count("FileScan parquet") == 0, plan
    assert "TakeOrdered" in plan, plan


def test_trade_flows_filtered_dims_single_fact_scan(spark, sf_dir):
    """Q7 shape: one lineitem scan; the 2-row filtered nation dim
    broadcasts into supplier/customer before they touch the fact; no
    cartesian."""
    plan = _plan(spark, sf_dir, "nation_trade_flows")
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_top_supplier_argmax_pushed_quarter(spark, sf_dir):
    """Q15 shape: the quarter filter reaches the lineitem scan; the
    max attaches as a 1-row broadcast (no self-join of the full view,
    no window)."""
    plan = _plan(spark, sf_dir, "top_supplier_quarter")
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan), plan
    assert "Window" not in plan, plan
    assert len(re.findall(r"lineitem\.parquet", plan)) <= 2, plan


def test_discount_impact_all_filters_pushed(spark, sf_dir):
    """Q6 shape: every predicate (date range, discount band, quantity)
    reaches the parquet scan; single scan, no join."""
    plan = _plan(spark, sf_dir, "discount_revenue_impact")
    # toString TRUNCATES a long PushedFilters list (no closing bracket)
    # — assert per-column on the list's prefix instead
    pushed = re.search(r"PushedFilters: \[[^\n]*", plan)
    assert pushed, plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed.group(0), (col, pushed.group(0))
    assert "Join" not in plan, plan


def test_dedup_yield_curve_single_pair_pass(spark, sf_dir):
    """The yield curve reuses ONE inverted-index pair pass; the
    threshold attach is a bounded 5-row broadcast — never a cartesian
    over docs, never a second shingle join."""
    plan = _plan(spark, sf_dir, "docs_dedup_yield_curve")
    assert "CartesianProduct" not in plan, plan
    assert len(re.findall(r"documents\.parquet", plan)) <= 2, plan


def test_zipf_fit_bounded_frame(spark, sf_dir):
    """The OLS reduction runs over a TakeOrdered-bounded 1000-row
    frame off the checkpointed vocab (0 parquet re-scans)."""
    plan = _plan(spark, sf_dir, "docs_zipf_fit")
    assert plan.count("FileScan parquet") == 0, plan
    assert "TakeOrdered" in plan, plan


def test_recall_vs_probes_no_cartesian_semi_joins(spark, sf_dir):
    """Four probe variants share the memoized posting lists; every
    hit-count is a LEFT SEMI equi-join on (query_id, neighbor_id) —
    no cartesian anywhere in the union."""
    plan = _plan(spark, sf_dir, "emb_recall_vs_probes")
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan, plan


def test_yoy_growth_window_is_partitioned(spark, sf_dir):
    """The LAG window must be PARTITIONED by nation (parallel at any
    nation count) — never an unpartitioned global-order window — and
    it runs over the |nations x years| aggregate, after both scans."""
    plan = _plan(spark, sf_dir, "nation_yoy_growth")
    assert re.search(r"Window .*lag", plan), plan
    # the exchange feeding the window partitions by n_name, not a
    # single-partition exchange
    assert "Exchange SinglePartition" not in plan.split("Window")[0], plan


def test_cheapest_supplier_broadcasts_filtered_part_single_fact_scan(spark, sf_dir):
    """Q2 shape: the size/type-filtered part dim broadcasts into the
    fact BEFORE the per-part window min; the fact is scanned once (the
    window replaces the correlated-subquery self-join)."""
    plan = _plan(spark, sf_dir, "cheapest_supplier_per_part")
    assert "BroadcastHashJoin" in plan, plan
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_product_profit_pushes_name_filter(spark, sf_dir):
    """Q9 shape: the p_name LIKE filter reaches the part scan; one
    lineitem scan feeds the whole profit rollup."""
    plan = _plan(spark, sf_dir, "product_profit_by_nation_year")
    assert re.search(r"PushedFilters: \[[^\]]*p_name", plan), plan
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1, plan


def test_small_quantity_single_scan_window_replaces_subquery(spark, sf_dir):
    """Q17 shape: ONE brand-pruned fact scan; the per-part 0.2×avg
    threshold is a window over the same shuffle, not a second scan +
    join."""
    plan = _plan(spark, sf_dir, "small_quantity_revenue")
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1, plan
    assert "Window" in plan, plan


def test_disjunctive_predicate_derives_side_filters(spark, sf_dir):
    """Q19 shape: constraint propagation must derive single-side
    residuals from the OR-of-ANDs — the part scan carries a pushed
    brand/size filter and the lineitem scan a quantity filter, so
    neither side is scanned un-pruned."""
    plan = _plan(spark, sf_dir, "disjunctive_promo_revenue")
    assert re.search(r"PushedFilters: \[[^\]]*p_brand", plan), plan
    assert re.search(r"PushedFilters: \[[^\]]*l_quantity", plan), plan
    assert "CartesianProduct" not in plan, plan


def test_excess_volume_partial_agg_before_window(spark, sf_dir):
    """Q20 shape: the (part,supplier) rollup runs BEFORE the per-part
    window, so the window sees |part×supp| rows, not raw lines; the
    ship-year filter is pushed to the scan."""
    plan = _plan(spark, sf_dir, "excess_volume_suppliers")
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan), plan
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1, plan
    assert "Window" in plan, plan


def test_waiting_orders_single_fact_scan_takeordered(spark, sf_dir):
    """Q21 shape: the EXISTS/NOT-EXISTS pair compiles to one
    (order,supplier) partial agg + per-order window — one lineitem
    scan, one orders scan, TakeOrdered top-20."""
    plan = _plan(spark, sf_dir, "waiting_orders_suppliers")
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1, plan
    assert len(re.findall(r"orders\.parquet", plan)) == 1, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_supplier_diversity_broadcast_anti_join(spark, sf_dir):
    """Q16 shape: the negative-balance exclusion is a broadcast LEFT
    ANTI join (never a shuffled NOT IN), and the acctbal filter is
    pushed to the supplier scan."""
    plan = _plan(spark, sf_dir, "supplier_part_diversity")
    assert re.search(r"BroadcastHashJoin[^\n]*LeftAnti", plan), plan
    assert re.search(r"PushedFilters: \[[^\]]*s_acctbal", plan), plan


def test_delay_split_pushes_shipdate(spark, sf_dir):
    """Q12 shape: the ship-year filter reaches the fact scan; the
    2-bucket conditional agg is partial-agg (both counts ride one
    shuffle)."""
    plan = _plan(spark, sf_dir, "shipping_delay_priority_split")
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan), plan
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1, plan


def test_triangles_all_equi_joins_no_cartesian(spark, sf_dir):
    """Triangle counting must close wedges with hash EQUI-joins on the
    oriented edge list — no cartesian product; the only nested-loop
    join allowed is the final 1-row × 1-row scalar attach. The
    checkpointed edge build must appear ONCE (the three join legs read
    the materialization, not three basket-join replays)."""
    plan = _plan(spark, sf_dir, "parts_copurchase_triangles")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert len(re.findall(r"lineitem\.parquet", plan)) == 0, (
        "edge build must be checkpointed, not replayed from the scan"
    )


def test_seasonality_window_over_aggregate_only(spark, sf_dir):
    """The ordered trend window must consume the |months|-row
    aggregate, never the raw fact: one orders scan, and the plan's
    HashAggregate sits BELOW the Window operator."""
    plan = _plan(spark, sf_dir, "revenue_seasonality")
    assert len(re.findall(r"orders\.parquet", plan)) == 1, plan
    assert "Window" in plan, plan
    # the window's child chain contains the month aggregate
    win_pos = plan.index("Window")
    assert "HashAggregate" in plan[win_pos:], (
        "month aggregate must feed the window, not the raw scan"
    )


def test_markov_walk_reads_checkpoints_not_fact(spark, sf_dir):
    """The 6-step × 5-scenario walk must reference the checkpointed
    |types|²-sized matrix/vector — zero events scans in the final
    plan (without the checkpoints every step's lineage replayed the
    user-window pass over the fact)."""
    plan = _plan(spark, sf_dir, "events_markov_attribution")
    assert len(re.findall(r"events\.parquet", plan)) == 0, plan
    assert "CartesianProduct" not in plan, plan


def test_graph_beam_no_cartesian_bounded_scans(spark, sf_dir):
    """Beam search is equi-joins against the checkpointed kNN graph +
    broadcast query vectors — no cartesian/nested-loop join anywhere."""
    plan = _plan(spark, sf_dir, "emb_knn_graph_beam")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # final rerank derives from the visited set's own _cos (max over
    # duplicate sightings) — re-adding a third score() pass shows up
    # as extra corpus scans (20 before the fix, 17 after)
    assert len(re.findall(r"embeddings\.parquet", plan)) <= 17, (
        "graph-beam rerank re-joined the corpus"
    )


def test_skew_report_scalar_branches_read_checkpoint(spark, sf_dir):
    """The stats/p50/p99 scalar branches must read the checkpointed
    |distinct load values| histogram — zero events scans in the final
    plan (the unpartitioned window inside is bounded by the histogram,
    never key cardinality)."""
    plan = _plan(spark, sf_dir, "events_key_skew_report")
    assert len(re.findall(r"events\.parquet", plan)) == 0, plan


def test_tombstoned_index_keeps_pruning_and_broadcasts_antijoin(spark, tmp_path):
    """Live tombstones must not cost the index its seek property: with
    deletes pending compaction, (a) term filters still prune token
    partitions on every SEGMENT scan, (b) the live-docs mask plans as
    a BROADCAST anti-join (the tombstone set is bounded by
    deletes-since-compaction — a sort-merge anti-join would shuffle
    the postings corpus), and (c) the bulk-token DPP path still fires
    through the anti-join."""
    from pyspark.sql import functions as F

    from ecommerce_realtime_pipeline_spark.operators.text import (
        delete_from_text_index,
        merge_text_index,
        read_postings_for_tokens,
        read_text_index,
        write_text_index,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 40} common", "en", "s", 10) for i in range(200)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = str(tmp_path / "idx")
    write_text_index(docs.filter(F.col("doc_id") % 2 == 0), path)
    merge_text_index(docs.filter(F.col("doc_id") % 2 == 1), path)
    delete_from_text_index(
        spark.createDataFrame([(4,), (5,)], "doc_id long"), path
    )
    postings, _, _ = read_text_index(spark, path)
    plan = (
        postings.filter(F.col("token").isin("tok1", "tok2"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    seg_filters = [
        f
        for f in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        if f.strip()  # tombstone file scans carry no partitions
    ]
    assert len(seg_filters) == 2 and all("token" in f for f in seg_filters), plan[:900]
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:900]
    assert "SortMergeJoin" not in plan, plan[:900]
    dt = spark.createDataFrame([("tok1",), ("tok2",)], "token string").distinct()
    plan2 = (
        read_postings_for_tokens(spark, path, dt)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    dpp = [
        f
        for f in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan2)
        if "dynamicpruning" in f
    ]
    assert len(dpp) == 2, plan2[:900]


def test_tombstoned_ivf_serving_keeps_pruning_and_broadcasts_antijoin(
    spark, tmp_path
):
    """The IVF twin of the tombstoned-text pin, on the FULL serving
    path (`knn_ivf_from_index` with deletes pending compaction):
    (a) probed cells still land as PartitionFilters on every segment
    scan, (b) the live-docs mask plans as a BROADCAST anti-join (the
    tombstone set is bounded by deletes-since-compaction; a sort-merge
    anti-join would shuffle the cell corpus), and (c) no SortMergeJoin
    anywhere in the serving plan."""
    from pyspark.sql import functions as F

    from ecommerce_realtime_pipeline_spark.operators import similarity as SIM

    def mk(ids):
        return spark.createDataFrame(
            [
                (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)], 0)
                for i in ids
            ],
            "vec_id long, embedding array<float>, label int",
        )

    path = str(tmp_path / "ivf")
    SIM.write_ivf_index(mk(range(0, 60, 2)), path, n_centroids=4)
    SIM.merge_ivf_index(mk(range(1, 60, 2)), path)
    SIM.delete_from_ivf_index(
        spark.createDataFrame([(3,), (7,)], "vec_id long"), path
    )
    served = SIM.knn_ivf_from_index(spark, path, mk([100]), k=3, n_probe=2)
    # r12 seek rewire: the index is read through DIRECT cell=<id>
    # directory scans bounded by n_probe(2) x segments(2) — never the
    # full 4-cell plane (inputFiles carries the untruncated paths the
    # plan string would cut)
    cell_dirs = {
        re.sub(r"/[^/]*$", "", f)
        for f in served.inputFiles()
        if "/cell=" in f
    }
    assert 1 <= len(cell_dirs) <= 4, cell_dirs
    plan = served._jdf.queryExecution().executedPlan().toString()
    # no PartitionFilters anywhere: nothing is left to prune
    assert not [
        f
        for f in re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        if f.strip()
    ], plan[:900]
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:900]
    assert "SortMergeJoin" not in plan, plan[:900]


def test_ivf_health_report_reads_zero_data_columns(spark, sf_dir):
    """The occupancy health report must cost index METADATA, not
    vector I/O: counting rows per cell prunes every data column (the
    inline vectors are the index's bulk), so each segment FileScan
    shows ReadSchema: struct<> with only the cell partition key."""
    from ecommerce_realtime_pipeline_spark.plans import ann

    plan = (
        ann.emb_ivf_index_health(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scans = re.findall(r"FileScan parquet \[[^\]]*\][^\n]*ReadSchema: (\S+)", plan)
    ivf_scans = [s for s in scans if s.startswith("struct")]
    assert ivf_scans and all(s == "struct<>" for s in ivf_scans), plan[:900]


def test_bulk_token_read_uses_dpp_not_in_literal(spark, tmp_path):
    """The bulk-token index read (DataFrame-valued term sets:
    decontamination lists, backfill audits) must prune token
    partitions via DYNAMIC PARTITION PRUNING from the broadcast term
    set — never an isin(<collected tokens>) In-literal, which at a
    10⁵-10⁶-token set is a plan-size/driver bottleneck. Pins
    dynamicpruningexpression in EVERY segment scan's PartitionFilters
    (the load-bearing length(token)>=0 build-side predicate — see
    read_postings_for_tokens) and the absence of any token
    In-literal."""
    from pyspark.sql import functions as F

    from ecommerce_realtime_pipeline_spark.operators.text import (
        merge_text_index,
        read_postings_for_tokens,
        write_text_index,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 40} common", "en", "s", 10) for i in range(200)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = str(tmp_path / "idx")
    write_text_index(docs.filter(F.col("doc_id") % 2 == 0), path)
    merge_text_index(docs.filter(F.col("doc_id") % 2 == 1), path)
    delta_tokens = spark.createDataFrame(
        [("tok1",), ("tok2",), ("tok3",)], "token string"
    ).distinct()
    plan = (
        read_postings_for_tokens(spark, path, delta_tokens)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert len(filters) == 2, plan  # one scan per segment
    for f in filters:
        assert "dynamicpruning" in f, plan
    assert not re.search(r"token#\d+ IN \(tok", plan), plan
