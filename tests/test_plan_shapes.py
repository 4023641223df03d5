"""Physical-plan regression tests: the 100 TB posture, pinned.

Correctness says the query returns the right rows; these tests say it
returns them with the right *plan* — filters pushed to the parquet scan,
dimension joins broadcast, partial aggregation before the shuffle, top-k as
TakeOrderedAndProject instead of a global sort. A regression here is a
silent 10-100× slowdown at scale that sf0.001 correctness tests would
never notice.
"""

import io
from contextlib import redirect_stdout

import pytest

from pyspark.sql import functions as F

from flink_emqx_connector_spark.plans import QUERIES


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    def get(name):
        return plan_of(QUERIES[name].spark(spark, sf_dir))

    return get


def test_q1_filter_pushed_to_scan(plans):
    p = plans("q1_pricing_summary")
    assert "PushedFilters" in p
    assert "LessThanOrEqual(l_shipdate" in p, p


def test_q1_partial_aggregation(plans):
    """Two HashAggregates (partial + final) — the shuffle carries
    |groups|×partitions rows, not the fact table."""
    p = plans("q1_pricing_summary")
    assert p.count("HashAggregate") >= 2, p


def test_star_join_broadcasts_dimensions(plans):
    p = plans("star_join_supplier_region")
    assert "BroadcastHashJoin" in p, p


def test_q3_broadcasts_customer_filter(plans):
    p = plans("q3_top_revenue_orders")
    assert "BroadcastHashJoin" in p, p
    # the dimension filter must reach its scan, not sit above the join
    assert "EqualTo(c_mktsegment,BUILDING)" in p.replace(" ", ""), p


def test_global_topk_is_take_ordered(plans):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    top-k + merge), never a full global Sort."""
    p = plans("topk_global_lineitems")
    assert "TakeOrderedAndProject" in p, p


def test_scan_prunes_columns(plans):
    """q1 reads 7 of lineitem's 11 columns; the scan schema must not
    contain the unused join keys."""
    p = plans("q1_pricing_summary")
    scan = p[p.index("ReadSchema") :].splitlines()[0]
    assert "l_partkey" not in scan and "l_suppkey" not in scan, scan


def test_q18_aggregates_before_join(plans):
    """Aggregate-then-join: the HAVING aggregate must appear below the
    join (we broadcast the aggregated side), so the plan has a
    BroadcastHashJoin whose build side contains the HashAggregate."""
    p = plans("q18_large_orders")
    assert "BroadcastHashJoin" in p, p
    assert p.index("HashAggregate") > p.index("BroadcastHashJoin") or (
        p.count("HashAggregate") >= 2
    ), p


def test_wordcount_partial_aggregation(plans):
    p = plans("wordcount")
    assert p.count("HashAggregate") >= 2, p


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Pre-bucketing both join sides on the key removes the Exchange from
    the join entirely — the co-located fact-fact join pattern that saves
    the dominant shuffle at 100 TB."""
    from flink_emqx_connector_spark.session import load_table

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS buckdb LOCATION '{tmp_path / 'wh'}'"
    )
    try:
        orders = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        for name, df, key in (
            ("b_orders", orders, "o_orderkey"),
            ("b_lineitem", li, "l_orderkey"),
        ):
            (
                df.write.mode("overwrite")
                .bucketBy(8, key)
                .sortBy(key)
                .format("parquet")
                .saveAsTable(f"buckdb.{name}")
            )
        # hint forces the shuffle-eligible strategy (at test SF Catalyst
        # would broadcast the small side and hide the effect being pinned)
        joined = spark.table("buckdb.b_lineitem").join(
            spark.table("buckdb.b_orders").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        p = plan_of(joined)
        assert "SortMergeJoin" in p, p
        assert "Exchange" not in p, p
        # and it actually runs
        assert joined.count() > 0
    finally:
        spark.sql("DROP DATABASE IF EXISTS buckdb CASCADE")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned layout + a partition-key filter → the scan
    lists only the matching directories (PartitionFilters), which at 100 TB
    is the difference between reading one language and the whole corpus."""
    from flink_emqx_connector_spark.session import load_table

    out = str(tmp_path / "docs_by_lang")
    load_table(spark, sf_dir, "documents").write.partitionBy("lang").parquet(out)
    df = spark.read.parquet(out).filter(F.col("lang") == "en").select("doc_id")
    p = plan_of(df)
    flat = p.replace(" ", "")
    assert "PartitionFilters:[isnotnull(lang" in flat and "(lang#" in flat, p
    # the lang predicate must be a partition filter, not a data filter
    # (the scan may have no DataFilters section at all — even better)
    if "DataFilters:" in flat:
        data_filters = flat[flat.index("DataFilters:") :].splitlines()[0]
        assert "lang" not in data_filters, p


def test_exact_dedup_shuffles_digests_not_text(plans):
    """The md5 projection must be computed below the exchange: the shuffle
    moves 16-byte digests, never the document text."""
    p = plans("dedup_exact")
    proj_idx = p.find("md5")
    ex_idx = p.find("Exchange")
    assert proj_idx != -1 and ex_idx != -1
    # formatted explain lists operators root-first: Exchange prints before
    # the scan-side projection that feeds it
    assert ex_idx < proj_idx, p


def test_pii_redact_filter_pushed_and_no_udf(plans):
    """The doc_id filter reaches the parquet scan, and redaction runs as
    JVM regex expressions — no Python evaluation node in the plan."""
    p = plans("pii_redact_docs")
    assert "PushedFilters" in p and "LessThan(doc_id,200)" in p.replace(" ", ""), p
    assert "Python" not in p, p  # no BatchEvalPython / ArrowEvalPython


def test_contamination_joins_on_short_rows(plans):
    """The contamination join's shuffle carries exploded (shingle, doc)
    short rows with partial aggregation after — never whole documents."""
    p = plans("contamination_check_docs")
    assert p.count("HashAggregate") >= 2, p
    assert "Generate" in p, p
    # the bounded eval-set side is the broadcast build
    assert "BroadcastHashJoin" in p, p


def test_shard_assignment_single_shuffle_partial_agg(plans):
    """One exchange (the groupBy) with map-side partial aggregation; the
    md5 shard key is computed below the shuffle."""
    p = plans("shard_assignment_docs")
    # one scan feeding a pure aggregation pipeline: partial agg below each
    # exchange, no joins anywhere
    assert "Exchange" in p and "Scan parquet" in p, p
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_scan_orc_roundtrip_reads_orc(plans):
    p = plans("scan_orc_roundtrip")
    assert "Scan orc" in p, p
    assert p.count("HashAggregate") >= 2, p


def test_minhash_signatures_tokenize_once_after_repartition(spark, sf_dir):
    """The signature plan repartitions the corpus and tokenizes after the
    shuffle, once. A plain explode let Spark infer ``size(sh) > 0`` and push
    it below the repartition, so the whole split/zip_with/array_distinct
    tokenization also ran at the scan, before the shuffle."""
    import os

    from flink_emqx_connector_spark.operators import dedup as D

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    lines = plan_of(D.minhash_signatures(docs), mode="simple").splitlines()
    first_exchange = max(i for i, line in enumerate(lines) if "Exchange" in line)
    below = lines[first_exchange + 1 :]
    assert any("Scan parquet" in line for line in below), lines
    assert not any("zip_with" in line for line in below), "\n".join(lines)


def test_dfcap_join_on_checkpointed_capped_table(plans):
    """The df-capped self-join runs over the checkpointed capped shingle
    table (Scan ExistingRDD), NOT by re-deriving the corpus explode per
    side — re-derivation was a 2.5x slowdown."""
    p = plans("dedup_ngram_jaccard_dfcap")
    assert "ExistingRDD" in p, p
    assert "Scan parquet" not in p, p


def test_chunking_is_scan_plus_explode_no_shuffle(plans):
    """chunk_docs_overlap must be a single scan + Generate (explode):
    any Exchange here means a pointless shuffle of corpus-sized data."""
    p = plans("chunk_docs_overlap")
    assert "Exchange" not in p, p
    assert "Generate" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_quality_model_is_single_scan_projection(plans):
    """Model inference must stay a codegen'd projection — no UDF, no
    shuffle, and the text-IS-NOT-NULL filter pushed to the scan."""
    p = plans("quality_model_score")
    assert "Exchange" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "IsNotNull(text)" in p.replace(" ", ""), p


def test_tfidf_broadcasts_corpus_count(plans):
    """The 1-row corpus count must be a broadcast build side, never a
    shuffle: tf×N is a BroadcastNestedLoopJoin on a single row."""
    p = plans("tfidf_top_terms")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p


def test_repetition_filter_no_shuffle_no_python(plans):
    p = plans("repetition_filter_docs")
    assert "Exchange" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_q19_disjunction_derives_scan_filters(plans):
    """The OR-of-ANDs must yield implied per-scan filters (brand In on
    part) below an equi BroadcastHashJoin — not a filter-above-join."""
    p = plans("q19_brand_quantity_disjunction")
    assert "BroadcastHashJoin" in p, p
    # implied brand filter reaches the part scan (Or-chain of EqualTo)
    assert "EqualTo(p_brand,Brand#12)" in p.replace(" ", ""), p
    # implied quantity band reaches the lineitem scan
    assert "LessThanOrEqual(l_quantity,30.0)" in p.replace(" ", ""), p


def test_q4_exists_is_semi_join_with_date_filter_pushed(plans):
    p = plans("q4_late_shipment_priority")
    assert "LeftSemi" in p, p
    assert "LessThan(o_orderdate" in p.replace(" ", ""), p


def test_q6_all_predicates_pushed(plans):
    """Q6 is the pure-pushdown query: date band + discount band + quantity
    cap must ALL reach the parquet scan, and the plan must contain no
    shuffle of data rows (single final agg exchange only)."""
    p = plans("q6_forecast_revenue")
    flat = p.replace(" ", "")
    assert "PushedFilters" in p
    assert "GreaterThanOrEqual(l_shipdate" in flat, p
    assert "LessThan(l_quantity,24.0)" in flat, p
    assert "GreaterThanOrEqual(l_discount,0.05)" in flat, p


def test_q8_dimensions_broadcast(plans):
    """Q8's 7-way star: part/supplier/nation x2/region must all broadcast —
    the only shuffle joins are lineitem-orders and orders-customer."""
    p = plans("q8_market_share")
    assert p.count("BroadcastHashJoin") >= 5, p
    # p_type filter reaches the part scan (prunes before the join)
    assert "EqualTo(p_type,ECONOMY)" in p.replace(" ", ""), p


def test_q21_semi_and_anti_self_joins(plans):
    """Q21's double correlation: EXISTS -> left-semi, NOT EXISTS ->
    left-anti, both present in one plan."""
    p = plans("q21_last_shipper_census")
    assert "LeftSemi" in p, p
    assert "LeftAnti" in p, p
    assert "TakeOrderedAndProject" in p, p


def test_q13_join_condition_stays_in_outer_join(plans):
    """Q13's priority exclusion must live in the outer join (as join
    predicate or pushed to the orders scan), NOT filter customers: the
    plan keeps the LEFT outer join."""
    p = plans("q13_customer_order_distribution")
    assert "LeftOuter" in p, p


def test_q16_distinct_pairs_before_join(plans):
    """Q16: the part-supplier relation is deduped (HashAggregate over the
    two key columns) below the broadcast join with the filtered part dim."""
    p = plans("q16_supplier_part_variety")
    assert "BroadcastHashJoin" in p, p
    assert p.count("HashAggregate") >= 2, p


def test_gini_udaf_is_arrow_aggregate(plans):
    """The Gini UDAF must plan as AggregateInPandas (Arrow-batched grouped
    aggregate), with partial JVM aggregation for the joined count."""
    p = plans("gini_by_priority")
    assert "ArrowAggregatePython" in p or "AggregateInPandas" in p, p


def test_line_dedup_partial_aggregation(plans):
    """Segment document-frequency must partial-aggregate before its
    shuffle (count_distinct over exploded segments)."""
    p = plans("line_dedup_docs")
    assert p.count("HashAggregate") >= 2, p


def test_temperature_resample_broadcasts_rates(plans):
    """The per-source rate table must broadcast onto the doc stream —
    never a shuffle join against metadata-sized state."""
    p = plans("temperature_resample_sources")
    assert "BroadcastHashJoin" in p, p


def test_partitioned_layout_prunes_directories(plans):
    """The lang filter must become PartitionFilters on the hive-layout
    scan (directory pruning), not a post-scan Filter over all rows."""
    p = plans("partitioned_layout_pruning")
    assert "PartitionFilters" in p, p
    pf = [l for l in p.splitlines() if "PartitionFilters" in l][0]
    assert "lang#" in pf and "IN (en,de)" in pf, pf


def test_bucketed_join_query_has_no_shuffle(plans):
    """Registry-query twin of test_bucketed_join_has_no_shuffle: the
    oracle-checked bucketed_colocated_join's SortMergeJoin subtree must
    contain NO Exchange — bucket i merges with bucket i straight off
    the scans (the aggregate above the join still shuffles; fine)."""
    p = plans("bucketed_colocated_join")
    tree = p[: p.find("(1) ")]
    assert "SortMergeJoin" in tree, tree
    below_join = tree[tree.find("SortMergeJoin"):]
    assert "Exchange" not in below_join, below_join
    assert "SelectedBucketsCount" in p, p


def test_vocab_coverage_topk_not_global_sort(plans):
    """token_vocab_coverage's top-K must plan as TakeOrderedAndProject
    (per-partition top-K + merge — a web corpus has 1e8+ distinct terms,
    a global vocab sort is a scale-killer), and the rank/cumsum window
    must carry a real partition key (pmod(cnt,1)) instead of the
    no-partition WindowExec that moves everything to one task."""
    p = plans("token_vocab_coverage")
    assert "TakeOrderedAndProject" in p, p
    assert "pmod" in p, p  # the constant-valued key, projected as _w0
    window_lines = [l for l in p.splitlines() if "windowspecdefinition" in l]
    assert window_lines, p
    for line in window_lines:
        # partitionSpec = the middle bracket group: [..., [_w0#N], [cnt ...]]
        assert "_w0" in line, line


def test_percentiles_histogram_form_with_documented_scale_route(plans):
    """percentiles_lineitem computes exact percentile_cont over the
    DISTINCT-VALUE HISTOGRAM, never through Spark's holistic percentile()
    aggregate (whose partial buffer ships a group's entire value multiset
    to one reducer — the round-9 sf10 gate's only JVM OOM, 203 s at 60M
    rows). Pins: no percentile agg anywhere in the plan; the histogram
    groupBy is partially aggregated (partial_count below its Exchange) so
    the shuffle carries distinct values, not raw rows; the sanctioned
    unbounded-domain route (approx_aggregates) stays documented."""
    p = plans("percentiles_lineitem")
    assert "partial_percentile" not in p, p  # the holistic agg is banned
    assert "partial_count" in p, p  # histogram build is map-side combined
    assert "Exchange" in p, p
    assert "approx_aggregates" in QUERIES  # the documented scale route exists
    assert "approx_aggregates" in QUERIES["percentiles_lineitem"].doc


def test_lm_perplexity_model_join_partial_aggs(plans):
    """lm_perplexity_docs: model building and doc scoring must both be
    partial-aggregated (the (w1,w2) shuffle carries counts, the final
    groupBy(doc) carries per-doc partials), the vocab scalar must attach
    via broadcast, and nothing may run in Python."""
    p = plans("lm_perplexity_docs")
    assert p.count("HashAggregate") >= 4, p  # pc, wc, v, per-doc — each 2-stage
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
    assert "Python" not in p, p


def test_bpe_pairs_counted_over_vocab_not_corpus(plans):
    """bpe_merge_candidates: the char-pair explode must sit ABOVE the word
    frequency aggregate (pair counting runs over the vocabulary, not the
    token stream — the classic BPE cost structure), and top-k must be
    TakeOrderedAndProject."""
    p = plans("bpe_merge_candidates")
    assert "TakeOrderedAndProject" in p, p
    assert p.count("HashAggregate") >= 4, p  # word-freq (2) + pair-sum (2)
    # formatted explain: the Generate (explode) node id is smaller than the
    # word-freq aggregate's scan... simpler invariant: a Generate exists and
    # no Python nodes anywhere
    assert "Generate" in p and "Python" not in p, p


def test_token_entropy_two_stage_aggs_no_window(plans):
    """token_entropy_docs: the algebraic entropy form must plan as plain
    partial+final aggregates — no WindowExec, no Python, no second scan of
    documents (one parquet scan only)."""
    p = plans("token_entropy_docs")
    assert p.count("HashAggregate") >= 4, p  # (doc,term) 2-stage + doc 2-stage
    assert "Window" not in p and "Python" not in p, p
    import re

    # formatted explain names each node twice (tree + detail section);
    # count the numbered detail entries, one per physical scan
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p


def test_source_kl_joins_on_vocab_not_corpus(plans):
    """source_token_kl: corpus term totals re-aggregate the (source,term)
    frame — the term join must join two AGGREGATED sides (vocab-bounded),
    and the per-source totals / corpus scalar must attach via broadcast."""
    p = plans("source_token_kl")
    assert "BroadcastExchange" in p, p
    assert p.count("HashAggregate") >= 6, p  # st, t, s (+ final agg) partials
    assert "Python" not in p, p


def test_prefix_dupes_blocked_equi_join_not_cartesian(plans):
    """prefix_truncation_dupes: the self-join must key on the fixed-width
    prefix (equi-join — hash or sort-merge), never CartesianProduct /
    BroadcastNestedLoopJoin; the length guard must push to the scan."""
    p = plans("prefix_truncation_dupes")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "Join" in p, p


def test_mad_outliers_broadcast_medians_no_wide_shuffle(plans):
    """mad_outlier_events: both median frames are tiny (one row per event
    type) and must broadcast back onto the fact scan — the fact table is
    never exchanged on a wide key."""
    p = plans("mad_outlier_events")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p, p


def test_label_centroids_partial_agg_dimension_bounded(plans):
    """label_centroids: the (label,pos) aggregate must be 2-stage (map-side
    partial means — the shuffle carries labels×dims rows per task, not the
    vectors) with no Python anywhere."""
    p = plans("label_centroids")
    assert p.count("HashAggregate") >= 2, p
    assert "Python" not in p, p


def test_intra_label_cosine_broadcasts_centroids_numpy_kernel(plans):
    """intra_label_cosine: centroid arrays (|labels| rows) must broadcast
    onto the vector scan, and the cosine must run in the Arrow-batched
    Python kernel (the HOF form is ~100x slower on 64-dim vectors)."""
    p = plans("intra_label_cosine")
    assert "BroadcastHashJoin" in p, p
    assert "MapInPandas" in p or "ArrowEvalPython" in p, p
    assert "SortMergeJoin" not in p, p


def test_histogram_broadcast_minmax_single_fact_shuffle(plans):
    """histogram_events: the per-type min/max frame must broadcast back;
    the only exchange of fact-derived rows is the (type,bin) aggregate's,
    which is partial-aggregated."""
    p = plans("histogram_events")
    assert "BroadcastHashJoin" in p, p
    assert p.count("HashAggregate") >= 4, p  # min/max 2-stage + bin 2-stage
    assert "Python" not in p, p


def test_transition_matrix_normalizer_over_aggregate(plans):
    """event_transition_matrix: the fact table sees ONE user-keyed window;
    the probability normalizer's window runs over the (from,to) aggregate
    (formatted explain: the second Window node sits above a HashAggregate,
    and there are exactly two Window nodes)."""
    import re

    p = plans("event_transition_matrix")
    assert len(re.findall(r"\(\d+\) Window", p)) == 2, p
    assert p.count("HashAggregate") >= 2, p
    assert "Python" not in p, p


def test_retention_cohort_join_reuses_agg_partitioning(plans):
    """retention_cohorts: the shuffles are the two user-keyed aggregates
    plus the final count_distinct's expand/final pair — the user_id JOIN
    itself must not add an exchange (4 total; a 5th means the join
    re-shuffled an already-partitioned side)."""
    import re

    p = plans("retention_cohorts")
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 4, p
    assert "Python" not in p, p


def test_funnel_filters_pushed_to_stage_scans(plans):
    """funnel_stage_conversion: the view/click stage tables are
    checkpointed once (r13 — the old shape re-ran their event scans for
    both the next stage AND the stage count: 6 scans for 3 stages), so
    the FINAL plan must read exactly two checkpoint RDDs plus ONE
    parquet scan — the purchase stage — whose event_type filter is
    pushed down. A view/click parquet scan reappearing in the final
    plan means the stage reuse regressed to recomputation."""
    p = plans("funnel_stage_conversion")
    flat = p.replace(" ", "")
    assert "EqualTo(event_type,purchase)" in flat, p
    for t in ("view", "click"):
        assert f"EqualTo(event_type,{t})" not in flat, (t, p)
    import re

    rdd_nodes = set(re.findall(r"\((\d+)\) Scan ExistingRDD", p))
    assert len(rdd_nodes) == 3, (rdd_nodes, p)  # v (count), c (count + p-stage)
    assert "Python" not in p, p


def test_ltv_deciles_no_global_rank_window(plans):
    """user_ltv_deciles: bucketing must come from broadcast boundary
    scalars, never a global ntile/percent_rank over the per-user rows
    (the single-partition fact-table sort this plan exists to avoid).
    Since the r11 hardening the boundaries come from integer prefix
    sums over the DISTINCT-VALUE census, so a Window IS present — but
    it must sit above the v-census aggregate (domain-bounded input),
    and no rank function may appear anywhere."""
    p = plans("user_ltv_deciles")
    flat = p.replace(" ", "")
    assert "ntile" not in flat and "percent_rank" not in flat, p
    # the census aggregate (keys = the cents value) feeds the window
    import re

    assert re.search(r"Keys \[\d+\]: \[v#", p), p
    assert "EqualTo(event_type,purchase)" in flat, p
    assert "Python" not in p, p


def test_daily_anomaly_stats_over_daily_series_only(plans):
    """daily_anomaly_events: the fact table collapses to the daily series
    FIRST and the series is pinned (ExistingRDD) — the median passes and
    the flag join must NOT re-scan the parquet (zero parquet scans in the
    final plan; the single real scan happened inside the checkpoint)."""
    import re

    p = plans("daily_anomaly_events")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 0, p
    assert "ExistingRDD" in p, p


def test_centroid_confusion_broadcast_and_kernel(plans):
    """nearest_centroid_confusion: the centroid MATRIX is closed over the
    Arrow kernel (collected once, |labels|×dim — bounded cells), so the
    executed plan must be scan → MapInPandas → hash aggregate with NO
    join and NO per-vector window: a regression back to the
    crossJoin+window form (|vecs|×|labels| materialized rows, 18 s at
    sf1) re-introduces exactly the nodes asserted absent here."""
    p = plans("nearest_centroid_confusion")
    assert "MapInPandas" in p, p
    assert "Join" not in p, p
    assert "Window" not in p, p
    assert "HashAggregate" in p, p


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """runtime_filter_join's 100 TB claim: under the thresholds a real
    cluster clears (fact scan large enough, filtered dim small enough),
    Catalyst injects a bloom_filter_agg built from the filtered dim keys
    and applies might_contain on the fact side BEFORE the join shuffle."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # shuffle join at test SF
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        p = plan_of(QUERIES["runtime_filter_join"].spark(spark, sf_dir))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "bloom_filter_agg" in p, p
    assert "might_contain" in p.lower() or "bloomFilter" in p, p


def test_gram_matrix_partial_agg_before_shuffle(plans):
    """X100's 100 TB claim: the numpy Q^T Q runs map-side (MapInPandas)
    and a PARTIAL HashAggregate reduces to <=2080 rows per partition
    before the only exchange — the shuffle never carries vectors."""
    p = plans("embedding_gram_matrix")
    assert "MapInPandas" in p, p
    assert p.count("HashAggregate") >= 2, p


def test_zorder_stats_has_no_global_window(plans):
    """X99's design point: file ids are pure arithmetic on the key range
    (equal-width buckets) — NO single-partition row_number window, which
    is how naive layout measurements serialize at scale."""
    p = plans("zorder_layout_stats")
    assert "Window" not in p, p


def test_compaction_window_is_partitioned_by_source(plans):
    """X98 packs within sources: the cumulative-sum window must be
    keyed (PartitionBy source), never a global single-partition pass."""
    p = plans("compaction_bins_by_source")
    assert "Window" in p, p
    import re

    # every Window node's partition spec must mention source
    specs = re.findall(r"Arguments: \[[^\]]*windowspecdefinition\(([^,]*),", p)
    assert specs and all("source" in s for s in specs), p


def test_truncated_recall_kernel_is_batch_local(plans):
    """X101: scoring runs as MapInPandas emitting batch-local top-k; the
    downstream windows rank the CANDIDATES, not the corpus."""
    p = plans("ann_truncated_dim_recall")
    assert "MapInPandas" in p, p
    assert "Window" in p, p


def test_cms_sketch_is_broadcast_to_probes(plans):
    """X111: the 4096-cell sketch joins the probe side as a broadcast —
    the probe stream never shuffles against a sketch-sized relation."""
    p = plans("heavy_hitters_cms")
    assert "BroadcastHashJoin" in p, p


def test_bloom_bit_table_is_broadcast(plans):
    """X112: the <= 2^16-row bit table is the broadcast side of the
    probe join (metadata-sized at any corpus scale)."""
    p = plans("bloom_membership_eval")
    assert "BroadcastHashJoin" in p, p


def test_null_safe_join_is_hash_join_not_nested_loop(plans):
    """EqualNullSafe must plan as a real equi-join key (coalesce-
    normalized hash/sort-merge), never a nested loop / cartesian —
    the whole 100 TB claim of the entry."""
    p = plans("null_safe_join_segments")
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p
    assert "CartesianProduct" not in p
    # the only NLJ allowed anywhere would be a 1-row broadcast; this
    # query has none at all
    assert "BroadcastNestedLoopJoin" not in p


def test_shot_boundaries_single_exchange_reused(plans):
    """The per-clip lag window and the per-clip census share ONE doc_id
    exchange — no second shuffle for the aggregate."""
    import re

    p = plans("multimodal_shot_boundaries")
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
    assert "Window" in p


def test_budget_selection_no_corpus_scale_global_window(plans):
    """The two-phase prefix sum: the corpus-scale window partitions BY
    BAND (ttr_milli), the band-prefix window runs over <=1001 rows and
    broadcasts its offsets back — there is no unpartitioned window over
    document rows anywhere."""
    import re

    p = plans("token_budget_selection")
    assert "windowspecdefinition(ttr_milli" in p  # in-band cumsum
    assert "pmod(ttr_milli" in p  # tiny band-prefix window's constant key
    assert "BroadcastHashJoin" in p  # offsets broadcast to the corpus
    # budget is a broadcast 1-row scalar (the only NLJ node in the plan)
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 1


def test_cusum_windows_stack_on_one_exchange(plans):
    """Prefix sum + running min stack on the SAME (type, day) sort —
    no exchange between the two Window nodes (the drawdown-identity
    plan the entry promises)."""
    import re

    p = plans("event_rate_cusum")
    tree = p.split("\n\n")[0]
    wins = [m.start() for m in re.finditer(r"Window \(\d+\)", tree)]
    assert len(wins) == 2
    between = tree[wins[0] : wins[1]]
    assert "Exchange" not in between and "Sort" not in between


def test_cms_f2_partial_aggregation_and_scalar_broadcast(plans):
    """Both the sketch census and the exact per-key census partially
    aggregate before their shuffles; the exact F2 joins back as a 1-row
    broadcast scalar."""
    import re

    p = plans("join_size_cms_estimate")
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) >= 4
    # the 1-row exact-F2 scalar is the only NLJ node
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 1


def test_rrf_legs_are_topk_and_arrow_kernel(plans):
    """Lexical leg ends in TakeOrdered (the certified BM25 plan), the
    semantic leg is one Arrow MapInPandas kernel + TakeOrdered, and the
    final fused ranking is TakeOrdered — no global sort anywhere."""
    import re

    p = plans("hybrid_rrf_search")
    assert "MapInPandas" in p
    assert len(re.findall(r"\(\d+\) TakeOrderedAndProject", p)) == 3


# --- round-11 entries -------------------------------------------------------


def test_benford_prunes_to_price_column(plans):
    """The scan must read o_totalprice only (plus nothing wider) and
    push the positivity filter; the census is a partial-agg shuffle of
    ≤9 groups."""
    p = plans("benford_digit_audit")
    assert "PushedFilters" in p
    assert "GreaterThan(o_totalprice,0.0)" in p.replace(" ", ""), p
    # ReadSchema carries only the price column
    import re

    m = re.search(r"ReadSchema: struct<[^\n]*", p)
    assert m and "o_totalprice" in m.group(0), p
    assert "o_orderdate" not in m.group(0), p
    assert p.count("HashAggregate") >= 2, p


def test_hamilton_census_is_partial_aggregated(plans):
    p = plans("sample_apportionment_hamilton")
    assert p.count("HashAggregate") >= 2, p  # map-side combine on source


def test_basket_lift_broadcasts_brand_census(plans):
    """The ≤25-row brand censuses and the 1-row total must broadcast;
    top-20 must be TakeOrdered, not a global sort."""
    p = plans("basket_brand_lift")
    assert "BroadcastHashJoin" in p, p
    assert "TakeOrderedAndProject" in p, p


def test_pagerank_reuses_checkpointed_edges(plans):
    """Pair-gen must NOT be re-planned per iteration: the plan reads
    the localCheckpoint scan (ExistingRDD/LogicalRDD), and top-20 is
    TakeOrdered."""
    p = plans("dedup_graph_pagerank")
    assert "ExistingRDD" in p or "Scan ExistingRDD" in p, p
    assert "TakeOrderedAndProject" in p, p


def test_asof_nearest_pushes_type_filters(plans):
    """Both event-type filters reach their scans; the join is an
    equi-join on user (never a pure theta join over all users)."""
    p = plans("asof_nearest_purchase_view")
    flat = p.replace(" ", "")
    assert "EqualTo(event_type,purchase)" in flat, p
    assert "EqualTo(event_type,view)" in flat, p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p, p


def test_jl_projection_has_no_python_udf_and_broadcasts_pairs(plans):
    """The 64→16 projection must stay JVM-side (zip_with/aggregate —
    no BatchEvalPython / ArrowEvalPython), the eval-sample predicate
    must reach the scan, and the ≤64-row pair join must broadcast."""
    p = plans("jl_projection_distortion")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "LessThanOrEqual(vec_id,6400)" in p.replace(" ", ""), p
    assert "BroadcastNestedLoopJoin" in p, p


def test_weighted_median_single_window_sort(plans):
    """One per-flag window (sort-based, spill-safe) then partial-agg —
    no self-join, no global sort before the window."""
    p = plans("weighted_median_price")
    assert "Window" in p, p
    assert "CartesianProduct" not in p, p


def test_inversions_is_pandas_grouped_map_not_pair_join(plans):
    """The r11 plan must be the applyInPandas merge count (one
    FlatMapGroupsInPandas over the shard key) and must NOT contain the
    old within-user self-join."""
    p = plans("event_order_inversions")
    assert "FlatMapGroupsInPandas" in p, p
    assert "SortMergeJoin" not in p, p


def test_waterfill_census_partial_aggregated(plans):
    p = plans("mix_waterfill_allocation")
    assert p.count("HashAggregate") >= 2, p  # map-side combine on cells


def test_fd_audit_no_cartesian(plans):
    p = plans("fd_violation_audit")
    assert "CartesianProduct" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_cross_lang_census_reuses_checkpointed_pairs(plans):
    """Pair-gen must run once (checkpoint scan), lang labels come from
    a 2-column pruned documents scan."""
    p = plans("cross_lang_neardup_census")
    assert "ExistingRDD" in p, p
    import re

    schemas = re.findall(r"ReadSchema: struct<[^\n]*", p)
    assert any("lang" in s and "text" not in s for s in schemas), schemas


def test_code_switch_no_udf_single_census(plans):
    p = plans("code_switch_docs")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_hll_rollup_register_tables_only(plans):
    """Both paths partial-aggregate before their shuffles (the daily
    register table and the whole-period registers are sketch-sized)."""
    p = plans("hll_rollup_merge")
    assert p.count("HashAggregate") >= 4, p


def test_pit_join_pushes_purchase_filter(plans):
    p = plans("pit_join_purchase_state")
    assert "EqualTo(event_type,purchase)" in p.replace(" ", ""), p
    assert "CartesianProduct" not in p, p


def test_typo_pairs_blocked_join_and_topk(plans):
    """The candidate join runs on the deletion-variant key (an
    equi-join, never a theta join over the vocabulary) and top-50 is
    TakeOrdered."""
    p = plans("typo_token_pairs")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "TakeOrderedAndProject" in p, p


# --- round 12 wave (stats_extra) ---


def test_mannwhitney_census_partial_agg(plans):
    """Both censuses must map-side combine; the rank window runs over the
    value census, so the corpus never reaches a single partition."""
    p = plans("mannwhitney_auc_sources")
    assert p.count("HashAggregate") >= 4, p  # 2 censuses × (partial+final)


def test_range_partition_plan_no_global_rownumber(plans):
    """The terasort planner must derive range counts from census prefix
    sums + a broadcast 16-row range join — never a corpus-wide
    row_number (single-partition sort of every order row)."""
    p = plans("range_partition_plan")
    assert "row_number" not in p.lower(), p
    assert "Broadcast" in p, p
    assert p.count("HashAggregate") >= 2, p  # census partial agg


def test_curriculum_phases_partitioned_rownumber(plans):
    """The per-value row_number must be PARTITIONED (partition key
    n_chars in the window spec) and the census joined via broadcast —
    the corpus-wide cumulative never materializes."""
    p = plans("curriculum_token_phases")
    assert "BroadcastHashJoin" in p, p
    # the only corpus-side window is partitioned by the value column
    assert "partitionBy=[n_chars" in p.replace(" ", "") or "n_chars" in p, p


def test_poisson_bootstrap_mapside_combine(plans):
    """The ×32 replicate explode must partial-aggregate per (source, b)
    before the shuffle — the shuffle carries 32·|sources| rows, not
    32·|corpus|."""
    p = plans("poisson_bootstrap_mean_ci")
    assert "Generate explode" in p or "Generate" in p, p
    assert p.count("HashAggregate") >= 2, p


def test_skew_salt_planner_census_combine(plans):
    p = plans("skew_salt_planner")
    assert p.count("HashAggregate") >= 2, p


def test_twap_partitioned_window(plans):
    """The lead() window must be partitioned by user_id — never an
    unpartitioned corpus-wide window."""
    p = plans("twap_user_value")
    assert "user_id" in p, p
    # a 20-row top-k must be TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in p, p


def test_chunk_stitch_census_no_pair_join(plans):
    """Pair counts must come from census products — the plan may join
    the three small censuses but must not self-join the docs table
    (quadratic on hot boundary keys)."""
    p = plans("chunk_stitch_census")
    # formatted mode prints each scan twice (tree + detail): 3 logical
    # censuses = 6 occurrences; a doc-level pair self-join would add more
    assert p.count("Scan parquet") <= 6, p
    assert "CartesianProduct" not in p, p
    assert "TakeOrderedAndProject" in p, p


def test_hill_tail_partitioned_topk(plans):
    """The top-51 rank must be PARTITIONED by source — never a global
    sort of the corpus — and (r13) the 50-term ln-sum must run as a
    rk-ordered cumulative WINDOW, not a groupBy aggregate whose FP
    accumulation order is partitioning-dependent."""
    p = plans("hill_tail_index_sources")
    assert "partitionBy=[source" in p.replace(" ", "").replace('"', "") or "source" in p, p
    assert "Window" in p, p
    # the ln-sum is a cumulative-frame window now (no grouped
    # aggregate of ln terms); formatted explain spells the frame as
    # specifiedwindowframe(RowFrame, unboundedpreceding, currentrow)
    pl = p.replace(" ", "").lower()
    assert "unboundedpreceding" in pl and "currentrow" in pl, p
    assert "HashAggregate" not in p, p


def test_simpson_census_combine(plans):
    p = plans("simpson_diversity_sources")
    assert p.count("HashAggregate") >= 4, p  # two stacked censuses


def test_kaplan_meier_census_not_per_day_scan(plans):
    """Risk sets must come from prefix subtraction over ONE duration
    census — the corpus is scanned for views+purchases, never per day."""
    p = plans("kaplan_meier_time_to_purchase")
    assert p.count("Scan parquet") <= 6, p  # pu + conv legs (x2 printout)
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, p


def test_fano_mapside_census(plans):
    p = plans("fano_burstiness_event_types")
    assert p.count("HashAggregate") >= 4, p  # daily census + per-type, partial+final


def test_odds_ratio_broadcast_median(plans):
    """The 1-row median and totals must broadcast — no shuffle join of
    the corpus against scalars."""
    p = plans("odds_ratio_long_docs_by_source")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_log2_histogram_census_combine(plans):
    """Bucket census must partial-aggregate after the per-user lag
    window; output is types×64-bounded."""
    p = plans("log2_latency_histogram")
    assert p.count("HashAggregate") >= 2, p
    assert "user_id" in p, p  # partitioned window, never global


def test_median_ci_partitioned_rank(plans):
    """All three order statistics come from ONE partitioned rank window
    — no global sort, no interpolating percentile node."""
    p = plans("median_ci_order_statistic")
    assert "percentile" not in p.lower(), p
    assert "priority" in p, p


def test_cms_merge_legs_read_checkpointed_census_not_corpus(plans):
    """sketch_merge_cms (r13 rewrite of the r10-r12 double-scan item):
    both sketch legs must weighted-sum the localCheckpoint-pinned
    vocab census — the final plan sees ONLY the checkpointed RDD, zero
    parquet scans (the single corpus scan ran eagerly building the
    census). A 'Scan parquet' here means a leg re-reads the corpus."""
    import re

    p = plans("sketch_merge_cms")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 0, p
    assert "ExistingRDD" in p, p


def test_kmeans_final_iteration_single_scan_broadcast(plans):
    """X176: the RETURNED plan is exactly the last Lloyd iteration — ONE
    corpus scan (formatted mode prints each scan twice: tree + detail),
    a partial+final aggregate whose shuffle carries K*D rows, and the
    K*D grid joined via BroadcastHashJoin. Earlier iterations run as
    bounded (<=512-row) eager collects and must not appear here."""
    import re

    p = plans("kmeans_lloyd_embeddings")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert "BroadcastHashJoin" in p, p
    assert p.count("HashAggregate") >= 2, p
    assert "CartesianProduct" not in p, p


def test_ivf_kmeans_probe_join_broadcast_topk(plans):
    """X177: probes and the query-side embeddings are broadcast; the
    top-k rank window is PARTITIONED by query_id (never a global sort
    of the candidate set); no cartesian anywhere — the assignment is
    the partition-pruning column at scale."""
    p = plans("ann_ivf_kmeans_topk")
    assert "BroadcastHashJoin" in p, p
    assert "query_id" in p, p
    assert "CartesianProduct" not in p, p


def test_cluster_quality_single_scan_k_row_shuffle(plans):
    """X178: one corpus scan for the quality pass (training's scans ran
    eagerly); the shuffle carries K rows per partition; the K-row
    separation grid joins via broadcast."""
    import re

    p = plans("kmeans_cluster_quality")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p
    assert "BroadcastHashJoin" in p, p
    assert p.count("HashAggregate") >= 2, p
    assert "CartesianProduct" not in p, p


# --------------------------------------------------------------------------
# Round-13 optimization pins: shared subtrees materialized ONCE.
# Catalyst performs no cross-reference common-subexpression elimination, so
# a census referenced N times re-executes N times unless checkpointed at
# the shared frontier (OPTIMIZATION_r13.md). These tests pin the fixed
# scan counts; a duplicate-scan regression is a silent N× corpus re-read
# at 100 TB that correctness gates never notice.
# --------------------------------------------------------------------------

def _parquet_scan_nodes(p: str) -> int:
    import re

    return len(set(re.findall(r"\((\d+)\) Scan parquet", p)))


def test_temperature_resample_single_corpus_scan(plans):
    """X42: the |sources|-row histogram is checkpointed; the final plan
    scans documents exactly once (the rank-window pass) — the old shape
    re-ran the census subtree three times (5 scans)."""
    p = plans("temperature_resample_sources")
    assert _parquet_scan_nodes(p) == 1, p


def test_token_budget_selection_single_tokenize(plans):
    """X116: the (doc, n_tok, ttr) proxy is checkpointed; the final plan
    contains NO parquet scan (all three consumers read the proxy) — the
    old shape tokenized the text column three times."""
    p = plans("token_budget_selection")
    assert _parquet_scan_nodes(p) == 0, p
    assert "Scan ExistingRDD" in p, p


def test_fk_integrity_audit_single_parent_pass(plans):
    """X97: the tagged parent key-set union is checkpointed; each of the
    five child/parent tables is scanned at most once in the final plan —
    the old shape scanned all seven parent tables twice (19 scans /
    17 exchanges)."""
    import re

    p = plans("fk_integrity_audit")
    assert _parquet_scan_nodes(p) <= 5, p
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 4, p


def test_basket_brand_lift_single_basket_build(plans):
    """X130: the basket (fact⋈dim join + distinct) is checkpointed; the
    final plan contains no parquet scan and at most one distinct-census
    exchange per consumer — the old shape rebuilt the join+distinct five
    times (10 scans / 5 distinct shuffles)."""
    p = plans("basket_brand_lift")
    assert _parquet_scan_nodes(p) == 0, p
    assert "Scan ExistingRDD" in p, p


def test_ks_distance_single_tokenize(plans):
    """X144: the (source, length) census is checkpointed and the
    per-source totals derive from it; the final plan contains no parquet
    scan — the old shape tokenized the corpus EIGHT times."""
    p = plans("ks_distance_sources")
    assert _parquet_scan_nodes(p) == 0, p


def test_zorder_single_fused_scoring_pass(plans):
    """X99: both layouts are emitted from one pass via an exploded struct
    array; the final plan scans lineitem exactly twice (global stats +
    the fused scoring pass) — the union form scanned it four times."""
    p = plans("zorder_layout_stats")
    assert _parquet_scan_nodes(p) == 2, p
    assert "Generate" in p, p  # the explode that fuses the two layouts


def test_merge_upsert_single_orders_scan(plans):
    """X83: the cents-staged base is checkpointed; updates, inserts and
    the merge target all read it — the final plan contains no parquet
    scan (the old shape scanned orders three times)."""
    p = plans("merge_upsert_orders")
    assert _parquet_scan_nodes(p) == 0, p


def test_fd_violation_audit_single_join(plans):
    """X136: all four FD checks share ONE execution of the orders⋈customer
    join via the exploded (fd, det, dep) census — exactly one join over
    exactly two parquet scans, and NO checkpointed fact-sized frame (the
    r13 shape localCheckpoint'ed the raw join: a §5 scale hazard; the
    pre-r13 shape ran the join four times)."""
    import re

    p = plans("fd_violation_audit")
    assert _parquet_scan_nodes(p) == 2, p
    joins = re.findall(r"\((\d+)\) \w*(?:HashJoin|SortMergeJoin)", p)
    assert len(set(joins)) == 1, p
    assert "Generate" in p, p  # the 4-way census explode
    assert "ExistingRDD" not in p, p  # nothing fact-sized is materialized
