"""Physical-plan audits: the 100 TB posture, machine-checked.

Correctness gates prove WHAT each query computes; these prove HOW — that
the plan Catalyst produces is the plan you'd want on a 1000-executor
cluster: filters reach the parquet scan, scans read only referenced
columns, small dimensions broadcast instead of shuffling the fact table,
aggregations combine map-side, and nothing degenerates to a cartesian
product. A regression here is a performance bug even while results stay
correct, which is exactly why it needs its own tests.
"""

import re

import pytest
from conftest import PYTHON_STAGE_NODES

from pyiceberg_lakehouse_spark.registry import QUERIES, load_all


@pytest.fixture(scope="module", autouse=True)
def _load():
    load_all()


def plan_of(spark, name: str, sf_dir: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def scan_sections(plan: str) -> list[str]:
    """Split the formatted plan into its per-node detail blocks."""
    return re.split(r"\n\(\d+\) ", plan)


def non_fanout_exchanges(plan: str) -> list[str]:
    """Exchange detail blocks EXCEPT id-only round-robin fan-outs.

    ``localdf.spread_ids`` (r18 optimization) round-robins the planted
    doc_id stream across cores BELOW the Python evaluator so the codec
    work parallelizes — that exchange carries a single long column, so
    the contract these pins protect (media-scale rows never shuffle)
    still holds. Anything else — a hash/range exchange, or a round-robin
    over wider rows — still counts."""
    out = []
    for sec in scan_sections(plan):
        if not sec.startswith("Exchange"):
            continue
        if "RoundRobinPartitioning" in sec and re.search(
            r"Input \[1\]: \[doc_id#\d+L?\]", sec
        ):
            continue
        out.append(sec)
    return out


def test_q1_filter_pushdown_and_partial_agg(spark, sf_dir):
    plan = plan_of(spark, "agg_q1_pricing_summary", sf_dir)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # map-side partial aggregation before the single shuffle
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_q1_whole_stage_codegen(spark, sf_dir):
    """The aggregation pipeline must compile to whole-stage-generated code
    (decimal arithmetic included) — no interpreted row-at-a-time fallback."""
    df = QUERIES["agg_q1_pricing_summary"](spark, sf_dir)
    df.collect()  # AQE finalizes the physical plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark operators fused into WholeStageCodegen stage n
    assert re.search(r"\*\(\d+\) HashAggregate", plan), plan[:500]


def test_q1_column_pruning(spark, sf_dir):
    plan = plan_of(spark, "agg_q1_pricing_summary", sf_dir)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in plan"
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # Q1 references 7 of lineitem's 11 columns; the scan must not read more
    assert cols == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }


def test_q3_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(spark, "agg_q3_shipping_priority", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # selective filters reach every scan
    assert plan.count("PushedFilters: [") >= 3
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_q5_no_cartesian_all_filters_pushed(spark, sf_dir):
    plan = plan_of(spark, "agg_q5_local_supplier_volume", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(r_name,ASIA)" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_projection_reads_only_selected_columns(spark, sf_dir):
    plan = plan_of(spark, "proj_columns", sf_dir)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # the 2-column projection must prune the other 9 lineitem columns
    assert cols == {"l_orderkey", "l_extendedprice"}


def test_equality_filter_pushed_to_scan(spark, sf_dir):
    plan = plan_of(spark, "filter_eq", sf_dir)
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo", plan)


def test_cosine_topk_broadcasts_queries_not_cartesian(spark, sf_dir):
    plan = plan_of(spark, "sim_cosine_topk", sf_dir)
    # the query side is broadcast; the corpus is NOT shuffled
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cosine_topk_pair_fold_evaluated_once(spark, sf_dir):
    """The O(Q*N) decimal-fold dot product must appear exactly once in the
    optimized plan. The round-7 poison-row hardening put a
    filter(score.isNotNull()) BEFORE the rank window; Catalyst pushed it
    below the Project and evaluated the dominant fold twice per pair
    (Filter + Project), a measured 1.85x wall regression. The fix filters
    after the window where score is a materialized column; this test
    machine-catches the whole regression class."""
    from pyiceberg_lakehouse_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = similarity.cosine_topk(emb, emb.limit(4), k=3)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # r18: the element casts hoisted into per-side transform()s, so the
    # pair fold is now zip_with(q_dec, c_dec) — still exactly once
    assert plan.count("zip_with(q_dec") == 1, (
        "pair-producing decimal fold evaluated more than once per pair"
    )


def test_lsh_join_is_hash_join_on_bucket(spark, sf_dir):
    plan = plan_of(spark, "sim_ann_lsh", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, "LSH must join on bucket equality"


def test_asof_join_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, "join_asof", sf_dir)
    assert "CartesianProduct" not in plan


def test_exact_dedup_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, "dedup_exact", sf_dir)
    # hash-groupBy on the fingerprint: one exchange, partial agg before it
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert "CartesianProduct" not in plan


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """AQE skew-join handling: a join keyed 90% on one value must show
    skew-split partitions in the final adaptive plan (the runtime answer to
    skewed keys at 100 TB, complementing the manual salting operator)."""
    from pyspark.sql import functions as F

    confs = {
        # force a sort-merge join and make the skew thresholds tiny so the
        # test-scale partitions qualify as skewed
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(0, 400_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        small = spark.range(0, 1000).select(F.col("id").alias("k"), F.lit(1).alias("v"))
        joined = big.join(small, "k")
        # run THIS DataFrame's own query execution (a .write/.count would
        # clone the plan and leave this one isFinalPlan=false)
        joined._jdf.queryExecution().executedPlan().execute().count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:800]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pipeline_clean_corpus_single_shuffle_key(spark, sf_dir):
    """The whole clean-corpus pipeline shuffles ONLY for the dedup window
    (every Exchange hashes on the content fingerprint) — quality filter,
    lang filter, and split add no data movement."""
    import re

    import pyiceberg_lakehouse_spark.registry as registry

    registry.load_all()
    df = registry.QUERIES["pipeline_clean_corpus"](spark, sf_dir)
    df._jdf.queryExecution().executedPlan().execute().count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(r"Exchange \w+partitioning\((\w+)#", plan)
    assert exchanges, "expected the dedup window shuffle"
    assert set(exchanges) == {"fp"}, exchanges


def test_tfidf_vocab_join_keyed_not_cartesian(spark, sf_dir):
    """The tf/df join is an unhinted equi-join on term (hash-partitionable
    at 100 TB vocabulary scale, AQE-broadcast when small); the 1-row corpus
    count broadcasts. Nothing may degenerate to a cartesian or
    nested-loop pairing of the term sets."""
    plan = plan_of(spark, "text_tfidf_top_terms", sf_dir)
    assert "CartesianProduct" not in plan
    # exactly one BroadcastNestedLoopJoin node is legitimate: the 1-row
    # n_docs cross attach; the term join itself must be keyed
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_multimodal_resize_no_shuffle(spark, sf_dir):
    """Decode/decimate/re-encode runs where the bytes are (map_docs over
    the scan) — a shuffle of binary payloads would be a 100 TB bug."""
    plan = plan_of(spark, "multimodal_resize", sf_dir)
    assert "Exchange" not in plan
    assert "MapInArrow" in plan and "MapInPandas" not in plan


def test_ivf_probe_no_cartesian_no_corpus_assign(spark, sf_dir):
    """The IVF probe scores candidates in a closure-constant mapInPandas
    (probe lists + query matrix ship once per task) — never a cartesian
    pairing, and no join materializing (query x candidate) vector pairs.
    The only shuffle left is the O(partitions x Q x k) candidate merge."""
    plan = plan_of(spark, "sim_ann_ivf", sf_dir)
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert "Join" not in plan


# ---- TPC-H batch three (Q2..Q22 shapes) ----


def test_q6_all_filters_pushed_single_scan(spark, sf_dir):
    """Q6 is scan-filter-aggregate: every predicate must reach the parquet
    reader and the plan must contain exactly one lineitem scan."""
    plan = plan_of(spark, "agg_q6_forecast_revenue", sf_dir)
    assert "CartesianProduct" not in plan
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed, plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed.group(1)
    # exactly one scan node in the detail sections (tree + detail both
    # print the node name, so count the numbered detail headers)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_q8_no_cartesian_dimensions_broadcast(spark, sf_dir):
    """Q8's 8-way join: no cartesian, dimension sides broadcast."""
    plan = plan_of(spark, "agg_q8_market_share", sf_dir)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_q21_decorrelated_no_cartesian(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS pair is expressed via one per-order
    aggregate + equi-joins; a cartesian or nested-loop self-join over
    lineitem would be the scale killer."""
    plan = plan_of(spark, "agg_q21_suppliers_kept_waiting", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q17_correlated_avg_is_one_aggregate(spark, sf_dir):
    """Q17's per-part AVG threshold must decorrelate: one grouped
    aggregate joined back, never a per-row subquery re-execution."""
    plan = plan_of(spark, "agg_q17_small_quantity_revenue", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q22_anti_join_shape(spark, sf_dir):
    plan = plan_of(spark, "agg_q22_global_sales_opportunity", sf_dir)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


TPCH_ALL = [
    "agg_q1_pricing_summary", "agg_q2_min_cost_supplier",
    "agg_q3_shipping_priority", "agg_q4_priority_check",
    "agg_q5_local_supplier_volume", "agg_q6_forecast_revenue",
    "agg_q7_volume_shipping", "agg_q8_market_share",
    "agg_q9_product_profit", "agg_q10_returned_items",
    "agg_q11_important_stock", "agg_q12_shipping_lag",
    "agg_q13_customer_distribution", "agg_q14_promo_share",
    "agg_q15_top_supplier", "agg_q16_supplier_variety",
    "agg_q17_small_quantity_revenue", "agg_q18_large_orders",
    "agg_q19_discounted_revenue", "agg_q20_potential_promotion",
    "agg_q21_suppliers_kept_waiting", "agg_q22_global_sales_opportunity",
]
# Q11/Q22 compare against a SINGLE-ROW scalar aggregate (global threshold);
# Spark joins a one-row broadcast side without an equi-key as a
# BroadcastNestedLoopJoin — O(N x 1), benign at any scale. Everywhere else
# a nested-loop join is a scale killer and fails the audit.
SCALAR_THRESHOLD = {"agg_q11_important_stock", "agg_q22_global_sales_opportunity"}


def test_all_22_tpch_shapes_no_scale_killers(spark, sf_dir):
    """Every TPC-H topology: no cartesian product anywhere, nested-loop
    joins only against one-row scalar aggregates, and map-side partial
    aggregation present — the whole-suite 1000-executor posture check."""
    for name in TPCH_ALL:
        plan = plan_of(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, name
        if name in SCALAR_THRESHOLD:
            # the nested-loop's broadcast side must be the ungrouped
            # (one-row) aggregate, not a data-sized relation
            assert "BroadcastNestedLoopJoin" in plan, name
            assert re.search(r"Keys: \[\]", plan), name
        else:
            assert "BroadcastNestedLoopJoin" not in plan, name
        assert "partial_" in plan, f"{name}: no map-side partial aggregation"


def test_tpch_distinctive_join_shapes(spark, sf_dir):
    """The shapes where the WRONG join type silently still returns rows:
    EXISTS must plan as semi joins (Q4/Q18/Q20), Q13's zero-order
    customers need the left outer, Q22's NOT EXISTS the anti."""
    assert "LeftSemi" in plan_of(spark, "agg_q4_priority_check", sf_dir)
    assert "LeftSemi" in plan_of(spark, "agg_q18_large_orders", sf_dir)
    assert "LeftSemi" in plan_of(spark, "agg_q20_potential_promotion", sf_dir)
    assert re.search(r"LeftOuter|RightOuter", plan_of(spark, "agg_q13_customer_distribution", sf_dir))
    assert "LeftAnti" in plan_of(spark, "agg_q22_global_sales_opportunity", sf_dir)


def test_chunk_overlap_map_only(spark, sf_dir):
    """Token-window chunking must stay shuffle-free at any corpus size:
    tokenize -> integer start sequence -> posexplode -> slice is pure
    per-row work; an Exchange here would mean the operator broke the
    map-only contract."""
    plan = plan_of(spark, "text_chunk_overlap", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan[:800]
    assert "Generate" in plan  # the posexplode


def test_funnel_three_windows_share_one_user_exchange(spark, sf_dir):
    """The ordered funnel derives all three stage timestamps (signup ->
    click-after -> purchase-after) with windows over the SAME user_id
    partitioning: one exchange keyed by user feeds all three Window
    nodes. A join-chain formulation would shuffle the events table three
    times; three exchanges here means the sharing regressed."""
    plan = plan_of(spark, "events_funnel_steps", sf_dir)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 3
    # one exchange for the user windows + one for the final global agg
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan[:800]
    assert "CartesianProduct" not in plan


def test_retention_no_fact_rejoin(spark, sf_dir):
    """Cohort derivation must come from a window over user_id, not a join
    back against a per-user aggregate (which would scan and shuffle the
    events table twice)."""
    plan = plan_of(spark, "events_retention_cohorts", sf_dir)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1
    assert len(re.findall(r"\(\d+\) (?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan)) == 0
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, (
        "events must be scanned once"
    )


def test_numeric_profile_single_shuffle_partial_agg(spark, sf_dir):
    """The histogram reduces to n_buckets+3 rows per map task before its
    single exchange — the property that makes it metadata-cheap at 100 TB."""
    plan = plan_of(spark, "train_numeric_profile", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2  # partial+final


def test_funnel_skewsafe_partial_aggs_and_no_windows(spark, sf_dir):
    """The skew-robust funnel must contain NO Window nodes (hot users
    would pin a task) — every per-user reduction is a partial-combining
    HashAggregate. No broadcast hint is forced (an unconditional hint
    would fail outright on a huge signed-user frame at 100 TB); on THIS
    small test data the optimizer's size estimate still picks a broadcast
    join, which we assert to catch anyone re-adding a shuffle-forcing
    repartition on the stage frames."""
    plan = plan_of(spark, "events_funnel_skewsafe", sf_dir)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 0
    assert "BroadcastHashJoin" in plan  # small-data plan only; AQE-chosen
    assert "CartesianProduct" not in plan.replace(
        "BroadcastNestedLoopJoin", ""
    )  # the final 1-row count combine may nest-loop; real data never does


def test_hll_rollup_delta_partial_agg_no_raw_row_shuffle(spark, sf_dir):
    """The HLL register build must reduce (dims, register-idx) -> max rank
    with MAP-SIDE partial aggregation before its exchange — a hot group
    ships at most 1024 rows per task, never its raw rows — and the final
    dims-level vector build is a second partial-combining aggregate. A
    grouped-map/pandas formulation (full raw shuffle) would be a scale
    regression this test pins out."""
    from pyspark.sql import functions as F

    from pyiceberg_lakehouse_spark.lakehouse.rollup import _delta_agg

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = _delta_agg(ev, ["event_type"], [("user_id", "distinct"), ("*", "count")])
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    # both aggregation levels partial+final (>= 4 HashAggregate nodes:
    # scalar parts 2 + idx-stage 2 + dims-stage objhashagg for collect)
    assert len(re.findall(r"\(\d+\) (?:Object)?HashAggregate", plan)) >= 4, plan[:1200]
    # no pandas/python evaluation anywhere in the register build
    assert not [n for n in PYTHON_STAGE_NODES if n in plan]
    assert "CartesianProduct" not in plan
    # partial_max over the rank before the exchange (map-side combine)
    assert re.search(r"partial_max", plan) or re.search(
        r"HashAggregate.*max", plan, re.DOTALL
    )


def test_substring_spans_no_scale_killers(spark, sf_dir):
    """The ExactSubstr reformulation must stay relational at scale: the
    duplicate-k-gram detection partial-aggregates map-side before its
    exchange (k-grams ship as md5 strings, never document text), the
    coverage pass is window-based (no self-join of positions), and
    nothing degenerates to a cartesian product or a Python evaluator."""
    plan = plan_of(spark, "dedup_substring_spans", sf_dir)
    assert "CartesianProduct" not in plan
    assert not [n for n in PYTHON_STAGE_NODES if n in plan]
    # dup-kgram count reduces partially before its shuffle
    assert re.search(r"partial_count", plan), plan[:1200]
    # exactly one Window pass for the interval-union coverage
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan[:1200]


def test_percentile_rollup_delta_partial_agg(spark, sf_dir):
    """The histogram delta build must reduce (dims, slot) -> count with
    MAP-SIDE partial aggregation before its exchange — a hot group ships
    at most domain-width rows per task, never raw fact rows — mirroring
    the HLL build's two-stage shape."""
    from pyiceberg_lakehouse_spark.lakehouse.rollup import _delta_agg

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = _delta_agg(
        li,
        ["l_returnflag"],
        [("*", "count"), ("l_quantity", "p50")],
        {"l_quantity": (1, 50)},
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert len(re.findall(r"\(\d+\) (?:Object)?HashAggregate", plan)) >= 4, plan[:1200]
    assert not [n for n in PYTHON_STAGE_NODES if n in plan]
    assert "CartesianProduct" not in plan
    assert re.search(r"partial_count", plan), plan[:1200]


def test_stream_static_enrich_is_stateless(spark, sf_dir):
    """The stream-static join must plan WITHOUT stream-stream join state:
    no StreamingSymmetricHashJoin (that operator keeps watermark-bounded
    state on both sides); the static dim joins as an ordinary batch-side
    relation inside each micro-batch."""
    df = QUERIES["stream_static_enrich"](spark, sf_dir)
    # the sink ran under availableNow inside the query fn; re-derive the
    # streaming plan shape from a fresh stream to inspect it
    from pyspark.sql import functions as F

    from pyiceberg_lakehouse_spark.sources.testdata import load_table
    from pyiceberg_lakehouse_spark.streaming import windows as W

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("_dim_key"),
        F.col("c_mktsegment").alias("segment"),
    )
    ev = W.events_stream(spark, sf_dir).select("event_id", "user_id")
    joined = ev.join(dim, F.col("user_id") == F.col("_dim_key"), "left")
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert "StreamingRelation" in plan  # left side really is a stream
    # the batch result already proved semantics; state-freedom is the point
    assert df.count() > 0


def test_bloom_reduced_join_semi_filters_fact_map_side(spark, sf_dir):
    """The semi-join reducer must filter the fact side MAP-SIDE: a
    BroadcastHashJoin LeftSemi on the hash-bucket set whose streamed input
    comes STRAIGHT from the lineitem scan — no Exchange in between — so
    only surviving rows ever shuffle. The bucket build side is bounded by
    m (8 MB worst-case) whatever the dim cardinality, which is why the
    broadcast is safe to assert unconditionally."""
    plan = plan_of(spark, "join_bloom_reduced", sf_dir)
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    semi_at = next(
        i for i, ln in enumerate(lines) if "BroadcastHashJoin LeftSemi" in ln
    )
    # the semi's first (streamed) child subtree runs down to the fact scan;
    # any Exchange before that scan means fact rows shuffled pre-reduction
    for ln in lines[semi_at + 1 :]:
        if "Scan parquet" in ln:
            break
        assert "Exchange" not in ln, f"fact shuffles before the reducer: {ln}"
    else:
        raise AssertionError("no fact scan under the semi-join reducer")
    assert "CartesianProduct" not in plan


def test_range_search_no_corpus_shuffle(spark, sf_dir):
    """Range search must broadcast the query set and scan the corpus once
    — no Exchange feeding the join (the corpus never shuffles), no
    cartesian product, no Window."""
    plan = plan_of(spark, "sim_range_search", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan[:600]
    assert len(re.findall(r"\(\d+\) Window", plan)) == 0
    assert "CartesianProduct" not in plan


def test_text_search_pushes_token_inlist_to_postings_scan(spark, sf_dir):
    """Lexical search must plan O(query-term postings): the token IN-list
    reaches the postings parquet scan as a pushed filter, so row groups
    without the terms never decode."""
    plan = plan_of(spark, "lh_text_search", sf_dir)
    m = re.search(r"PushedFilters: \[[^\]]*In\(token", plan)
    assert m, plan[plan.find("PushedFilters"):][:300]
    assert "CartesianProduct" not in plan


def test_mp4_demux_map_only(spark, sf_dir):
    """The MP4 sample-table demux must stay a pure map stage at any
    corpus size: synthesize -> demux -> emit typed sample rows is
    per-document work inside one Arrow-batched python evaluator — an
    Exchange would mean sample explosion started shuffling media-scale
    rows."""
    plan = plan_of(spark, "multimodal_mp4_samples", sf_dir)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan[:800]
    assert "MapInArrow" in plan


def test_mp4_multitrack_and_audio_decode_map_only(spark, sf_dir):
    """Multi-track demux and the demux->mu-law-decode composition are
    per-document work and must stay pure map stages (no Exchange) —
    media-scale rows never shuffle."""
    for q in ("multimodal_mp4_multitrack", "multimodal_audio_decode",
              "multimodal_mp3_frames"):
        plan = plan_of(spark, q, sf_dir)
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, (q, plan[:800])
        assert "MapInArrow" in plan, q


def test_sample_reservoir_is_topk_not_global_sort(spark, sf_dir):
    """The hash reservoir must plan as TakeOrderedAndProject (per-partition
    top-k heaps, O(k) memory, no shuffle of non-sampled rows) over a
    2-column pruned scan — a global Sort+Exchange would shuffle the whole
    fact table to sample 600 rows."""
    plan = plan_of(spark, "sample_reservoir", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan[:800]
    assert "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int>" in plan


def test_video_curation_single_shuffle(spark, sf_dir):
    """The curation composite is demux (map stage) + ONE conditional-
    aggregation shuffle: exactly one Exchange, no joins, no second pass
    over the media rows."""
    plan = plan_of(spark, "pipeline_video_curation", sf_dir)
    assert len(non_fanout_exchanges(plan)) == 1, plan[:900]
    assert "MapInArrow" in plan
    assert "Join" not in plan
    # partial aggregation runs map-side, before the exchange
    assert "partial" in plan.lower()


def test_r13_codec_queries_map_only(spark, sf_dir):
    """Every r13/r14 codec/extraction query is per-document work and
    must stay a pure map stage (no Exchange) — media-scale rows never
    shuffle: GIF LZW roundtrip, GIF/APNG composition, fragmented-MP4
    demux, ID3-tagged MP3 metadata, subtitle parsing (sidecar and
    in-MP4), TIFF roundtrip (baseline and LZW), EXIF extraction."""
    for q in (
        "multimodal_webp_decode",
        "multimodal_webp_animation",
        "multimodal_tiff_lzw",
        "multimodal_tiff_tiled",
        "multimodal_tiff_bilevel",
        "multimodal_flac_decode",
        "text_pdf_extract",
        "multimodal_mkv_probe",
        "multimodal_mp4_itunes",
        "text_ass_cues",
        "text_epub_extract",
        "text_docx_extract",
        "text_odt_extract",
        "text_rtf_extract",
        "dedup_image_dhash",
        "multimodal_audio_quality",
        "multimodal_image_quality",
        "multimodal_scene_cuts",
        "text_unicode_nfc",
        "scan_warc_revisits",
        "text_charset_decode",
        "text_html_metadata",
        "multimodal_gif_decode",
        "multimodal_gif_animation",
        "multimodal_apng_animation",
        "multimodal_mp4_fragmented",
        "multimodal_mp3_id3",
        "text_subtitle_cues",
        "multimodal_mp4_subtitles",
        "multimodal_tiff_decode",
        "multimodal_exif_extract",
        "scan_warc_responses",
        "scan_archive_entries",
        "text_html_extract",
        "pipeline_crawl_ingest",
        "scan_robots_decisions",
        "multimodal_webp_probe",
        "multimodal_ogg_packets",
    ):
        plan = plan_of(spark, q, sf_dir)
        assert not non_fanout_exchanges(plan), (q, plan[:800])
        assert "MapInArrow" in plan, q


def test_caption_curation_single_shuffle(spark, sf_dir):
    """The caption-curation composite is demux+cue extraction (map
    stage) + ONE aggregation shuffle — no joins, no second media pass."""
    plan = plan_of(spark, "pipeline_caption_curation", sf_dir)
    assert len(non_fanout_exchanges(plan)) == 1, plan[:800]
    assert "MapInArrow" in plan


def test_url_canonicalize_jvm_only_single_shuffle(spark, sf_dir):
    """The URL canonicalizer is built from Column expressions only: the
    plan must carry NO Python evaluator (whole-stage codegen end to
    end) and exactly one aggregation Exchange."""
    plan = plan_of(spark, "text_url_canonicalize", sf_dir)
    for bad in PYTHON_STAGE_NODES:
        assert bad not in plan, (bad, plan[:800])
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:800]
    # codegen fusion markers only materialize in the executed plan;
    # the no-Python assertions above are the JVM-only contract


def test_pii_redact_jvm_only_map_stage(spark, sf_dir):
    """The extended PII redactor is built from Column expressions only:
    NO Python evaluator in the plan and NO Exchange — a 100 TB corpus
    scrubs in one codegen map stage (the url_canonicalize posture)."""
    plan = plan_of(spark, "text_pii_redact_extended", sf_dir)
    for bad in PYTHON_STAGE_NODES:
        assert bad not in plan, (bad, plan[:800])
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan[:800]


def test_markdown_extract_jvm_only_map_stage(spark, sf_dir):
    """The Markdown extractor is Column expressions only: NO Python
    evaluator and NO Exchange in the plan (the url/pii posture)."""
    plan = plan_of(spark, "text_markdown_extract", sf_dir)
    for bad in PYTHON_STAGE_NODES:
        assert bad not in plan, (bad, plan[:800])
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan[:800]


def test_pagerank_no_cartesian_and_mass_conserved(spark, sf_dir):
    """The five supersteps must stay equi-joins (no cartesian), and the
    integer recurrence must conserve rank mass exactly:
    sum(R_5) == 60^5 * N — the closed-form invariant of the scaled
    damped update over a dangling-free graph."""
    from pyspark.sql import functions as F

    plan = plan_of(spark, "graph_pagerank", sf_dir)
    assert "CartesianProduct" not in plan
    df = QUERIES["graph_pagerank"](spark, sf_dir)
    n = df.count()
    total = df.agg(F.sum("rank_scaled")).collect()[0][0]
    assert total == (60 ** 5) * n, (total, n)


def test_uri_parse_jvm_only_map_stage(spark, sf_dir):
    """RFC 3986 decomposition + percent-decode are Column expressions
    only: NO Python evaluator and NO Exchange — one codegen map stage
    (the url_canonicalize posture)."""
    plan = plan_of(spark, "fn_uri_parse", sf_dir)
    for bad in PYTHON_STAGE_NODES:
        assert bad not in plan, (bad, plan[:800])
    assert "Exchange" not in plan, plan[:800]


def test_fwf_parse_jvm_only(spark, sf_dir):
    """The fixed-width slicer (substring/trim/try_cast) must carry NO
    Python evaluator — a 100 TB mainframe drop parses in codegen."""
    plan = plan_of(spark, "scan_fwf_checked", sf_dir)
    for bad in PYTHON_STAGE_NODES:
        assert bad not in plan, (bad, plan[:800])
