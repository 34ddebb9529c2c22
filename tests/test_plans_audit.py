"""Physical-plan audits: the properties that matter at 100 TB.

These assert on .explain output: predicate/projection pushdown into the
parquet scan, broadcast joins for dimension tables, map-side partial
aggregation, and whole-stage codegen coverage.
"""

from pyspark.sql import functions as F

from scardina_spark.catalog import build_tpch_schema, load_table
from scardina_spark.estimators import ExactEstimator
from scardina_spark.plans import parse_query, plan_query
from scardina_spark.plans.planner import execute_join


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem", ["l_orderkey", "l_quantity"])
    df = li.where(F.col("l_quantity") > 45)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity,45" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # ReadSchema must contain only the projected columns
    read = plan.split("ReadSchema:")[-1]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read and "l_shipdate" not in read


def test_dimension_join_broadcasts(spark, sf_dir, tables):
    sg = build_tpch_schema()
    plan_q = plan_query(sg, parse_query(
        "SELECT COUNT(*) FROM lineitem l, supplier s "
        "WHERE l.l_suppkey = s.s_suppkey AND s.s_nationkey > 2"))
    df = execute_join(plan_q, tables)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_group_agg_has_partial_aggregation(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    plan = _plan(df)
    # partial_sum before the exchange = map-side combine
    assert "partial_sum" in plan
    assert plan.count("Exchange") == 1


def test_whole_stage_codegen_covers_filter_agg(spark, sf_dir):
    import re
    li = load_table(spark, sf_dir, "lineitem")
    df = (li.where(F.col("l_quantity") > 10)
          .groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")))
    df.collect()  # AQE finalizes the plan (codegen ids appear as *(n))
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert re.search(r"\*\(\d+\) Filter", plan)
    assert re.search(r"\*\(\d+\) HashAggregate", plan)


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    df = (o.select("o_orderkey", "o_totalprice")
          .orderBy(F.col("o_totalprice").desc()).limit(10))
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_textstats_no_python_udf(spark, sf_dir):
    from scardina_spark.operators.textstats import with_text_stats
    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(with_text_stats(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pricing_summary_pushes_date_filter_through_ntz_relabel(spark, sf_dir):
    """The NTZ->TIMESTAMP relabel in load_table must not block parquet
    pushdown: the shipdate filter has to reach the scan."""
    from scardina_spark.queries import q_pricing_summary
    plan = _plan(q_pricing_summary(spark, sf_dir))
    pushed = plan.split("PushedFilters:")[-1].split("]")[0]
    assert "l_shipdate" in pushed
    read = plan.split("ReadSchema:")[-1].split("\n")[0]
    assert "l_orderkey" not in read and "l_partkey" not in read


def test_region_revenue_broadcasts_all_joins(spark, sf_dir):
    """Q5 shape at this scale: every join broadcast, zero sort-merge."""
    from scardina_spark.queries import q_region_revenue
    plan = _plan(q_region_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan


def test_estimator_count_plan_prunes_unused_columns(spark, tables):
    """The exact estimator's COUNT over a join must not read payload
    columns of either table."""
    sg = build_tpch_schema()
    plan_q = plan_query(sg, parse_query(
        "SELECT COUNT(*) FROM lineitem l, orders o "
        "WHERE l.l_orderkey = o.o_orderkey AND o.o_orderstatus = 'F'"))
    df = execute_join(plan_q, tables).groupBy().count()
    df.collect()
    plan = _plan(df)
    # ReadSchema of each scan: join keys + filter column only (the
    # Relation line in the optimized plan always prints the full table
    # schema — the scan's ReadSchema is what actually hits parquet)
    for section in plan.split("FileScan parquet")[1:]:
        read = section.split("ReadSchema:")[-1].split("\n")[0]
        assert "l_extendedprice" not in read
        assert "o_totalprice" not in read


def test_join_sampler_plan_has_no_pathologies(spark, tables):
    """The weighted join sampler must stay all-equi-join: no
    broadcast-nested-loop, no cartesian product, no single-partition
    exchange anywhere in the materialization plan (the cached sample's
    InMemoryRelation prints the sampler's plan)."""
    from scardina_spark.estimators import prepare_tree_sample
    from scardina_spark.estimators.sample import spanning_tree
    sg = build_tpch_schema()
    ts = prepare_tree_sample(spanning_tree(sg, "lineitem"), tables,
                             "lineitem", n_min=10_000, seed=7)
    plan = _plan(ts.sample)
    assert "InMemoryRelation" in plan and "Join" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_bloom_semi_join_broadcasts_filter(spark, sf_dir, tables):
    """The bucket filter and the distinct-key set must both broadcast —
    the probe side never shuffles."""
    from scardina_spark.operators.bloomjoin import bloom_semi_join

    build = tables["part"].where(F.col("p_size") > 40)
    df = bloom_semi_join(tables["lineitem"], build,
                         "l_partkey", "p_partkey")
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    # the only non-broadcast exchanges are the two build-side distinct
    # aggregations (key-cardinality sized); the probe never shuffles
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange hashpartitioning" in ln]
    assert len(shuffles) <= 2, shuffles


def test_repetition_stats_no_shuffle(spark, sf_dir):
    """Both repetition signals are pure projections: zero Exchange."""
    from scardina_spark.operators.textstats import with_repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(with_repetition_stats(docs))
    assert "Exchange" not in plan


def test_kmv_set_estimates_single_join(spark, sf_dir, tables):
    """Set algebra reads sketches only: exactly one join, array math in
    projection."""
    from scardina_spark.operators.sketches import (
        kmv_set_estimates, kmv_sketch)

    ev = tables["events"]
    a = kmv_sketch(ev.where(F.col("user_id") % 2 == 0), "user_id", 16)
    b = kmv_sketch(ev.where(F.col("user_id") % 2 == 1), "user_id", 16)
    plan = _plan(kmv_set_estimates(a, b, 16))
    # one cartesian of two 1-row sketch relations; no sort-merge join
    assert "SortMergeJoin" not in plan


def test_disjunctive_join_extracts_per_table_filters(spark, sf_dir):
    """Q19 shape: Catalyst must pull per-table sub-predicates out of the
    cross-table OR so both scans prune, and the dim side must broadcast."""
    from scardina_spark.queries import q_disjunctive_revenue
    df = q_disjunctive_revenue(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # derived range filter on the fact scan, brand filter on the dim scan
    assert "l_quantity" in plan.split("FileScan")[1]
    assert "p_brand" in plan.split("FileScan")[2]


def test_rollup_is_single_shuffle_expand(spark, sf_dir):
    """ROLLUP runs as one Expand + one aggregate exchange — no
    per-level passes over the fact table."""
    from scardina_spark.queries import q_rollup_agg
    plan = _plan(q_rollup_agg(spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("FileScan") == 1


def test_pivot_is_single_pass(spark, sf_dir):
    """With declared pivot values there is no value-discovery job: one
    scan, one aggregate."""
    from scardina_spark.queries import q_pivot_counts
    plan = _plan(q_pivot_counts(spark, sf_dir))
    assert plan.count("FileScan") == 1
    assert "partial" in plan.lower()  # map-side partial aggregation


def test_cheapest_supplier_single_partkey_shuffle(spark, sf_dir):
    """Q2 shape: the window min and the tie-break aggregate share the
    l_partkey partitioning (one exchange), and the part dim broadcasts."""
    from scardina_spark.queries import q_cheapest_supplier
    plan = _plan(q_cheapest_supplier(spark, sf_dir))
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_idle_rich_customers_broadcast_scalar_and_anti(spark, sf_dir):
    """Q22 shape: the scalar subquery is a broadcast 1-row nested-loop
    join (no driver collect) and the NOT EXISTS is a broadcast anti
    join."""
    from scardina_spark.queries import q_idle_rich_customers
    plan = _plan(q_idle_rich_customers(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_event_funnel_bounded_state_no_window(spark, sf_dir):
    """The funnel is iterative per-stage min-aggregation: bounded
    per-entity state (a single min, never a collect_list array), hot
    keys absorbed by map-side partial aggregation — no window function,
    no Python.  Per-stage scans of the (filtered) events table are the
    deliberate trade for heavy-entity safety."""
    from scardina_spark.queries import q_event_funnel
    plan = _plan(q_event_funnel(spark, sf_dir))
    assert "Window" not in plan
    assert "collect_list" not in plan
    assert "partial_min" in plan
    assert "Python" not in plan


def test_returned_revenue_broadcasts_and_takeordered(spark, sf_dir):
    """Q10 shape: all three non-fact joins broadcast (no sort-merge at
    this scale) and the ranking is TakeOrderedAndProject."""
    from scardina_spark.queries import q_returned_revenue
    plan = _plan(q_returned_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_sole_late_supplier_semi_anti_no_bnlj(spark, sf_dir):
    """Q21 shape: EXISTS/NOT EXISTS lower to semi/anti joins; the late
    pair set materializes once (no repeated lineitem scan per consumer);
    result via TakeOrderedAndProject."""
    from scardina_spark.queries import q_sole_late_supplier
    plan = _plan(q_sole_late_supplier(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_top_revenue_supplier_single_lineitem_scan(spark, sf_dir):
    """Q15 shape: the revenue view feeds both the max scalar and the
    equality filter from ONE materialization — a single lineitem scan,
    scalar joined by broadcast."""
    from scardina_spark.queries import q_top_revenue_supplier
    plan = _plan(q_top_revenue_supplier(spark, sf_dir))
    assert plan.count("FileScan") == 1  # supplier only; rev checkpointed
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_nation_revenue_share_scalar_broadcast(spark, sf_dir):
    """Q11 shape: the global total re-aggregates the per-group relation
    and broadcasts as a 1-row scalar (the one legitimate
    BroadcastNestedLoopJoin: a single-row build side)."""
    from scardina_spark.queries import q_nation_revenue_share
    plan = _plan(q_nation_revenue_share(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_chunk_documents_no_shuffle(spark, sf_dir):
    """Chunking is row-parallel: zero Exchange, no Python eval."""
    from scardina_spark.operators.packing import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(chunk_documents(docs, 32, 8))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_semdedup_shuffles_only_on_cell_no_pathologies(spark, sf_dir):
    """The pair stage's only join is a cell-keyed equi-join: no
    cartesian/BNLJ anywhere, no Python eval (<=64 cells), and every
    hashpartitioning key set is either the cell id (pair join) or the
    row id (dropped-set dedup + attach-back)."""
    import re

    from scardina_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [[float(x) for x in r["embedding"]] for r in
             emb.where("vec_id < 8").orderBy("vec_id").collect()]
    plan = _plan(S.semdedup_flags(emb, cents, 0.35))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan
    for keys in re.findall(r"hashpartitioning\((\w+)", plan):
        assert keys in ("cell", "vec_id"), plan


def test_bigram_pairs_no_window_no_shuffle(spark, sf_dir):
    """Predecessor pairing shifts the token array: the pair-extraction
    plan has no Exchange and no Window."""
    from scardina_spark.operators.perplexity import _bigram_pairs

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(_bigram_pairs(docs, "doc_id", "text"))
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_market_share_broadcast_dims_no_cartesian(spark, sf_dir):
    """Q8 shape: nation/region dimensions broadcast; the conditional
    fraction is one aggregation pass (no second lineitem scan)."""
    from scardina_spark.queries import q_market_share
    plan = _plan(q_market_share(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert plan.count("lineitem.parquet") == 1  # one fact scan, one pass
    assert "HashAggregate" in plan


def test_small_qty_revenue_no_window(spark, sf_dir):
    """Q17 shape: the correlated per-part AVG lowers to a broadcast
    agg-join, never a Window over lineitem."""
    from scardina_spark.queries import q_small_qty_revenue
    plan = _plan(q_small_qty_revenue(spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_excess_shippers_semi_join_scalar_broadcast(spark, sf_dir):
    """Q20 shape: the scalar cut is a 1-row broadcast (the one legitimate
    BNLJ) and the supplier restriction is a real left-semi join."""
    from scardina_spark.queries import q_excess_shippers
    plan = _plan(q_excess_shippers(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_order_count_dist_filter_inside_outer_join(spark, sf_dir):
    """Q13 shape: the priority filter must push to the orders scan (it
    lives in the join condition of a LEFT OUTER join), and customers
    survive the join (left outer, not inner)."""
    from scardina_spark.queries import q_order_count_dist
    plan = _plan(q_order_count_dist(spark, sf_dir))
    assert "LeftOuter" in plan
    assert "1-URGENT" in plan  # filter reached the scan side, not post-agg


def test_stream_neardup_stream_side_is_projection_only(spark, sf_dir):
    """st12's legality rests on the stream side being PURE PROJECTION
    up to the stream-static joins: the analyzed streaming plan must
    contain no aggregate before them (the rowwise signatures replace
    the batch explode+groupBy), and exactly one stateful operator (the
    pair suppression)."""
    from scardina_spark.catalog import load_table
    from scardina_spark.streaming.curate import read_documents_stream
    from scardina_spark.streaming.neardup import (
        build_neardup_index, near_dup_probe_stream)
    docs = load_table(spark, sf_dir, "documents")
    bands, shingles = build_neardup_index(
        docs.where(F.col("doc_id") % 5 != 0))
    st = (read_documents_stream(spark, sf_dir)
          .where(F.col("doc_id") % 5 == 0))
    out = near_dup_probe_stream(st, bands, shingles)
    plan = out._jdf.queryExecution().analyzed().toString()
    # one stateful operator: the applyInPandasWithState suppression
    assert plan.count("FlatMapGroupsInPandasWithState") == 1
    # the analyzed plan's only Aggregates belong to the BATCH index
    # side (minhash signatures of the static corpus) — the stream
    # lineage is projection/join-only because the rowwise signing
    # replaces the explode+groupBy form
    n_agg = plan.count("Aggregate")
    idx_plan = bands._jdf.queryExecution().analyzed().toString()
    assert n_agg == idx_plan.count("Aggregate"), (n_agg, plan)


def test_wav_decode_prunes_to_id_and_payload(spark, sf_dir):
    """x61's decode stage must carry only (media_id, payload) into
    Python — the optimized plan of the decode input projects exactly
    those columns (metadata columns never ship to the workers)."""
    from scardina_spark.catalog import load_table
    from scardina_spark.operators.multimodal import (
        decode_wav_features, documents_as_wav)
    docs = load_table(spark, sf_dir, "documents")
    import re
    out = decode_wav_features(documents_as_wav(docs))
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    # the decode MapInPandas node's inputs are exactly (media_id,
    # payload) — n_bytes/kind never ship into the decode kernel
    decode_node = next(ln for ln in opt.splitlines()
                       if "MapInPandas" in ln)
    args = re.search(r"MapInPandas \w+\(([^)]*)\)", decode_node).group(1)
    cols = [a.split("#")[0].strip() for a in args.split(",")]
    assert cols == ["media_id", "payload"], decode_node
    # and the parquet scan reads only (doc_id, text) for the container
    # build — the other document columns are pruned at the source
    ep = out._jdf.queryExecution().executedPlan().toString()
    rs = re.search(r"ReadSchema: struct<([^>]*)>", ep).group(1)
    assert sorted(f.split(":")[0] for f in rs.split(",")) == [
        "doc_id", "text"], rs


def test_png_decode_prunes_to_id_and_payload(spark, sf_dir):
    """x63's decode stage must carry only (media_id, payload) into
    Python, and the parquet scan must read only (doc_id, text) for the
    container build — same contract as the WAV path."""
    import re

    from scardina_spark.catalog import load_table
    from scardina_spark.operators.multimodal import (
        decode_png_features, documents_as_png)
    docs = load_table(spark, sf_dir, "documents")
    out = decode_png_features(documents_as_png(docs))
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    decode_node = next(ln for ln in opt.splitlines()
                       if "MapInPandas" in ln)
    args = re.search(r"MapInPandas \w+\(([^)]*)\)", decode_node).group(1)
    cols = [a.split("#")[0].strip() for a in args.split(",")]
    assert cols == ["media_id", "payload"], decode_node
    ep = out._jdf.queryExecution().executedPlan().toString()
    rs = re.search(r"ReadSchema: struct<([^>]*)>", ep).group(1)
    assert sorted(f.split(":")[0] for f in rs.split(",")) == [
        "doc_id", "text"], rs


def test_avi_decode_prunes_to_id_and_payload(spark, sf_dir):
    """x65's decode stage carries only (media_id, payload) into Python
    and the parquet scan reads only (doc_id, text) — same contract as
    the WAV/PNG paths."""
    import re

    from scardina_spark.catalog import load_table
    from scardina_spark.operators.multimodal import (
        decode_avi_features, documents_as_avi)
    docs = load_table(spark, sf_dir, "documents")
    out = decode_avi_features(documents_as_avi(docs))
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    decode_node = next(ln for ln in opt.splitlines()
                       if "MapInPandas" in ln)
    args = re.search(r"MapInPandas \w+\(([^)]*)\)", decode_node).group(1)
    cols = [a.split("#")[0].strip() for a in args.split(",")]
    assert cols == ["media_id", "payload"], decode_node
    ep = out._jdf.queryExecution().executedPlan().toString()
    rs = re.search(r"ReadSchema: struct<([^>]*)>", ep).group(1)
    assert sorted(f.split(":")[0] for f in rs.split(",")) == [
        "doc_id", "text"], rs
