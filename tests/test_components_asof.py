"""Connected-components dedup groups + as-of join, both against exact
DuckDB oracles (recursive CTE / native ASOF JOIN)."""

from pyspark.sql import functions as F

from scardina_spark.operators.asof import asof_join
from scardina_spark.operators.components import (
    connected_components, dup_groups)


def test_components_multihop_chain(spark):
    # chain 1-2-3-4 plus island 7-8: transitive closure needs >1 round
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], ["id_a", "id_b"])
    cc = {r["node"]: r["component"]
          for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_components_match_duckdb_recursive(spark, duck):
    """Deterministic synthetic pair graph over documents; oracle = DuckDB
    recursive CTE computing min-reachable-id."""
    pairs_sql = """
        select d1.doc_id as id_a, d2.doc_id as id_b
        from documents d1 join documents d2 on d2.doc_id = d1.doc_id + 2
        where d1.doc_id % 7 = 0
        union
        select d1.doc_id, d2.doc_id
        from documents d1 join documents d2 on d2.doc_id = d1.doc_id + 4
        where d1.doc_id % 14 = 0
    """
    want = dict(duck.sql(f"""
        with recursive und as (
          select id_a a, id_b b from ({pairs_sql})
          union select id_b, id_a from ({pairs_sql})),
        reach(n, m) as (
          select a, a from und
          union
          select r.n, u.b from reach r join und u on r.m = u.a)
        select n as member_id, min(m) as keep_id from reach group by n
    """).fetchall())
    docs = duck.sql("select doc_id from documents").df()
    d = spark.createDataFrame(docs)
    d2 = d.withColumnRenamed("doc_id", "doc_id2")
    p1 = d.join(d2, F.col("doc_id2") == F.col("doc_id") + 2) \
        .where(F.col("doc_id") % 7 == 0)
    p2 = d.join(d2, F.col("doc_id2") == F.col("doc_id") + 4) \
        .where(F.col("doc_id") % 14 == 0)
    pairs = (p1.unionByName(p2)
             .select(F.col("doc_id").alias("id_a"),
                     F.col("doc_id2").alias("id_b")).distinct())
    got = {r["member_id"]: r["keep_id"] for r in dup_groups(pairs).collect()}
    assert got == {int(k): int(v) for k, v in want.items()}


def test_asof_join_matches_duckdb(spark, tables, duck):
    ev = tables["events"]
    left = ev.where(F.col("event_type") == "purchase") \
        .select("event_id", "user_id", "ts", "value")
    right = ev.where(F.col("event_type") == "signup") \
        .select("user_id", "ts", F.col("value").alias("signup_value"))
    out = asof_join(left, right, on="user_id")
    got = {r["event_id"]: r["signup_value"] for r in out.collect()}
    want = dict(duck.sql("""
        select l.event_id, r.value
        from (select * from events where event_type = 'purchase') l
        asof left join (select * from events where event_type = 'signup') r
          on l.user_id = r.user_id and l.ts >= r.ts
    """).fetchall())
    assert len(got) == len(want)
    for k, v in want.items():
        g = got[k]
        assert (g is None and v is None) or abs(g - v) < 1e-9, (k, g, v)


def test_asof_tolerance_voids_stale_matches(spark):
    import datetime as dt
    t = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t + dt.timedelta(seconds=100), 1.0)], ["k", "ts", "v"])
    right = spark.createDataFrame(
        [(1, t, 9.9)], ["k", "ts", "snap"])
    hit = asof_join(left, right, on="k", tolerance_seconds=200).collect()[0]
    assert hit["snap"] == 9.9
    miss = asof_join(left, right, on="k", tolerance_seconds=50).collect()[0]
    assert miss["snap"] is None


def test_canonical_groups_keep_best_quality(spark):
    from scardina_spark.operators.components import canonical_groups
    # component {1,2,3} (chain), component {10,11}; quality favors the
    # HIGHEST id in the first and ties in the second (lowest id wins)
    docs = spark.createDataFrame(
        [(1, 5.0), (2, 7.0), (3, 9.0), (10, 4.0), (11, 4.0), (99, 1.0)],
        "doc_id: long, q: double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a: long, id_b: long")
    g = {r["member_id"]: r["keep_id"]
         for r in canonical_groups(docs, pairs, "q").collect()}
    assert g == {1: 3, 2: 3, 3: 3, 10: 10, 11: 10}
    # no window in the keeper choice (struct-max aggregation)
    plan = (canonical_groups(docs, pairs, "q")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan


def test_merge_components_crafted_graph(spark):
    """Incremental merge semantics on a crafted graph: a delta pair
    bridges two standing components (both relabel to the global min),
    brand-new nodes form their own component, and an untouched
    component passes through with its label unchanged."""
    from scardina_spark.operators.components import (
        connected_components, merge_components)
    old = spark.createDataFrame(
        [(1, 2), (10, 11), (30, 31)], "id_a: long, id_b: long")
    assign = connected_components(old)
    delta = spark.createDataFrame(
        [(2, 10),    # bridges {1,2} and {10,11} -> all label 1
         (20, 21)],  # brand-new nodes -> component 20
        "id_a: long, id_b: long")
    got = {r["node"]: r["component"]
           for r in merge_components(assign, delta).collect()}
    assert got == {1: 1, 2: 1, 10: 1, 11: 1,
                   20: 20, 21: 20, 30: 30, 31: 30}


def test_merge_components_equals_batch_recompute(spark, tables):
    """The incremental result is bit-identical to a from-scratch
    recomputation over the union graph (the x62 oracle property), and
    the delta genuinely relabels something (discriminating split)."""
    from pyspark.sql import functions as F
    from scardina_spark.operators.components import (
        connected_components, merge_components)
    d = tables["documents"].select("doc_id")
    d2 = d.withColumnRenamed("doc_id", "doc_id2")
    p1 = d.join(d2, F.col("doc_id2") == F.col("doc_id") + 2) \
        .where(F.col("doc_id") % 7 == 0)
    p2 = d.join(d2, F.col("doc_id2") == F.col("doc_id") + 4) \
        .where(F.col("doc_id") % 14 == 0)
    pairs = (p1.unionByName(p2)
             .select(F.col("doc_id").alias("id_a"),
                     F.col("doc_id2").alias("id_b")).distinct())
    old = pairs.where(F.col("id_a") % 3 != 0)
    delta = pairs.where(F.col("id_a") % 3 == 0)
    assert 0 < delta.count() < pairs.count()
    assign = connected_components(old)
    inc = {(r["node"], r["component"])
           for r in merge_components(assign, delta).collect()}
    batch = {(r["node"], r["component"])
             for r in connected_components(pairs).collect()}
    assert inc == batch and inc
    # the merge is non-vacuous: the labeling gained nodes and/or
    # relabeled standing ones (bridging relabels are pinned by the
    # crafted-graph test; which case this corpus split exercises is
    # SF-dependent)
    old_labels = {r["node"]: r["component"] for r in assign.collect()}
    assert dict(inc) != old_labels


def test_merge_components_property_random_graphs_and_splits(spark):
    """Property (hypothesis): for ANY small graph and ANY old/delta
    edge split, merge_components(connected_components(old), delta) is
    bit-identical to connected_components(old ∪ delta) — the min-id
    star-graph equivalence the x62 oracle relies on, pinned over the
    whole split space rather than two crafted cases."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from scardina_spark.operators.components import (
        connected_components, merge_components)

    edges_s = st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14))
        .filter(lambda p: p[0] != p[1]),
        min_size=1, max_size=10, unique=True)

    @given(edges=edges_s, mask=st.integers(0, 2 ** 10 - 1))
    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def check(edges, mask):
        old = [e for i, e in enumerate(edges) if (mask >> i) & 1]
        delta = [e for i, e in enumerate(edges) if not (mask >> i) & 1]
        if not old or not delta:
            return
        schema = "id_a: long, id_b: long"
        assign = connected_components(
            spark.createDataFrame(old, schema))
        inc = {(r["node"], r["component"])
               for r in merge_components(
                   assign, spark.createDataFrame(delta, schema)).collect()}
        batch = {(r["node"], r["component"])
                 for r in connected_components(
                     spark.createDataFrame(edges, schema)).collect()}
        assert inc == batch

    check()


def test_merge_components_rejects_non_min_labeling(spark):
    """The documented precondition is enforced: a quality-canonical
    (non-min-id) labeling raises instead of silently diverging from
    the from-scratch recompute."""
    import pytest

    from scardina_spark.operators.components import merge_components
    bad_assign = spark.createDataFrame(
        [(1, 2), (2, 2)],  # component id 2 is not the min member
        "node: long, component: long")
    delta = spark.createDataFrame([(1, 5)], "id_a: long, id_b: long")
    with pytest.raises(ValueError, match="min-id"):
        merge_components(bad_assign, delta)
