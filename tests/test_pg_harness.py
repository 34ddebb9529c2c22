"""Live-Postgres plan-cost harness: embedded server lifecycle, COPY
load fidelity, reproducible planner statistics, card store roundtrip,
join-order forcing, and the PPC ratio's sign on a deliberately
distorted card set.  All tests skip when the environment ships no
PostgreSQL binaries."""

from __future__ import annotations

import os

import pytest

from scardina_spark.estimators import pg as PG

pytestmark = pytest.mark.skipif(not PG.pg_available(),
                                reason="no PostgreSQL binaries")

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def server():
    srv = PG.ensure_server()
    yield srv
    srv.stop()


@pytest.fixture(scope="module")
def db(server):
    return PG.load_sf_tables(server, SF_DIR)


def _left_deep(order):
    """The left-deep plan tree that joins ``order`` first to last."""
    tree = order[0]
    for a in order[1:]:
        tree = (tree, a)
    return tree


def test_load_matches_parquet_counts(server, db):
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "orders", "lineitem"):
        want = con.sql(
            f"SELECT count(*) FROM '{SF_DIR}/{t}.parquet'").fetchone()[0]
        got = int(server.psql(f"SELECT count(*) FROM {t}", db).strip())
        assert got == want, t


def test_query_results_match_duckdb(server, db):
    import duckdb
    con = duckdb.connect()
    sql = ("SELECT COUNT(*) FROM lineitem l, orders o WHERE "
           "l.l_orderkey = o.o_orderkey AND l.l_quantity > 30 "
           "AND o.o_orderstatus = 'F'")
    con.sql(f"CREATE VIEW lineitem AS SELECT * FROM "
            f"'{SF_DIR}/lineitem.parquet'")
    con.sql(f"CREATE VIEW orders AS SELECT * FROM "
            f"'{SF_DIR}/orders.parquet'")
    want = con.sql(sql).fetchone()[0]
    got = int(server.psql(sql, db).strip())
    assert got == want


def test_card_store_roundtrip(server, db):
    rows = [{"node": "a b c", "card": 7}, {"node": "x 'y'", "card": 0}]
    back = PG.store_cards(server, db, rows, table="t_cards_test")
    assert back == {"a b c": 7, "x 'y'": 0}


def test_forced_order_is_respected_and_costed(server, db):
    from scardina_spark.plans.parse import parse_query
    sql = ("SELECT COUNT(*) FROM lineitem l, orders o, customer c WHERE "
           "l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey")
    pq = parse_query(sql)
    for order in (("l", "o", "c"), ("c", "o", "l")):
        forced = PG.forced_join_sql_tree(pq, _left_deep(order))
        cost, join_sets = PG.explain_cost(server, db, forced,
                                          force_order=True)
        assert cost > 0
        assert PG.order_respected(order, join_sets), (order, join_sets)
    # forcing changes the plan tree: the two orders differ structurally
    _, js1 = PG.explain_cost(
        server, db, PG.forced_join_sql_tree(pq, _left_deep(("l", "o", "c"))),
        force_order=True)
    _, js2 = PG.explain_cost(
        server, db, PG.forced_join_sql_tree(pq, _left_deep(("c", "o", "l"))),
        force_order=True)
    assert set(js1) != set(js2)


def test_forced_count_matches_flat_count(server, db):
    """The rewritten JOIN nesting is semantics-preserving: same count
    as the flat comma-join form."""
    from scardina_spark.plans.parse import parse_query
    sql = ("SELECT COUNT(*) FROM lineitem l, orders o WHERE "
           "l.l_orderkey = o.o_orderkey AND l.l_quantity > 45")
    pq = parse_query(sql)
    flat = int(server.psql(sql, db).strip())
    forced = int(server.psql(
        PG.forced_join_sql_tree(pq, ("o", "l")), db).strip())
    assert forced == flat


def test_row_estimates_batched_and_sane(server, db):
    """Native planner estimates: batching preserves order/count, the
    aggregate scaffolding is unwrapped (join rows, not the COUNT's 1),
    and an unfiltered single-table estimate is near-exact (ANALYZE has
    full visibility there)."""
    sqls = ["SELECT COUNT(*) FROM region",
            "SELECT COUNT(*) FROM lineitem WHERE l_quantity > 30",
            ("SELECT COUNT(*) FROM lineitem l, orders o WHERE "
             "l.l_orderkey = o.o_orderkey")]
    ests = PG.row_estimates(server, db, sqls, batch=2)  # forces 2 batches
    assert len(ests) == 3
    n_region = int(server.psql("SELECT count(*) FROM region", db).strip())
    assert ests[0] == n_region  # exact on a stats-covered base table
    assert all(e >= 1.0 for e in ests)
    n_li = int(server.psql("SELECT count(*) FROM lineitem", db).strip())
    assert 1.0 <= ests[1] <= n_li  # a filter estimate, not the COUNT's 1
    assert ests[2] > 1.0


def test_bushy_force_respected_structurally(server, db):
    """join_collapse_limit=1 must pin a genuinely BUSHY association:
    the EXPLAIN join nodes of a forced ((l,o),(s,n)) tree are the
    tree's internal alias sets — two disjoint multi-alias subtrees, a
    shape NO left-deep order produces — and the nesting rewrite is
    semantics-preserving (same count as the flat comma-join form)."""
    from scardina_spark.estimators.perror import tree_join_sets
    from scardina_spark.plans.parse import parse_query
    sql = ("SELECT COUNT(*) FROM lineitem l, orders o, supplier s, "
           "nation n WHERE l.l_orderkey = o.o_orderkey AND "
           "l.l_suppkey = s.s_suppkey AND "
           "s.s_nationkey = n.n_nationkey AND l.l_quantity > 45")
    pq = parse_query(sql)
    tree = (("l", "o"), ("s", "n"))
    forced = PG.forced_join_sql_tree(pq, tree)
    cost, join_sets = PG.explain_cost(server, db, forced,
                                      force_order=True)
    assert cost > 0
    assert PG.tree_respected(tree, join_sets), join_sets
    # the bushy shape is NOT any left-deep prefix chain
    internal = set(tree_join_sets(tree))
    assert frozenset({"l", "o"}) in internal
    assert frozenset({"s", "n"}) in internal
    prefix_chains = {frozenset(p[:k]) for p in [("l", "o", "s", "n")]
                     for k in range(2, 5)}
    assert internal != prefix_chains
    flat = int(server.psql(sql, db).strip())
    got = int(server.psql(forced, db).strip())
    assert got == flat
    # a left-deep force over the same query yields DIFFERENT join
    # nodes: the structural check discriminates shapes
    ld_tree = ((("l", "o"), "s"), "n")
    _, js_ld = PG.explain_cost(
        server, db, PG.forced_join_sql_tree(pq, ld_tree),
        force_order=True)
    assert PG.tree_respected(ld_tree, js_ld)
    assert not PG.tree_respected(tree, js_ld)
    assert not PG.tree_respected(ld_tree, join_sets)


def test_bushy_space_contains_and_beats_left_deep():
    """The DP's space strictly contains the left-deep slice: a card
    set engineered so both intermediates are tiny but every left-deep
    prefix is huge makes the bushy optimum strictly cheaper."""
    from scardina_spark.estimators.perror import (
        bushy_best_plan, left_deep_plans, plan_cost, plan_space_size,
        tree_join_sets)
    from scardina_spark.plans.parse import parse_query
    sql = ("SELECT COUNT(*) FROM lineitem l, orders o, supplier s, "
           "nation n WHERE l.l_orderkey = o.o_orderkey AND "
           "l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey")
    pq = parse_query(sql)
    assert plan_space_size(pq) > 0
    cards = {
        frozenset({"l"}): 1e6, frozenset({"o"}): 1e5,
        frozenset({"s"}): 1e4, frozenset({"n"}): 25.0,
        frozenset({"l", "o"}): 10.0, frozenset({"s", "n"}): 1e4,
        frozenset({"l", "s"}): 1e6, frozenset({"l", "o", "s"}): 1e6,
        frozenset({"l", "s", "n"}): 1e6,
        frozenset({"l", "o", "s", "n"}): 5.0,
    }
    tree, c_bushy = bushy_best_plan(pq, cards)
    c_ld = min(plan_cost(p, cards) for p in left_deep_plans(pq))
    assert c_bushy < c_ld
    # and the winner is the bushy shape, not a disguised chain
    internal = tree_join_sets(tree)
    assert frozenset({"l", "o"}) in internal
    assert frozenset({"s", "n"}) in internal


def test_pg_plan_error_truth_is_one_and_distortion_moves_it(server, db):
    from scardina_spark.benchmarks import perror_suite
    from scardina_spark.queries import _PPC_QUERY, _ppc_rows
    rows = _ppc_rows(SF_DIR)
    truths = {r["node"]: float(r["card"]) for r in rows}

    def as_sets(d):
        return {frozenset(k.split()): v for k, v in d.items()}

    sql = perror_suite()[_PPC_QUERY]
    res = PG.pg_plan_error(server, db, sql, as_sets(truths),
                           as_sets(truths))
    assert res["pe_pg"] == 1.0
    assert res["order_respected"]
    assert res["native_le_forced"]
    # distort one mid-size node by 1000x: the DP must flip the order
    # and the live planner must price the flip (ratio != 1)
    bad = dict(truths)
    k0 = sorted(bad)[len(bad) // 2]
    bad[k0] = max(1.0, bad[k0] * 1000)
    res2 = PG.pg_plan_error(server, db, sql, as_sets(bad), as_sets(truths))
    assert res2["order_est"] != res2["order_true"]
    assert res2["order_respected"]
    assert res2["pe_pg"] != 1.0


def test_forced_count_matches_flat_count_composite_key(server, db):
    """A COMPOSITE-key join (two predicates between the same alias
    pair) must survive the forced rewrite intact: dedup is by column
    pair, so dropping to the alias pair (a past bug) would silently
    change the forced query's semantics."""
    from scardina_spark.plans.parse import parse_query
    sql = ("SELECT COUNT(*) FROM lineitem l, lineitem m WHERE "
           "l.l_orderkey = m.l_orderkey AND l.l_quantity = m.l_quantity "
           "AND l.l_quantity > 45")
    pq = parse_query(sql)
    forced_sql = PG.forced_join_sql_tree(pq, ("l", "m"))
    assert "l.l_orderkey = m.l_orderkey" in forced_sql
    assert "l.l_quantity = m.l_quantity" in forced_sql
    flat = int(server.psql(sql, db).strip())
    forced = int(server.psql(forced_sql, db).strip())
    assert forced == flat


def test_method_sensitivity_regimes(server, db):
    """Disabling a join-method family really changes the costing
    regime (the restricted plan avoids that method), and the p-error
    computed under each regime is a sane positive ratio that equals
    1.0 when est and true cards agree (same tree both sides)."""
    import json as _json

    from scardina_spark.plans.parse import parse_query
    sql = ("SELECT COUNT(*) FROM lineitem l, orders o, customer c WHERE "
           "l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey "
           "AND l.l_quantity > 30")
    # the disabled family must vanish from the restricted plan
    out = server.psql(
        "SET enable_hashjoin = off; EXPLAIN (FORMAT JSON) " + sql + ";",
        db)
    plan = _json.loads(out[out.index("["):])
    assert "Hash Join" not in _json.dumps(plan)
    pq = parse_query(sql)
    cards = {frozenset(["l", "o"]): 100.0,
             frozenset(["o", "c"]): 50.0,
             frozenset(["l", "c"]): 1000.0,
             frozenset(["l", "o", "c"]): 120.0}
    r = PG.pg_plan_error(server, db, pq, cards, cards,
                         method_sensitivity=True)
    assert r["pe_pg"] == pytest.approx(1.0)
    for tag in PG.METHOD_REGIMES:
        assert r[f"pe_pg_{tag}"] == pytest.approx(1.0), tag
    # distorted est cards flip the DP's tree choice -> regime ratios
    # are still finite positives (possibly != the default-regime ratio)
    distorted = dict(cards)
    distorted[frozenset(["l", "o"])] = 1e9
    r2 = PG.pg_plan_error(server, db, pq, distorted, cards,
                          method_sensitivity=True)
    for tag in PG.METHOD_REGIMES:
        assert r2[f"pe_pg_{tag}"] > 0, tag
    assert r2["order_respected"]


def test_reanalyze_keeps_planner_statistics(server):
    """The native baseline's statistics are reproducible: at sf0.01 the
    lineitem statistics sample covers the table, so a fresh ANALYZE
    (what autovacuum or a reload would run) redraws exactly the
    same ``pg_stats``, and a repeat load keeps the stored statistics
    instead of running ANALYZE again."""
    sf_dir = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    db = PG.load_sf_tables(server, sf_dir)
    snap = ("SELECT attname, null_frac, avg_width, n_distinct, "
            "most_common_vals::text, most_common_freqs::text, "
            "histogram_bounds::text, correlation FROM pg_stats "
            "WHERE tablename = 'lineitem' ORDER BY attname")
    before = server.psql(snap, db)
    n_cols = int(server.psql(
        "SELECT count(*) FROM information_schema.columns "
        "WHERE table_name = 'lineitem'", db))
    assert len(before.splitlines()) == n_cols  # every column analyzed
    server.psql("ANALYZE lineitem", db)
    assert server.psql(snap, db) == before
    last = ("SELECT last_analyze FROM pg_stat_user_tables "
            "WHERE relname = 'lineitem'")
    stamp = server.psql(last, db)
    assert stamp.strip()
    PG.load_sf_tables(server, sf_dir)
    assert server.psql(last, db) == stamp
    assert server.psql(
        "SELECT reloptions::text FROM pg_class WHERE relname = 'lineitem'",
        db).strip() == "{autovacuum_enabled=false}"
