"""Schema graph + subschema derivation unit tests (SURVEY §1.1)."""

from scardina_spark.catalog import build_tpch_schema
from scardina_spark.schema import SchemaGraph, Subschema


def test_tpch_schema_shape():
    sg = build_tpch_schema()
    assert set(sg.table_names) == {
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem"}
    assert len(sg.relationships()) == 7


def test_cin_subschemas_cover_every_table():
    sg = build_tpch_schema()
    subs = sg.cin_subschemas()
    centers = {ss.center for ss in subs.values()}
    assert centers == set(sg.table_names)
    # lineitem's CIN = lineitem + orders + part + supplier
    li = [ss for ss in subs.values() if ss.center == "lineitem"]
    assert len(li) == 1
    assert li[0].tables == {"lineitem", "orders", "part", "supplier"}
    # region has no in-edges -> single-table subschema
    rg = [ss for ss in subs.values() if ss.center == "region"]
    assert rg[0].tables == {"region"}


def test_parallel_edges_expand_cartesian():
    sg = SchemaGraph("m")  # movie-style: two FKs from cast to person
    sg.add_table("person", pk="id")
    sg.add_table("cast")
    sg.add_relationship("person", "id", "cast", "actor_id")
    sg.add_relationship("person", "id", "cast", "director_id")
    subs = sg.cin_subschemas()
    cast_subs = [ss for ss in subs.values() if ss.center == "cast"]
    assert len(cast_subs) == 2  # one per parallel-edge choice
    fks = {ss.rels[0].fk_col for ss in cast_subs}
    assert fks == {"actor_id", "director_id"}


def test_join_tree_is_bfs_and_rejects_cycles():
    sg = build_tpch_schema()
    ur = Subschema("tpch_all", "lineitem", tuple(sg.relationships()))
    # the tpch graph has two paths region->nation->{customer,supplier}->...:
    # nation->customer->orders->lineitem and nation->supplier->lineitem form
    # a cycle through lineitem, so the full UR graph is NOT a tree.
    try:
        ur.join_tree("lineitem")
        assert False, "expected cycle rejection"
    except ValueError:
        pass
    # lineitem CIN subschema is a tree
    subs = sg.cin_subschemas()
    li = [ss for ss in subs.values() if ss.center == "lineitem"][0]
    edges = li.join_tree("lineitem")
    assert len(edges) == 3
    assert all(parent == "lineitem" for parent, _, _ in edges)
