"""Property-based graph-sink tests: random op sequences vs a plain
Python dict/set model of the store semantics."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ig_etl_sync_spark.operators.graph import GraphStore

KEY = st.sampled_from(["a", "b", "c", "d", "e"])
VAL = st.sampled_from(["x", "y", "z"])

OPS = st.lists(
    st.one_of(
        # write_nodes takes one row per key (a reconcile diff's shape)
        st.tuples(
            st.just("upsert"),
            st.lists(st.tuples(KEY, VAL), min_size=1, max_size=4, unique_by=lambda r: r[0]),
        ),
        st.tuples(st.just("delete"), st.lists(KEY, min_size=1, max_size=3)),
        st.tuples(st.just("edge"), st.lists(st.tuples(KEY, KEY), min_size=1, max_size=4)),
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(ops=OPS)
def test_graph_matches_model(spark, tmp_path_factory, ops):
    root = tmp_path_factory.mktemp("g")
    g = GraphStore(spark, str(root))

    model_nodes: dict[str, str] = {}  # key -> name
    model_edges: set[tuple[str, str]] = set()

    for op, payload in ops:
        if op == "upsert":
            df = spark.createDataFrame(payload, "external_id string, name string")
            g.write_nodes("n", to_create=df)
            model_nodes.update(payload)
        elif op == "delete":
            df = spark.createDataFrame([(k,) for k in payload], "external_id string")
            g.write_nodes("n", to_delete=df)
            for k in payload:
                model_nodes.pop(k, None)
            model_edges = {
                (a, b) for a, b in model_edges if a not in payload and b not in payload
            }
        else:  # edge n->n
            df = spark.createDataFrame(payload, "a_id string, b_id string")
            g.write_edges("n", "rel", "n", df)
            for a, b in payload:
                if a in model_nodes and b in model_nodes:
                    model_edges.add((a, b))

    got_nodes = (
        {r["external_id"]: r["name"] for r in g.nodes("n").collect()}
        if g.nodes("n") is not None
        else {}
    )
    got_edges = (
        {(r["a_id"], r["b_id"]) for r in g.edges("n", "rel", "n").collect()}
        if g.edges("n", "rel", "n") is not None
        else set()
    )
    assert got_nodes == model_nodes
    assert got_edges == model_edges
    assert g.orphan_edge_count() == 0
