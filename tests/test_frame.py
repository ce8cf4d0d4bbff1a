"""Core NetworkFrame semantics — ports of the reference's unit tests
(reference: tests/test_networkframe.py) plus the selection/join family.
"""

import pytest

from networkframe_spark import NetworkFrame


def ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


def pairs(df):
    return sorted((r["source"], r["target"]) for r in df.select("source", "target").collect())


# -- reference test ports (test_networkframe.py:37-72) ---------------------
def test_construction(letter_frame):
    assert isinstance(letter_frame, NetworkFrame)


def test_validate_bad_edges(spark):
    nodes = spark.createDataFrame([("A",), ("B",)], "id string")
    edges = spark.createDataFrame([("A", "Z")], "source string, target string")
    with pytest.raises(ValueError):
        NetworkFrame(nodes, edges, validate=True)


def test_validate_duplicate_ids(spark):
    nodes = spark.createDataFrame([("A",), ("A",)], "id string")
    edges = spark.createDataFrame([("A", "A")], "source string, target string")
    with pytest.raises(ValueError):
        NetworkFrame(nodes, edges, validate=True)


def test_len(letter_frame):
    assert len(letter_frame) == 4


def test_query_nodes(letter_frame):
    out = letter_frame.query_nodes("color == 'red'")
    assert len(out) == 2
    assert ids(out.nodes) == ["A", "D"]
    assert out.n_edges == 0  # no red-red edges


def test_query_edges(letter_frame):
    out = letter_frame.query_edges("weight > 2")
    assert out.n_edges == 2
    assert len(out) == 4  # nodes unchanged


def test_k_hop_neighborhood(letter_frame):
    for k, expected in [(0, 1), (1, 3), (2, 4)]:
        out = letter_frame.k_hop_neighborhood("A", k)
        assert len(out) == expected, f"k={k}"


# -- closure semantics -----------------------------------------------------
def test_query_nodes_closure(letter_frame):
    out = letter_frame.query_nodes("color == 'blue'")
    assert ids(out.nodes) == ["B", "C"]
    assert pairs(out.edges) == [("B", "C")]


def test_query_nodes_at_variable(letter_frame):
    out = letter_frame.query_nodes("size >= @threshold", local_dict={"threshold": 3})
    assert ids(out.nodes) == ["C", "D"]
    assert pairs(out.edges) == [("C", "D")]


def test_query_nodes_pandas_ops(letter_frame):
    out = letter_frame.query_nodes("(color == 'blue') & (size > 2)")
    assert ids(out.nodes) == ["C"]


def test_query_nodes_in_list(letter_frame):
    out = letter_frame.query_nodes("id in ['A', 'B']")
    assert ids(out.nodes) == ["A", "B"]
    assert pairs(out.edges) == [("A", "B")]


def test_inplace(letter_frame):
    res = letter_frame.query_nodes("color == 'blue'", inplace=True)
    assert res is None
    assert len(letter_frame) == 2


# -- selection family ------------------------------------------------------
def test_remove_nodes(letter_frame):
    out = letter_frame.remove_nodes(["A"])
    assert ids(out.nodes) == ["B", "C", "D"]
    assert pairs(out.edges) == [("B", "C"), ("C", "D")]


def test_remove_edges(spark, letter_frame):
    rm = spark.createDataFrame([("A", "B")], "source string, target string")
    out = letter_frame.remove_edges(rm)
    assert out.n_edges == 3
    assert len(out) == 4


def test_add_nodes_edges(spark, letter_frame):
    new_nodes = spark.createDataFrame([("E", "green", 5)], "id string, color string, size long")
    new_edges = spark.createDataFrame([("D", "E", 9)], "source string, target string, weight long")
    out = letter_frame.add_nodes(new_nodes).add_edges(new_edges)
    assert len(out) == 5
    assert out.n_edges == 5


def test_remove_unused_nodes(spark, letter_frame):
    iso = spark.createDataFrame([("Z", "grey", 0)], "id string, color string, size long")
    out = letter_frame.add_nodes(iso).remove_unused_nodes()
    assert ids(out.nodes) == ["A", "B", "C", "D"]


def test_reindex_nodes(letter_frame):
    out = letter_frame.reindex_nodes(["A", "B", "X"])
    assert ids(out.nodes) == ["A", "B", "X"]
    assert pairs(out.edges) == [("A", "B")]
    x = out.nodes.filter("id = 'X'").collect()[0]
    assert x["color"] is None and x["size"] is None


def test_loc(readme_frame):
    out = readme_frame.loc[[1, 2], [2, 3]]
    assert pairs(out.edges) == [(1, 2), (2, 3)]
    assert ids(out.nodes) == [1, 2, 3]


def test_loc_diagonal(readme_frame):
    out = readme_frame.loc[[1, 2], [1, 2]]
    assert pairs(out.edges) == [(1, 2), (2, 1)]
    assert ids(out.nodes) == [1, 2]


# -- joins -----------------------------------------------------------------
def test_apply_node_features(letter_frame):
    out = letter_frame.apply_node_features("color", axis="both")
    rows = {(r["source"], r["target"]): (r["source_color"], r["target_color"])
            for r in out.edges.collect()}
    assert rows[("A", "B")] == ("red", "blue")
    assert rows[("C", "D")] == ("blue", "red")


def test_apply_node_features_source_only(letter_frame):
    out = letter_frame.apply_node_features("size", axis="source")
    assert "source_size" in out.edges.columns
    assert "target_size" not in out.edges.columns


def test_node_agreement(letter_frame):
    other = letter_frame.query_nodes("color == 'red'")
    assert letter_frame.node_agreement(other) == pytest.approx(0.5)
    assert other.node_agreement(letter_frame) == pytest.approx(1.0)


def test_eq(letter_frame):
    same = letter_frame.query_nodes("size >= 1")
    assert letter_frame == same
    smaller = letter_frame.query_nodes("color == 'red'")
    assert letter_frame != smaller


def test_sources_targets_default(letter_frame):
    assert ids(letter_frame.sources) == ["A", "B", "C", "D"]
    assert letter_frame.source_nodes.columns == letter_frame.nodes.columns


# -- serde -----------------------------------------------------------------
def test_dict_roundtrip(spark, readme_frame):
    d = readme_frame.to_dict()
    back = NetworkFrame.from_dict(d, spark)
    assert back == readme_frame


def test_dict_roundtrip_keeps_null_doubles_as_local_tables(spark):
    """A null double attribute comes back null (not NaN) on both
    tables, and each table plans as a ``LocalRelation``, never a
    statistics-less ``LogicalRDD`` of pickled rows."""
    nf = NetworkFrame(
        spark.createDataFrame([(1, 0.5), (2, None)], "id long, x double"),
        spark.createDataFrame(
            [(1, 2, None), (2, 1, 1.5)], "source long, target long, weight double"
        ),
    )
    back = NetworkFrame.from_dict(nf.to_dict(), spark)
    assert sorted(map(tuple, back.nodes.collect())) == [(1, 0.5), (2, None)]
    assert sorted(map(tuple, back.edges.collect())) == [(1, 2, None), (2, 1, 1.5)]
    for df in (back.nodes, back.edges):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_repr(letter_frame):
    assert "nodes=4" in repr(letter_frame)
    assert "directed=True" in repr(letter_frame)


def test_closure_fusion_chain(letter_frame):
    """Chained node filters: result identical to one combined filter,
    and the physical plan contains exactly 2 semi-joins (fused), not 4."""
    chained = letter_frame.query_nodes("size > 1").query_nodes("size < 4")
    combined = letter_frame.query_nodes("size > 1 and size < 4")
    assert chained == combined
    plan = chained.edges._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftSemi") == 2


def test_closure_fusion_add_nodes_no_resurrection(spark):
    """Re-adding a dropped node must NOT resurrect its dropped edges."""
    from networkframe_spark import NetworkFrame

    nodes = spark.createDataFrame([(1,), (2,)], "id long")
    edges = spark.createDataFrame([(1, 2)], "source long, target long")
    nf = NetworkFrame(nodes, edges)
    dropped = nf.query_nodes("id != 2")
    assert dropped.edges.count() == 0
    readded = dropped.add_nodes(spark.createDataFrame([(2,)], "id long"))
    refiltered = readded.query_nodes("id >= 0")  # keeps everything
    assert refiltered.edges.count() == 0  # edge stays dropped


def test_closure_fusion_query_edges_resets(letter_frame):
    """query_edges replaces the edge table; a later node filter closes
    against the filtered edges, not the originals."""
    ef = letter_frame.query_edges("weight >= 3")  # keeps B->C, C->D
    out = ef.query_nodes("size >= 2")  # drops A
    got = {(r["source"], r["target"]) for r in out.edges.collect()}
    assert got == {("B", "C"), ("C", "D")}


def test_save_load_graph_roundtrip(spark, letter_frame, tmp_path):
    from networkframe_spark.sources import load_graph, save_graph

    path = str(tmp_path / "g")
    save_graph(letter_frame, path, edge_buckets=2)
    back = load_graph(spark, path, validate=True)
    assert back == letter_frame
    assert back.directed == letter_frame.directed


def test_multilayer(spark):
    """Functional multilayer surface (the reference's class is an
    all-pass stub, multilayer.py:4-23 — semantics here are ours):
    per-layer queries, deterministic flatten, summary."""
    from networkframe_spark import NetworkFrame
    from networkframe_spark.multilayer import MultilayerNetworkFrame

    nodes = spark.createDataFrame(
        [(0, "x"), (1, "y"), (2, "z")], "id long, attr string"
    )
    road = NetworkFrame(nodes, spark.createDataFrame(
        [(0, 1), (1, 2)], "source long, target long"))
    rail = NetworkFrame(
        nodes.filter("id < 2"),
        spark.createDataFrame([(1, 0)], "source long, target long"),
    )
    ml = MultilayerNetworkFrame({"road": road, "rail": rail})
    assert ml.layer_names == ["rail", "road"]
    assert ml["road"].n_edges == 2

    flat = ml.flatten()
    assert len(flat) == 3  # deduped node space
    assert flat.n_edges == 3
    layers = {(r["source"], r["target"]): r["layer"] for r in flat.edges.collect()}
    assert layers[(1, 0)] == "rail" and layers[(0, 1)] == "road"

    # per-layer induced filter
    small = ml.query_nodes("id < 2")
    assert small["road"].n_edges == 1  # 0->1 survives, 1->2 dropped
    assert small["rail"].n_edges == 1

    summ = {r["layer"]: (r["n_nodes"], r["n_edges"]) for r in ml.layer_summary().collect()}
    assert summ == {"road": (3, 2), "rail": (2, 1)}

    ml2 = ml.add_layer("air", road)
    assert len(ml2) == 3 and len(ml) == 2
    assert ml2.drop_layer("air").layer_names == ml.layer_names


def test_graph_parquet_partitioned_roundtrip(spark, letter_frame, tmp_path):
    """save_graph(partition_edges_by=...): hive-partitioned edge writes
    round-trip with values intact (column order may differ)."""
    from networkframe_spark.sources import load_graph, save_graph

    p2 = str(tmp_path / "g2")
    save_graph(letter_frame, p2, partition_edges_by="weight")
    back2 = load_graph(spark, p2)
    got = sorted(
        (r["source"], r["target"], r["weight"])
        for r in back2.edges.collect()
    )
    want = sorted(
        (r["source"], r["target"], r["weight"])
        for r in letter_frame.edges.collect()
    )
    assert got == want


def test_group_names_guard_raises_on_high_cardinality(letter_frame, monkeypatch):
    """source/target_group_names enumerate distinct keys driver-side;
    above the cap they must fail loudly and point at the DataFrame
    form instead of OOMing the driver."""
    import pytest

    from networkframe_spark.groupby import NodeGroupBy

    gb = letter_frame.groupby_nodes("color")
    monkeypatch.setattr(NodeGroupBy, "_MAX_GROUP_NAMES", 1)
    with pytest.raises(ValueError, match="source_groups"):
        gb.source_group_names
    monkeypatch.setattr(NodeGroupBy, "_MAX_GROUP_NAMES", 2)
    assert sorted(gb.source_group_names) == ["blue", "red"]


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([("1",), ("b",), (None,)], "id string"),
        ([(1,), (None,), (3,)], "id long"),
        ([(7, [1.5, -2.0], b"\x00\xff")], "id long, v array<double>, b binary"),
        ([(None, None, None)], "id long, v array<double>, b binary"),
        ([], "id string, v array<double>"),
    ],
)
def test_local_table_equals_row_path(spark, rows, schema):
    """The Arrow-built driver table has the row path's schema and rows:
    int/str/None values, ``array<double>``, ``binary``, one-row and empty
    inputs alike."""
    from networkframe_spark.session import local_table

    got = local_table(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_as_id_df_matches_row_path_for_int_str_none(spark):
    """``_as_id_df`` keeps its contract through Arrow: a string column
    cast to the node-id type, ``str()`` of an int, str or ``None`` id
    giving what the row path gave, and a scalar taken as a one-id list."""
    from pyspark.sql import functions as F

    from networkframe_spark.frame import _as_id_df

    for id_type, ids in (("long", [3, "4", None]), ("string", ["A", 5, None])):
        like = spark.createDataFrame([], f"id {id_type}")
        got = _as_id_df(spark, ids, like)
        want = spark.createDataFrame([(i,) for i in ids], "id string").select(
            F.col("id").cast(id_type).alias("id")
        )
        assert got.schema == want.schema
        assert got.collect() == want.collect()
    assert _as_id_df(spark, 9, like).collect() == [("9",)]


def test_frame_methods_bind_module_functions_instead_of_wrapping():
    """Repo lint: a ``NetworkFrame`` method whose body is only an import
    and ``return f(self, <its own params>)`` declares the function's
    signature and defaults a second time; bind the function instead
    (``pagerank = _alg.pagerank``).  Each bound name is the module
    function itself, whose first parameter is the frame."""
    import ast
    import inspect
    import pathlib

    from networkframe_spark import algorithms, exports, frame

    tree = ast.parse(pathlib.Path(frame.__file__).read_text())
    cls = next(
        n for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == "NetworkFrame"
    )

    def forwards(fn):
        body = fn.body[1:] if ast.get_docstring(fn) else fn.body
        if len(body) != 2 or not isinstance(body[0], ast.ImportFrom):
            return False
        call = body[1].value if isinstance(body[1], ast.Return) else None
        if not isinstance(call, ast.Call) or not call.args:
            return False
        passed = [ast.unparse(a) for a in call.args] + [
            k.arg for k in call.keywords if ast.unparse(k.value) == k.arg
        ]
        own = [a.arg for a in fn.args.args]
        # groupby_nodes takes (and drops) **kwargs: not a pure forward
        return passed == own and not (fn.args.vararg or fn.args.kwarg)

    wrappers = [
        fn.name for fn in cls.body
        if isinstance(fn, ast.FunctionDef) and forwards(fn)
    ]
    assert not wrappers, f"pass-through wrappers (bind the function): {wrappers}"
    modules = {"_alg": algorithms, "_exp": exports}
    bound = {
        node.targets[0].id: getattr(modules[node.value.value.id], node.value.attr)
        for node in cls.body
        if isinstance(node, ast.Assign)
        and isinstance(node.value, ast.Attribute)
        and ast.unparse(node.value.value) in modules
    }
    assert len(bound) == 36
    for name, fn in bound.items():
        assert NetworkFrame.__dict__[name] is fn, name
        assert next(iter(inspect.signature(fn).parameters)) == "frame", name
    assert NetworkFrame.pagerank is algorithms.pagerank
    assert NetworkFrame.component_labels is algorithms.connected_component_labels
    assert NetworkFrame.k_hop_pairs is algorithms.k_hop_pair_table
    assert NetworkFrame.metrics is algorithms.graph_metrics
    assert NetworkFrame.to_networkx is exports.to_networkx
