"""Tree-relation tests: flatten, subtree, leaves, dict roundtrip."""

import ast
import json
import random
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import firebase_realtime_database_backup_spark
from firebase_realtime_database_backup_spark.sources.firebase import (
    FakeFirebase,
    FirebaseExtractor,
)
from firebase_realtime_database_backup_spark.sources.tree import (
    TREE_SCHEMA,
    flatten_full,
    flatten_level,
    leaves,
    rows_from_dict,
    subtree,
    tree_frame,
    tree_from_dict,
    tree_table,
    tree_to_dict,
)

NESTED = {
    "a": {"x": 1, "y": {"deep": "v"}},
    "b": "leaf",
    "c": {"only": {"chain": {"end": 9}}},
}


def test_tree_from_dict_roundtrip(spark):
    df = tree_from_dict(spark, NESTED)
    assert tree_to_dict(df) == NESTED


def test_rows_one_per_node(spark):
    rows = rows_from_dict(NESTED)
    # nodes: a, a/x, a/y, a/y/deep, b, c, c/only, c/only/chain, c/only/chain/end
    assert len(rows) == 9
    assert all(r[3] == r[0].rstrip("/").count("/") + 1 or r[0] == "/" for r in rows)


def test_flatten_level_peels_one_level(spark):
    # page-grained single row holding the whole subtree
    row = [("/", "a", json.dumps({"x": "1", "y": "2"}), 1)]
    df = spark.createDataFrame(row, "path string, key string, value_json string, depth int")
    out = flatten_level(df).collect()
    got = {(r.path, r.key, r.value_json, r.depth) for r in out}
    assert got == {("/a", "x", "1", 2), ("/a", "y", "2", 2)}


def test_flatten_full_reaches_fixpoint(spark):
    deep = {"a": {"b": {"c": {"d": "leaf"}}}}
    df = spark.createDataFrame(
        [("/", "a", json.dumps(deep["a"]), 1)],
        "path string, key string, value_json string, depth int",
    )
    out = flatten_full(df)
    rows = {(r.path, r.key, r.value_json) for r in out.collect()}
    assert ("/a/b/c", "d", '"leaf"') in rows or ("/a/b/c", "d", "leaf") in rows
    # no map-valued rows remain
    assert (
        out.filter(
            F.col("value_json").startswith("{") & (F.col("value_json") != "{}")
        ).count()
        == 0
    )


def test_subtree_filter(spark):
    df = tree_from_dict(spark, NESTED)
    sub = subtree(df, "/a")
    assert {r.path for r in sub.collect()} == {"/a", "/a/y"}


def test_leaves_only_scalars(spark):
    df = tree_from_dict(spark, NESTED)
    lv = leaves(df)
    vals = {r.value_json for r in lv.collect()}
    assert '"leaf"' in vals and "1" in vals
    assert not any(v.startswith("{") and v != "{}" for v in vals)


def _random_tree(rng: random.Random, depth: int):
    if depth == 0 or rng.random() < 0.3:
        return rng.choice([rng.randint(0, 10**6), "w" + str(rng.randint(0, 999)), True, [1, 2]])
    return {
        f"n{rng.randint(0, 10**4):05d}": _random_tree(rng, depth - 1)
        for _ in range(rng.randint(1, 6))
    }


def _chain(levels: int) -> dict:
    tree: dict = {"payload": "y" * 500}
    for i in reversed(range(levels)):
        tree = {f"lvl{i:02d}": tree}
    return tree


#: (tree, payload budget) pairs shaped like the extractor tests': page
#: boundaries, a hot node that goes deeper, a deep chain, unicode keys,
#: mixed leaf types and a random tree
EXTRACTOR_TREES = [
    ({f"-N{i:05d}": {"v": i} for i in range(57)}, None),
    ({"a": 1, "b": 2, "hot": {f"g{i:04d}": "x" * 50 for i in range(200)}, "z": 3}, 2000),
    (_chain(50), 600),
    ({"héllo": 1, "用户": {"x": "中文值"}, "a b": True, "-Nzz": [1, 2, 3]}, None),
    ({"s": "str", "i": 42, "f": 2.5, "b": False, "arr": [1, "two", 3.0],
      "nested": {"deep": {"leaf": "v"}}}, None),
    ({f"t{i:03d}": _random_tree(random.Random(1), 4) for i in range(5)}, 700),
]


@pytest.mark.parametrize("tree,budget", EXTRACTOR_TREES)
def test_tree_frame_matches_list_built_frame(spark, tree, budget):
    """The Arrow-built frame has the list-built frame's schema, nullability
    included, and its rows."""
    rows = list(FirebaseExtractor(FakeFirebase(tree, max_payload_bytes=budget)).iter_rows())
    arrow = tree_frame(spark, tree_table(rows))
    listed = spark.createDataFrame(rows, TREE_SCHEMA)
    assert arrow.schema == listed.schema == TREE_SCHEMA
    assert sorted(map(tuple, arrow.collect())) == sorted(map(tuple, listed.collect()))


def test_tree_frame_empty(spark):
    df = tree_frame(spark, tree_table([]))
    assert df.schema == TREE_SCHEMA
    assert df.count() == 0
    assert tree_to_dict(df) == {}


def test_tree_frames_built_only_by_tree_frame():
    """Tree rows reach Spark only through tree_frame's Arrow table: no
    engine module calls createDataFrame with TREE_SCHEMA elsewhere."""
    pkg = Path(firebase_realtime_database_backup_spark.__file__).parent

    def names_tree_schema(call: ast.Call) -> bool:
        return any(
            (isinstance(n, ast.Name) and n.id == "TREE_SCHEMA")
            or (isinstance(n, ast.Attribute) and n.attr == "TREE_SCHEMA")
            for arg in [*call.args, *(k.value for k in call.keywords)]
            for n in ast.walk(arg)
        )

    allowed, offenders = set(), []
    for py in sorted(pkg.rglob("*.py")):
        mod = ast.parse(py.read_text(), str(py))
        for fn in ast.walk(mod):
            if isinstance(fn, ast.FunctionDef) and fn.name == "tree_frame":
                allowed.update(id(n) for n in ast.walk(fn))
        for node in ast.walk(mod):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
                and names_tree_schema(node)
            ):
                offenders.append(f"{py.relative_to(pkg)}:{node.lineno}")
    assert allowed, "tree_frame not found"
    assert not offenders, offenders
