"""Tree-relation tests: rows, the Arrow table, its Spark frame, dict
roundtrip."""

import ast
import random
from pathlib import Path

import pytest
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

import firebase_realtime_database_backup_spark
from firebase_realtime_database_backup_spark.sources.firebase import (
    FakeFirebase,
    FirebaseExtractor,
)
from firebase_realtime_database_backup_spark.sources.tree import (
    rows_from_dict,
    tree_frame,
    tree_table,
    tree_to_dict,
)

#: The tree frame's Spark schema, spelled out: `tree_frame` derives it
#: from the Arrow TREE_SCHEMA.
SPARK_TREE_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("key", StringType(), False),
        StructField("value_json", StringType(), False),
        StructField("depth", IntegerType(), False),
    ]
)

NESTED = {
    "a": {"x": 1, "y": {"deep": "v"}},
    "b": "leaf",
    "c": {"only": {"chain": {"end": 9}}},
}


def test_tree_from_dict_roundtrip():
    assert tree_to_dict(tree_table(rows_from_dict(NESTED))) == NESTED


def test_rows_one_per_node(spark):
    rows = rows_from_dict(NESTED)
    # nodes: a, a/x, a/y, a/y/deep, b, c, c/only, c/only/chain, c/only/chain/end
    assert len(rows) == 9
    assert all(r[3] == r[0].rstrip("/").count("/") + 1 or r[0] == "/" for r in rows)


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
    listed = spark.createDataFrame(rows, SPARK_TREE_SCHEMA)
    assert arrow.schema == listed.schema == SPARK_TREE_SCHEMA
    assert sorted(map(tuple, arrow.collect())) == sorted(map(tuple, listed.collect()))


def test_tree_frame_empty(spark):
    df = tree_frame(spark, tree_table([]))
    assert df.schema == SPARK_TREE_SCHEMA
    assert df.count() == 0
    assert tree_to_dict(df.toArrow()) == {}


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
