"""The `tree` relation: a Firebase-style JSON tree as rows
(SURVEY.md §1.3).

    tree(path: string, key: string, value_json: string, depth: int)

One row per (parent path, child key) — exactly the unit the reference
pages over REST (src/BackupProcessor.php:150-200).  `value_json` holds
the child's whole subtree as canonical JSON (sorted keys), so a row can
be a scalar leaf or a nested subtree.

Tree rows live on the driver as Arrow, never as a Python row list:
`tree_table` builds one typed `pyarrow.Table` (TREE_SCHEMA), which the
snapshot writer writes, the diff joins and the writeback scans, and
`tree_frame` hands the JVM when a caller wants a DataFrame.  The frame
keeps that table, so `frame_table` gives its rows back to the driver
with no Spark job; only a frame that `tree_frame` did not build (read
from a snapshot, or derived by a transformation) is collected with
`toArrow()`.  Nothing here imports pyspark at module level, so the
export, diff and import paths load no Spark.
"""

from __future__ import annotations

import json
from collections.abc import Sequence
from typing import TYPE_CHECKING, Any

import pyarrow as pa

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

#: The type of a `tree_table`; Spark's form is `from_arrow_schema` of it.
TREE_SCHEMA = pa.schema(
    [
        pa.field("path", pa.string(), nullable=False),
        pa.field("key", pa.string(), nullable=False),
        pa.field("value_json", pa.string(), nullable=False),
        pa.field("depth", pa.int32(), nullable=False),
    ]
)


def _encodes(s: str) -> bool:
    try:
        s.encode("utf-8")
    except UnicodeEncodeError:
        return False
    return True


#: `canonical_json`'s two encoders, built once: `json.dumps` with
#: non-default arguments builds a new `JSONEncoder` on every call, and
#: the extract encodes every row.  An encoder keeps no state between
#: calls, so the extract threads share them.
_UTF8_ENCODER = json.JSONEncoder(sort_keys=True, separators=(",", ":"), ensure_ascii=False)
_ASCII_ENCODER = json.JSONEncoder(sort_keys=True, separators=(",", ":"))


def canonical_json(value: Any) -> str:
    """Deterministic JSON encoding (sorted keys, no whitespace):
    `json.dumps(value, sort_keys=True, separators=(",", ":"),
    ensure_ascii=False)`.

    A lone UTF-16 surrogate (JSON "\\ud800") has no UTF-8 form, so a
    value holding one is written with ASCII escapes instead; `json.loads`
    restores it exactly, where storing it raw would fail or be replaced
    by U+FFFD."""
    out = _UTF8_ENCODER.encode(value)
    if _encodes(out):
        return out
    return _ASCII_ENCODER.encode(value)


def column_list(column: pa.ChunkedArray | pa.Array) -> list:
    """An Arrow column as a Python list, like `to_pylist()` but through
    numpy: `to_pylist()` boxes every element as an Arrow scalar first,
    which costs ~15x as much on a string column."""
    return column.to_numpy(zero_copy_only=False).tolist()


def child_path(path: str, key: str) -> str:
    """Append a child key — the reference's `$path.'/'.$childKey`
    (src/BackupProcessor.php:115)."""
    return (path.rstrip("/") or "") + "/" + key


def path_depth(path: str) -> int:
    return 0 if path in ("", "/") else path.rstrip("/").count("/")


def rows_from_dict(d: dict, path: str = "/") -> list[tuple[str, str, str, int]]:
    """Fully-flattened tree rows for a nested dict: one row per node
    (maps included, encoded as their canonical JSON).  Test/reference
    fixture helper — the extractor produces page-grained rows instead."""
    out: list[tuple[str, str, str, int]] = []
    depth = path_depth(path) + 1
    for key in sorted(d):
        value = d[key]
        out.append((path, key, canonical_json(value), depth))
        if isinstance(value, dict) and value:
            out.extend(rows_from_dict(value, child_path(path, key)))
    return out


def tree_table(rows: Sequence[tuple[str, str, str, int]]) -> pa.Table:
    """The (path, key, value_json, depth) rows as one Arrow table typed
    TREE_SCHEMA: what a snapshot is written from and what `tree_frame`
    hands the JVM.

    A path or key holding a lone UTF-16 surrogate cannot be stored as
    UTF-8 and, unlike a value, cannot be escaped: it raises a
    ValueError naming the path."""
    cols = list(zip(*rows)) or [()] * len(TREE_SCHEMA)
    try:
        arrays = [pa.array(c, f.type) for c, f in zip(cols, TREE_SCHEMA)]
    except UnicodeEncodeError:
        path, key = next(
            (p, k) for p, k, v, _ in rows if not _encodes(p + k + v)
        )
        raise ValueError(
            f"tree row {key!r} at path {path!r} holds a lone UTF-16 "
            "surrogate, which UTF-8 cannot store"
        ) from None
    return pa.Table.from_arrays(arrays, schema=TREE_SCHEMA)


def tree_frame(spark: SparkSession, table: pa.Table) -> DataFrame:
    """The tree DataFrame of a `tree_table`, sent to the JVM as one Arrow
    table rather than as a pickled row list (which costs a Python-side
    schema check per row and a slower first job over the result).  Runs
    no Spark job.

    The frame keeps `table`, which `frame_table` hands back.  That is
    exact: the frame and the table are both immutable, every
    transformation returns a new frame, which does not carry the table,
    and `cache()` and `persist()` return this frame with its rows."""
    from pyspark.sql.pandas.types import from_arrow_schema

    frame = spark.createDataFrame(table, from_arrow_schema(TREE_SCHEMA))
    frame._tree_table = table
    return frame


def frame_table(frame: DataFrame) -> pa.Table:
    """A tree frame's rows as an Arrow table on the driver: the table
    `tree_frame` built it from (no Spark job), or for any other frame its
    `toArrow()` (one job).  The table is looked up in the frame's own
    attributes: on a miss, `getattr` would fall through to pyspark's
    `DataFrame.__getattr__`, which asks the JVM for the column list."""
    table = vars(frame).get("_tree_table")
    return frame.toArrow() if table is None else table


def tree_to_dict(tree: pa.Table) -> dict:
    """Driver-side reassembly of the nested dict of a tree table
    (test/roundtrip helper — never use on production-scale trees)."""
    root: dict = {}
    cols = [column_list(tree.column(c)) for c in ("depth", "path", "key", "value_json")]
    seen_paths = set(cols[1])
    for _, path, key, value_json in sorted(zip(*cols)):
        node = root
        if path not in ("", "/"):
            for seg in path.strip("/").split("/"):
                node = node.setdefault(seg, {})
        parsed = json.loads(value_json)
        if isinstance(parsed, dict) and child_path(path, key) in seen_paths:
            # children rows exist; let them fill the subtree
            node.setdefault(key, {})
        else:
            node[key] = parsed
    return root
