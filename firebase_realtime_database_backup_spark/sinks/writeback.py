"""Batched writeback sink: replay a tree dataset into a Firebase-style
store via merge-PATCH updates with AIMD batch sizing and recursive
split-on-failure (the reference's restore pipeline, R3-R6).

Mapping (SURVEY.md §2.A):
- R3 batched PATCH      slice N keys → update(path, slice)
                        (src/RestoreProcessor.php:70-106)
      → RESTORE_CONNECTIONS driver threads, one client each
- R4 AIMD batch sizing  halve on failure (floor 1), ×1.2 after 5
                        successes cap 1000 (src/RestoreProcessor.php:83,97-104)
      → the extract's controller (`sources.firebase.AimdState`, floor 1)
        per write unit: a path, or one key range of a wide path
- R5 split-on-failure   single-key update still fails ⇒ descend one
                        level and PATCH per child (src/RestoreProcessor.php:86-94);
                        a single scalar key that fails is retried, up to
                        GET_RETRIES attempts, like every extract GET
- R6 progress anti-join array_diff_key written keys
                        (src/RestoreProcessor.php:99)
      → structural: batches are disjoint slices, so "remaining keys"
        is the iterator position; the DataFrame-level form is
        df.join(written, keys, "left_anti")

Ordering hazard (SURVEY.md §7.4): Firebase update() is a merge at the
TARGET path, but replacing descendants it writes — so a parent-level
PATCH after a child-level PATCH can clobber the child.  The reference
dodges this with strictly sequential manifest order.  Here rows are
grouped by parent path (one PATCH never spans paths), and ancestors are
written before descendants across the WHOLE tree: rows are grouped by
depth, and a depth level starts only after every PATCH of the level
above has returned, split-on-failure descents (R5) included — a depth
barrier.  Within a level, RESTORE_CONNECTIONS threads write path units
concurrently; a path wider than `max_batch` keys is cut into at most
RESTORE_CONNECTIONS contiguous key ranges, each its own unit with its
own AIMD state.  Merge-PATCHes on disjoint keys commute, so the final
store equals a serial write's.

Read path: the tree arrives as a `pyarrow.dataset.Dataset` — a
snapshot's parquet files (`sinks.snapshot.snapshot_dataset`) or an
in-memory table — and is scanned on the driver, like the reference's
restore reads its local chunk files (src/RestoreProcessor.php:45-68):
no Spark job runs.  It is read one chunk of contiguous depth levels at
a time, so the driver holds one chunk plus one decoded level.
"""

from __future__ import annotations

import json
import math
import threading
from collections import defaultdict
from collections.abc import Callable, Iterable, Iterator
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from contextlib import closing
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from firebase_realtime_database_backup_spark.sources.firebase import (
    DEFAULT_MAX_IPP,
    GET_RETRIES,
    AimdState,
    FirebaseTransportError,
)
from firebase_realtime_database_backup_spark.sources.tree import column_list

MIN_BATCH = 1             # src/RestoreProcessor.php:83 floor
RESTORE_CONNECTIONS = 8   # driver-side restore threads, one client each
RESTORE_CHUNK_ROWS = 100_000  # tree rows per depth-chunk read


@dataclass
class WritebackStats:
    patches: int = 0
    halvings: int = 0
    splits: int = 0
    keys_written: int = 0

    def merge(self, other: "WritebackStats") -> None:
        self.patches += other.patches
        self.halvings += other.halvings
        self.splits += other.splits
        self.keys_written += other.keys_written


def _write_path(
    client,
    path: str,
    data: dict,
    stats: WritebackStats,
    max_batch: int = DEFAULT_MAX_IPP,
) -> None:
    """AIMD loop for one path's key set (the reference's save_path,
    src/RestoreProcessor.php:70-106), iterative."""
    keys = sorted(data)
    state = AimdState(min(max_batch, max(MIN_BATCH, len(keys))), floor=MIN_BATCH)
    attempts = 0  # failed PATCHes of the current one-scalar batch
    i = 0
    while i < len(keys):
        batch_keys = keys[i : i + state.ipp]
        batch = {k: data[k] for k in batch_keys}
        try:
            client.update(path, batch)
        except Exception as exc:
            halve = state.ipp > state.floor
            state.on_overload()  # R4 backoff; restarts the growth count
            if halve:
                stats.halvings += 1
                continue
            # R5: single key still failing — descend one level
            key = batch_keys[0]
            value = data[key]
            if isinstance(value, dict) and value:
                stats.splits += 1
                child = (path.rstrip("/") or "") + "/" + key
                _write_path(client, child, value, stats, max_batch)
                i += 1
                continue
            # a scalar cannot be split: retry it, bounded like a GET
            attempts += 1
            if attempts >= GET_RETRIES:
                raise FirebaseTransportError(
                    f"PATCH of key {key!r} at {path!r} failed after "
                    f"{attempts} attempts"
                ) from exc
            continue
        attempts = 0
        stats.patches += 1
        stats.keys_written += len(batch_keys)
        i += len(batch_keys)  # R6: advancing the slice IS the anti-join
        state.on_success(max_batch)  # R4 growth


def _depth_chunks(tree: ds.Dataset) -> list[tuple[int, int]]:
    """Contiguous (first, last) depth ranges to read one at a time,
    shallowest first: each holds at most RESTORE_CHUNK_ROWS rows, or
    one wider level on its own."""
    counts = pc.value_counts(tree.to_table(columns=["depth"]).column("depth"))
    chunks: list[tuple[int, int]] = []
    rows = 0
    for c in sorted(counts.to_pylist(), key=lambda c: c["values"]):
        if chunks and rows + c["counts"] <= RESTORE_CHUNK_ROWS:
            chunks[-1] = (chunks[-1][0], c["values"])
            rows += c["counts"]
        else:
            chunks.append((c["values"], c["values"]))
            rows = c["counts"]
    return chunks


def _levels(chunk: pa.Table) -> Iterator[dict[str, dict]]:
    """A depth-sorted chunk's rows grouped by depth, then by path
    ({path: {key: value}}), shallowest level first; a level's values are
    decoded only when it is reached, row by row (`_decode`)."""
    depth = chunk.column("depth").to_numpy()
    cuts = [0, *(np.flatnonzero(depth[1:] != depth[:-1]) + 1).tolist(), len(depth)]
    for lo, hi in zip(cuts, cuts[1:]):
        rows = chunk.slice(lo, hi - lo)
        paths, keys, values_json = (
            column_list(rows.column(c)) for c in ("path", "key", "value_json")
        )
        level: dict[str, dict] = defaultdict(dict)
        for path, key, value in zip(paths, keys, _decode(paths, keys, values_json)):
            level[path][key] = value
        yield level


def _decode(paths: list[str], keys: list[str], values_json: list[str]) -> list:
    """One level's values, each row's decoded on its own, so that a bad
    row can never shift its neighbours' values (rows `1,2`, `[3` and
    `4]` joined into one array would decode into three wrong values).
    A row is read with `JSONDecoder.raw_decode`, which must end at the
    end of the string; a row that does not is read again with
    `json.loads`, so exactly what `json.loads` accepts (surrounding
    whitespace too) is accepted.  The first row that `json.loads`
    refuses is named in a ValueError."""
    raw_decode = json.JSONDecoder().raw_decode
    values = []
    for path, key, value_json in zip(paths, keys, values_json):
        try:
            value, end = raw_decode(value_json)
        except json.JSONDecodeError:
            end = None
        if end != len(value_json):
            try:
                value = json.loads(value_json)
            except json.JSONDecodeError as exc:
                raise ValueError(
                    f"tree row {key!r} at path {path!r}: value_json is not JSON ({exc})"
                ) from None
        values.append(value)
    return values


def _tree_levels(tree: ds.Dataset) -> Iterator[dict[str, dict]]:
    """The tree's depth levels, shallowest first, scanned on the driver
    one depth chunk at a time: the driver holds one chunk and one
    decoded level."""
    depth = pc.field("depth")
    for first, last in _depth_chunks(tree):
        chunk = tree.to_table(
            columns=["path", "key", "value_json", "depth"],
            filter=(depth >= first) & (depth <= last),
        )
        yield from _levels(chunk.sort_by("depth"))


def _units(level: dict[str, dict], max_batch: int) -> list[tuple[str, dict]]:
    """One level's write units: a path's whole key set, or — for a path
    wider than max_batch — one of at most RESTORE_CONNECTIONS contiguous
    key ranges.  Widest first, so the level's longest writes start
    early."""
    units = []
    for path, data in level.items():
        keys = sorted(data)
        n = min(RESTORE_CONNECTIONS, math.ceil(len(keys) / max_batch))
        for i in range(n):
            part = keys[i * len(keys) // n : (i + 1) * len(keys) // n]
            units.append((path, {k: data[k] for k in part}))
    units.sort(key=lambda u: -len(u[1]))
    return units


def _write_levels(
    levels: Iterable[dict[str, dict]],
    client_factory: Callable[[], object],
    max_batch: int,
) -> WritebackStats:
    """Write depth levels in order, each level's units on
    RESTORE_CONNECTIONS threads; a level starts once every unit of the
    one before has returned.  Each thread owns one client; the first
    failure stops the write and is raised."""
    local = threading.local()

    def write_unit(path: str, data: dict) -> WritebackStats:
        if not hasattr(local, "client"):
            local.client = client_factory()
        stats = WritebackStats()
        _write_path(local.client, path, data, stats, max_batch)
        return stats

    total = WritebackStats()
    with ThreadPoolExecutor(max_workers=RESTORE_CONNECTIONS) as pool:
        for level in levels:
            futures = [
                pool.submit(write_unit, path, data)
                for path, data in _units(level, max_batch)
            ]
            done, pending = wait(futures, return_when=FIRST_EXCEPTION)
            failed = [f.exception() for f in done if f.exception() is not None]
            if failed:
                for f in pending:
                    f.cancel()
                raise failed[0]
            for f in futures:
                total.merge(f.result())
    return total


def writeback(
    tree: ds.Dataset,
    client_factory: Callable[[], object],
    *,
    max_batch: int = DEFAULT_MAX_IPP,
) -> WritebackStats:
    """Replay tree rows (path, key, value_json, depth) through
    merge-PATCH updates from RESTORE_CONNECTIONS driver threads, depth
    level by depth level (ordering contract: module docstring), and
    return the merged stats.

    `tree` is a `pyarrow.dataset.Dataset`: a snapshot opened with
    `sinks.snapshot.snapshot_dataset`, or `ds.dataset(df.toArrow())`
    for a tree DataFrame.  It is scanned on the driver, no Spark job,
    one chunk of contiguous depth levels at a time (at most
    RESTORE_CHUNK_ROWS rows, or one wider level); the driver holds one
    chunk plus one decoded level, so its memory follows the widest
    level rather than the whole tree."""
    with closing(_tree_levels(tree)) as levels:
        return _write_levels(levels, client_factory, max_batch)
