"""Benchmark-owned Firebase REST double with a realistic cost model.

``IndexedFirebase`` answers the same requests as the engine's
``FakeFirebase`` (shallow listings, ``orderBy="$key"`` pages with
``limitToFirst`` / ``startAt``, merge-PATCH ``update``) and makes the same
``PayloadTooLarge`` decisions, but prices them like a server:

- every dict node's sorted keys and per-child JSON byte sizes are
  indexed once, bottom-up in one pass over the tree, so a page request
  costs O(log n + page) of server CPU instead of re-sorting and
  re-serializing the node;
- every GET and PATCH sleeps a fixed round-trip time;
- a GET whose page would exceed ``max_payload_bytes`` raises
  ``PayloadTooLarge``; a PATCH whose body exceeds ``max_patch_bytes`` is
  refused with ``FirebaseTransportError``.

Every request appends one :class:`Span` (path, kind, start, end,
outcome) to ``spans``; the benchmark's ETL layer metrics are computed
from them.
"""

from __future__ import annotations

import bisect
import json
import threading
import time
from dataclasses import dataclass
from itertools import accumulate
from typing import Any

from firebase_realtime_database_backup_spark.sources.firebase import (
    FirebaseTransportError,
    PayloadTooLarge,
)

#: span kinds and outcomes
GET, SHALLOW, PATCH = "get", "shallow", "patch"
OK, TOO_LARGE, REFUSED = "ok", "too_large", "refused"


@dataclass(frozen=True)
class Span:
    path: str
    kind: str
    start: float
    end: float
    outcome: str
    #: payload bytes of a served page or of a PATCH body; 0 otherwise
    nbytes: int = 0


@dataclass
class _NodeIndex:
    keys: list[str]
    #: cum[i] = sum of the JSON entry sizes of keys[:i]; an entry is
    #: ``"key": value`` as ``json.dumps`` writes it inside a dict
    cum: list[int]

    def page_bytes(self, lo: int, hi: int) -> int:
        """len(json.dumps({k: node[k] for k in keys[lo:hi]}))."""
        n = hi - lo
        return 2 + self.cum[hi] - self.cum[lo] + 2 * max(0, n - 1)


def _segments(path: str) -> list[str]:
    return [s for s in path.strip("/").split("/") if s]


def _norm(path: str) -> str:
    return "/" + "/".join(_segments(path))


class IndexedFirebase:
    """In-memory Firebase double; see the module docstring."""

    def __init__(
        self,
        tree: dict,
        *,
        rtt_s: float = 0.010,
        max_payload_bytes: int | None = 64 * 1024,
        max_patch_bytes: int | None = 64 * 1024,
    ) -> None:
        self.tree = tree
        self.rtt_s = rtt_s
        self.max_payload_bytes = max_payload_bytes
        self.max_patch_bytes = max_patch_bytes
        self.spans: list[Span] = []
        self._index: dict[str, _NodeIndex] = {}
        self._write_lock = threading.Lock()
        self._build_index(self.tree, "/")

    # -- index ------------------------------------------------------------
    def _build_index(self, node: Any, path: str) -> int:
        """Index every dict node under ``path``; return the JSON size
        of ``node``."""
        if not isinstance(node, dict):
            return len(json.dumps(node))
        keys = sorted(node)
        prefix = "" if path == "/" else path
        sizes = [
            len(json.dumps(k)) + 2 + self._build_index(node[k], f"{prefix}/{k}")
            for k in keys
        ]
        idx = _NodeIndex(keys, list(accumulate(sizes, initial=0)))
        self._index[path] = idx
        return idx.page_bytes(0, len(keys))

    def _node(self, path: str) -> Any:
        node: Any = self.tree
        for seg in _segments(path):
            if not isinstance(node, dict) or seg not in node:
                return None
            node = node[seg]
        return node

    def _record(
        self, path: str, kind: str, start: float, outcome: str, nbytes: int = 0
    ) -> None:
        self.spans.append(Span(path, kind, start, time.perf_counter(), outcome, nbytes))

    # -- REST surface -----------------------------------------------------
    def get(
        self,
        path: str,
        *,
        shallow: bool = False,
        order_by_key: bool = False,
        limit_to_first: int | None = None,
        start_at: str | None = None,
    ) -> Any:
        """Keys are always served in sorted order (``orderBy="$key"``)."""
        start = time.perf_counter()
        time.sleep(self.rtt_s)
        kind = SHALLOW if shallow else GET
        node = self._node(path)
        if not isinstance(node, dict):
            self._record(path, kind, start, OK)
            return node
        if shallow:
            self._record(path, kind, start, OK)
            return {k: True for k in node}
        norm = _norm(path)
        if norm not in self._index:  # dropped by a write
            self._build_index(node, norm)
        idx = self._index[norm]
        lo = 0 if start_at is None else bisect.bisect_left(idx.keys, start_at)
        hi = len(idx.keys)
        if limit_to_first is not None:
            hi = min(hi, lo + limit_to_first)
        size = idx.page_bytes(lo, hi)
        if self.max_payload_bytes is not None and size > self.max_payload_bytes:
            self._record(path, kind, start, TOO_LARGE)
            raise PayloadTooLarge(
                f"Payload is too large ({size} > {self.max_payload_bytes})"
            )
        page = {k: node[k] for k in idx.keys[lo:hi]}
        self._record(path, kind, start, OK, size)
        return page

    def update(self, path: str, data: dict) -> None:
        """Merge-PATCH: set each top-level key of ``data`` under ``path``.
        The index is dropped: a written store serves no reads here."""
        start = time.perf_counter()
        time.sleep(self.rtt_s)
        size = len(json.dumps(data))
        if self.max_patch_bytes is not None and size > self.max_patch_bytes:
            self._record(path, PATCH, start, REFUSED, size)
            raise FirebaseTransportError("PATCH body over the byte budget")
        with self._write_lock:
            node = self.tree
            for seg in _segments(path):
                node = node.setdefault(seg, {})
                if not isinstance(node, dict):
                    raise FirebaseTransportError(f"cannot descend into scalar at {path}")
            node.update(data)
            self._index.clear()
        self._record(path, PATCH, start, OK, size)
