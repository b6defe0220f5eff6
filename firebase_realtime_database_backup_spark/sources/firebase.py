"""Firebase Realtime Database extractor: paginated key-ordered scans with
AIMD page sizing, go-deeper descent, and exactly-once page boundaries.

Re-expresses the reference's export pipeline (SURVEY.md §2.A S1-S8):

- S1 paginated range scan     — `orderBy="$key" / limitToFirst / startAt`
                                (src/BackupProcessor.php:150-200)
- S2 shallow child listing    — `shallow=true`, ≤10 retries
                                (src/BackupProcessor.php:78-93)
- S3 recursive descent        — here an explicit work-stack, iterative
                                (src/BackupProcessor.php:67-141)
- S4 AIMD page sizing         — halve on overload (floor MIN_IPP=2),
                                grow ×1.2 after 5 successes, cap max_ipp
                                (src/BackupProcessor.php:10,171,182-189)
- S5 go-deeper signal         — overload at ipp=MIN_IPP ⇒ descend
                                (src/BackupProcessor.php:173-179)
- S6 page-boundary dedup      — the reference drops the re-fetched
                                inclusive-cursor row (array_slice, :195-197);
                                here boundaries are exclusive by
                                construction
- S7 last-page detection      — short page ⇒ done (:191-193)
- S8 sorted sibling cursor    — resume parent paging after a descent
                                (:98-121)

Architectural departures from the reference (Spark-first, 100 TB):
- The DFS is an explicit stack, not recursion — a 10k-deep chain is a
  loop, not a stack overflow.
- Extraction parallelizes per top-level subtree: driver threads for
  modest trees (`extract`), or executor-side fetching via mapInPandas
  over a DataFrame of subtree roots (`extract_distributed`) when the
  tree is wide enough to need a cluster's aggregate NIC bandwidth.  The
  reference is strictly sequential (SURVEY.md §3).
- Pages stream straight into Arrow batches / tree rows — the bounded-
  memory property the reference got from spill-to-disk chunk files
  (src/BackupProcessor.php:130,202-223) falls out of Spark's iterator
  model.  The driver-side `extract` hands its rows to Spark as one
  Arrow table (`tree_frame`), not as a pickled row list.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any, Protocol

from firebase_realtime_database_backup_spark.sources.tree import (
    TREE_SCHEMA,
    canonical_json,
    child_path,
    path_depth,
    tree_frame,
)

MIN_IPP = 2          # src/BackupProcessor.php:10
DEFAULT_MAX_IPP = 1000   # src/cli-commands/ExportCommand.php:31
GROWTH_FACTOR = 1.2      # src/BackupProcessor.php:183-185
GROWTH_AFTER = 5         # consecutive successes before growth
SHALLOW_RETRIES = 10     # src/BackupProcessor.php:84-86


class PayloadTooLarge(Exception):
    """Server refused the page size (the reference string-matches
    'Payload is too large', src/BackupProcessor.php:173)."""


class FirebaseTransportError(Exception):
    """Transient transport failure (retried for shallow listings)."""


class FirebaseClient(Protocol):
    """Minimal client surface the extractor needs.  The production
    implementation is an HTTP client for
    https://<project>.firebaseio.com/<path>.json (URL template from
    src/cli-commands/AbstractCommand.php:11); tests use FakeFirebase."""

    def get(
        self,
        path: str,
        *,
        shallow: bool = False,
        order_by_key: bool = False,
        limit_to_first: int | None = None,
        start_at: str | None = None,
    ) -> Any: ...

    def update(self, path: str, data: dict) -> None: ...


@dataclass
class AimdState:
    """Per-path adaptive page size (the reference's intelligent_IPP map,
    src/BackupProcessor.php:14,151-155)."""

    ipp: int
    successes: int = 0

    def on_overload(self) -> None:
        # halve, floor MIN_IPP (src/BackupProcessor.php:171,160)
        self.ipp = max(MIN_IPP, self.ipp // 2)
        self.successes = 0

    def on_success(self, max_ipp: int) -> None:
        # ×1.2 after 5 consecutive successes, capped
        # (src/BackupProcessor.php:182-189)
        self.successes += 1
        if self.successes >= GROWTH_AFTER:
            self.ipp = min(max_ipp, int(self.ipp * GROWTH_FACTOR) or 1)
            self.successes = 0


@dataclass
class ExtractStats:
    pages: int = 0
    rows: int = 0
    halvings: int = 0
    growths: int = 0
    go_deepers: int = 0
    shallow_retries: int = 0


@dataclass
class FirebaseExtractor:
    client: FirebaseClient
    max_ipp: int = DEFAULT_MAX_IPP
    root_start_ipp: int = DEFAULT_MAX_IPP  # src/cli-commands/ExportCommand.php:45
    stats: ExtractStats = field(default_factory=ExtractStats)

    def __post_init__(self) -> None:
        self._aimd: dict[str, AimdState] = {}

    # -- S2: shallow listing with bounded retry ---------------------------
    def _children(self, path: str) -> list[str]:
        last_err: Exception | None = None
        for _ in range(SHALLOW_RETRIES):
            try:
                data = self.client.get(path, shallow=True)
                if not isinstance(data, dict):
                    return []
                return sorted(data.keys())  # sorted cache, php:89-90
            except FirebaseTransportError as exc:
                self.stats.shallow_retries += 1
                last_err = exc
        raise FirebaseTransportError(
            f"shallow listing failed after {SHALLOW_RETRIES} retries at {path!r}"
        ) from last_err

    def _state(self, path: str) -> AimdState:
        if path not in self._aimd:
            start = self.root_start_ipp if path == "/" else self.max_ipp
            self._aimd[path] = AimdState(ipp=min(start, self.max_ipp))
        return self._aimd[path]

    # -- S1/S4/S5/S6/S7: one page, adaptively sized -----------------------
    def _fetch_page(
        self, path: str, cursor: str | None
    ) -> tuple[dict | None, bool]:
        """Returns (page, is_last).  page=None signals go-deeper.

        The cursor is EXCLUSIVE: we request startAt=cursor (inclusive,
        Firebase semantics) with one extra slot and drop the cursor row —
        the reference's boundary dedup (php:195-197) made structural.
        """
        state = self._state(path)
        while True:
            want = state.ipp + (1 if cursor is not None else 0)
            try:
                data = self.client.get(
                    path,
                    order_by_key=True,
                    limit_to_first=want,
                    start_at=cursor,
                )
            except PayloadTooLarge:
                if state.ipp <= MIN_IPP:
                    return None, False  # S5: even MIN_IPP too big ⇒ descend
                state.on_overload()
                self.stats.halvings += 1
                continue

            if data is None:
                return {}, True
            if not isinstance(data, dict):
                # scalar at this path: caller emits it as a single leaf
                return {"__scalar__": data}, True

            keys = sorted(data.keys())
            if cursor is not None and keys and keys[0] == cursor:
                del data[keys[0]]  # S6 boundary dedup
                keys = keys[1:]
            is_last = len(keys) < state.ipp  # S7
            old_ipp = state.ipp
            state.on_success(self.max_ipp)
            if state.ipp > old_ipp:
                self.stats.growths += 1
            return data, is_last

    # -- S3/S8: iterative DFS with sibling-cursor resume ------------------
    def iter_rows(self, root: str = "/") -> Iterator[tuple[str, str, str, int]]:
        """Stream tree rows (path, key, value_json, depth), page-grained:
        each row's value_json is the child's complete subtree."""
        # stack of (path, cursor); cursor = last emitted key (exclusive)
        stack: list[tuple[str, str | None]] = [(root, None)]
        while stack:
            path, cursor = stack.pop()
            depth = path_depth(path) + 1
            page, is_last = self._fetch_page(path, cursor)

            if page is None:
                # go-deeper: descend into remaining children, sorted —
                # the sibling cursor (S8) comes from the shallow listing
                self.stats.go_deepers += 1
                children = self._children(path)
                if cursor is not None:
                    children = [k for k in children if k > cursor]
                # push in reverse so the smallest key is processed first
                for key in reversed(children):
                    stack.append((child_path(path, key), None))
                continue

            if "__scalar__" in page and len(page) == 1:
                if path in ("", "/"):
                    continue  # whole-DB-is-one-scalar edge: nothing to page
                parent = path.rsplit("/", 1)[0] or "/"
                key = path.rsplit("/", 1)[1]
                self.stats.pages += 1
                self.stats.rows += 1
                yield (parent, key, canonical_json(page["__scalar__"]), depth - 1)
                continue

            keys = sorted(k for k in page if k != "__scalar__")
            self.stats.pages += 1
            for key in keys:
                self.stats.rows += 1
                yield (path, key, canonical_json(page[key]), depth)

            if not is_last and keys:
                stack.append((path, keys[-1]))

    # -- Spark materialization -------------------------------------------
    def to_dataframe(self, spark):
        """Materialize the scan as a tree DataFrame."""
        return tree_frame(spark, list(self.iter_rows()))


def extract(
    spark,
    client: FirebaseClient,
    *,
    max_ipp: int = DEFAULT_MAX_IPP,
    root_start_ipp: int = DEFAULT_MAX_IPP,
    parallelism: int = 8,
):
    """Parallel export: shallow-list the root, extract each top-level
    subtree concurrently (driver threads — REST-bound, not CPU-bound),
    union into one tree DataFrame.  Root-level scalar leaves are fetched
    by a root-only pass.  The reference does all of this sequentially."""
    from concurrent.futures import ThreadPoolExecutor

    probe = FirebaseExtractor(client, max_ipp=max_ipp, root_start_ipp=root_start_ipp)
    top = probe._children("/")
    if not top:
        return FirebaseExtractor(
            client, max_ipp=max_ipp, root_start_ipp=root_start_ipp
        ).to_dataframe(spark)

    def run(sub: str) -> list[tuple[str, str, str, int]]:
        ex = FirebaseExtractor(client, max_ipp=max_ipp, root_start_ipp=max_ipp)
        return list(ex.iter_rows(child_path("/", sub)))

    rows: list[tuple[str, str, str, int]] = []
    with ThreadPoolExecutor(max_workers=max(1, parallelism)) as pool:
        for chunk in pool.map(run, top):
            rows.extend(chunk)
    # scalar top-level children emit their own (/, key, value) row inside
    # run(); dict children are carried page-grained by their subtree pass.
    return tree_frame(spark, rows)


def extract_distributed(
    spark,
    client_factory: Callable[[], FirebaseClient],
    subtree_paths: list[str],
    *,
    max_ipp: int = DEFAULT_MAX_IPP,
):
    """Cluster-scale export: ship subtree roots to executors; each task
    runs its own AIMD extractor against its own client connection and
    streams Arrow batches of tree rows.  This is the shape that uses a
    1000-executor cluster's aggregate network bandwidth; the driver only
    coordinates the subtree list (a few thousand strings)."""
    import pandas as pd

    paths_df = spark.createDataFrame(
        [(p,) for p in subtree_paths], "subtree string"
    ).repartition(max(1, min(len(subtree_paths), 64)))

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = client_factory()
        for pdf in batches:
            for sub in pdf["subtree"]:
                ex = FirebaseExtractor(client, max_ipp=max_ipp, root_start_ipp=max_ipp)
                rows = list(ex.iter_rows(sub))
                if rows:
                    yield pd.DataFrame(
                        rows, columns=["path", "key", "value_json", "depth"]
                    )

    return paths_df.mapInPandas(fetch, TREE_SCHEMA)


class FakeFirebase:
    """In-memory Firebase REST double for tests (FIXTURES.md §2): honors
    shallow / orderBy="$key" / limitToFirst / startAt, enforces a payload
    byte budget with PayloadTooLarge, and supports merge-PATCH update()
    with injectable write failures.  Picklable (plain dict state) so it
    works inside mapInPandas."""

    def __init__(
        self,
        tree: dict,
        *,
        max_payload_bytes: int | None = None,
        fail_updates_over: int | None = None,
        fail_update_bytes: int | None = None,
        flaky_shallow_failures: int = 0,
    ) -> None:
        self.tree = tree
        self.max_payload_bytes = max_payload_bytes
        self.fail_updates_over = fail_updates_over
        self.fail_update_bytes = fail_update_bytes
        self._flaky_shallow_failures = flaky_shallow_failures
        self.update_calls: list[tuple[str, int]] = []

    # -- helpers ----------------------------------------------------------
    def _node(self, path: str) -> Any:
        node: Any = self.tree
        for seg in path.strip("/").split("/"):
            if not seg:
                continue
            if not isinstance(node, dict) or seg not in node:
                return None
            node = node[seg]
        return node

    def get(
        self,
        path: str,
        *,
        shallow: bool = False,
        order_by_key: bool = False,
        limit_to_first: int | None = None,
        start_at: str | None = None,
    ) -> Any:
        node = self._node(path)
        if node is None:
            return None
        if shallow:
            if self._flaky_shallow_failures > 0:
                self._flaky_shallow_failures -= 1
                raise FirebaseTransportError("injected shallow failure")
            if isinstance(node, dict):
                return {k: True for k in node}
            return node
        if not isinstance(node, dict):
            return node

        keys = sorted(node.keys()) if order_by_key else list(node.keys())
        if start_at is not None:
            keys = [k for k in keys if k >= start_at]
        if limit_to_first is not None:
            keys = keys[:limit_to_first]
        page = {k: node[k] for k in keys}
        if self.max_payload_bytes is not None:
            size = len(json.dumps(page))
            if size > self.max_payload_bytes:
                raise PayloadTooLarge(
                    f"Payload is too large ({size} > {self.max_payload_bytes})"
                )
        return page

    def update(self, path: str, data: dict) -> None:
        """Merge-PATCH: set each top-level key under path (Firebase
        update() semantics, src/RestoreProcessor.php:80)."""
        self.update_calls.append((path, len(data)))
        if self.fail_updates_over is not None and len(data) > self.fail_updates_over:
            raise FirebaseTransportError(
                f"injected update failure for batch of {len(data)}"
            )
        if (
            self.fail_update_bytes is not None
            and len(json.dumps(data)) > self.fail_update_bytes
        ):
            raise FirebaseTransportError(
                f"injected update failure for oversized payload"
            )
        node = self.tree
        for seg in path.strip("/").split("/"):
            if not seg:
                continue
            node = node.setdefault(seg, {})
            if not isinstance(node, dict):
                raise FirebaseTransportError(f"cannot descend into scalar at {path}")
        for k, v in data.items():
            node[k] = v
