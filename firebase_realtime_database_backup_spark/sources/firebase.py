"""Firebase Realtime Database extractor: paginated key-ordered scans with
AIMD page sizing, go-deeper descent, and exactly-once page boundaries.

Re-expresses the reference's export pipeline (SURVEY.md §2.A S1-S8):

- S1 paginated range scan     — `orderBy="$key" / limitToFirst / startAt`
                                (src/BackupProcessor.php:150-200)
- S2 shallow child listing    — `shallow=true`, ≤10 attempts
                                (src/BackupProcessor.php:78-93)
- S3 recursive descent        — here an explicit work list of units,
                                iterative (src/BackupProcessor.php:67-141)
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
- The DFS is a work list of *units*, not recursion — a 10k-deep chain is
  a loop, not a stack overflow.  A unit is a path, or one contiguous key
  range of a path.  It runs until it finishes, splits into ranges or
  goes deeper, and hands back its rows, the units it spawned and its
  `ExtractStats`.  One loop drives units: on the calling thread's
  behalf for `FirebaseExtractor.iter_rows`, and as one work queue on
  `parallelism` driver threads for `extract`.  The endpoint is one
  database behind REST, so a cluster's cores would not help; the
  threads overlap their round trips, and the queue can spread one wide
  node's key ranges over every connection.  They do not overlap their
  per-row Python work (sorting a page's keys, `canonical_json` of every
  row): it holds the GIL, so the extract is bound by CPU as much as by
  RTT.  Against the benchmark's Firebase double (`tools/etl_cpu.py`,
  4 vCPUs, 4 threads), a backup's process CPU time, the in-process
  double's included, is ~0.28 s of its ~0.40 s wall at 10 ms RTT, and
  at 0 ms RTT its wall is its CPU time (~0.28 s).  The reference is
  strictly sequential (SURVEY.md §3).
- Three rules cut the requests on the critical path.  None of them
  changes the AIMD controller:
  - *list once*: the first time a path needs a second request (its
    first page is refused, or is served but is not the last), it is
    shallow-listed once.  Go-deeper, skip and split all reuse that
    listing;
  - *skip*: after a refusal, halving continues without a request while
    the page would still cover every listed key left — that request is
    byte-identical to the one just refused.  If even MIN_IPP covers
    them, the unit goes deeper at once;
  - *split*: when a path's first served page is not its last, the
    listed keys after it are cut into ranges of RANGE_PAGES × ipp keys,
    each its own unit with a copy of the path's AIMD state.  A range
    pages from `startAt=<its first key>` with `limitToFirst = min(ipp,
    owned keys left)` and drops keys at or past the next range's first
    key.  No `endAt` is needed.
- Every key comparison — sorting a page or a listing, a range's bounds,
  the cursor — uses `key_order`, Firebase's `orderBy="$key"` order
  (32-bit integer keys first, numerically).  Plain string order would
  put the cursor of an array-like node's first page ("0".."9") past
  keys the server has not served yet ("10"...).
- A listing costs one response of about N × (key length + 8) bytes
  (`"key":true,`) for a node of N keys, and the extractor holds it as
  one sorted list of N strings until the node's last range finishes;
  paging alone holds one page.  A listing that is refused, or fails
  GET_RETRIES times, is not fatal: the path pages on by its cursor,
  without skipping or splitting, as the reference does.  Only a
  go-deeper needs the listing and raises if it cannot be had (so did
  the reference, src/BackupProcessor.php:78-93).
- Pages stream straight into Arrow batches / tree rows — the bounded-
  memory property the reference got from spill-to-disk chunk files
  (src/BackupProcessor.php:130,202-223) falls out of Spark's iterator
  model.  The driver-side extract builds its rows into one Arrow table
  (`extract_table`): the backup writes that table, and `extract` hands
  it to Spark (`tree_frame`), not as a pickled row list.  The frame
  keeps the table, so the incremental diff reads it back with no Spark
  job.
"""

from __future__ import annotations

import json
from bisect import bisect_left, bisect_right
from collections.abc import Iterator
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field, fields, replace
from typing import Any, Protocol

import pyarrow as pa

from firebase_realtime_database_backup_spark.sources.tree import (
    canonical_json,
    child_path,
    path_depth,
    tree_frame,
    tree_table,
)

MIN_IPP = 2          # src/BackupProcessor.php:10
DEFAULT_MAX_IPP = 1000   # src/cli-commands/ExportCommand.php:31
GROWTH_FACTOR = 1.2      # src/BackupProcessor.php:183-185
GROWTH_AFTER = 5         # consecutive successes before growth
#: attempts per GET on transport failure.  The reference retries shallow
#: listings only (src/BackupProcessor.php:84-86); page GETs are just as
#: idempotent, so they get the same bound, and so does restore's
#: one-scalar PATCH (`sinks.writeback`), which has no smaller batch.
GET_RETRIES = 10
#: Width of a key range, in pages of the path's page size at the split.
#: It must not depend on the connection count: go-deeper cursors follow
#: page sizes, so rows would then depend on it.
RANGE_PAGES = 4

Row = tuple[str, str, str, int]


def key_order(key: str) -> str:
    """Sort key of `key` in Firebase's `orderBy="$key"` order: keys that
    parse as 32-bit integers come first, in numeric order (a shorter
    spelling of the same number first), then every other key by UTF-16
    code units, as the server compares strings.

    An integer key maps to a string that starts with NUL, which no
    Firebase key may contain, so it sorts before every other key; any
    other key maps to itself, or to its UTF-16 code units if it has a
    character above U+FFFF.  Plain strings keep the sort cheap: most
    keys pay one call and no allocation."""
    digits = key[1:] if key[:1] == "-" else key
    if digits.isdigit() and digits.isascii() and len(digits) <= 10:
        n = int(key)
        if -(2**31) <= n < 2**31:
            return "\0%010d%02d%s" % (n + 2**31, len(key), key)
    if key.isascii() or max(key) <= "\uffff":
        return key  # code points order these like UTF-16 code units
    return "".join(map(_utf16_units, key))


def _utf16_units(c: str) -> str:
    """`c` as its UTF-16 code units (a surrogate pair above U+FFFF)."""
    if c <= "\uffff":
        return c
    n = ord(c) - 0x10000
    return chr(0xD800 + (n >> 10)) + chr(0xDC00 + (n & 0x3FF))


class PayloadTooLarge(Exception):
    """Server refused the page size (the reference string-matches
    'Payload is too large', src/BackupProcessor.php:173)."""


class FirebaseTransportError(Exception):
    """Transient transport failure (every GET is retried, up to
    GET_RETRIES attempts)."""


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
    """Per-unit adaptive page or batch size (the reference's
    intelligent_IPP map, src/BackupProcessor.php:14,151-155, and its
    restore batch, src/RestoreProcessor.php:83,97-104): the extract's
    pages floor at MIN_IPP, the restore's batches at one key."""

    ipp: int
    successes: int = 0
    floor: int = MIN_IPP

    def on_overload(self) -> None:
        # halve, floored (src/BackupProcessor.php:171,160)
        self.ipp = max(self.floor, self.ipp // 2)
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
    #: failed page-GET attempts that were retried
    page_retries: int = 0
    #: refusals taken without a request (the skip rule)
    skipped: int = 0
    #: key-range units cut from wide paths (the split rule)
    ranges: int = 0
    #: listings refused or failed; their path paged on unsplit
    listings_failed: int = 0

    def merge(self, other: ExtractStats) -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


@dataclass
class _Unit:
    """One piece of extract work: a whole path, or one key range of it.

    `keys` is the path's sorted shallow listing, taken the first time the
    path needs a second request and shared, read-only, by all of its
    ranges.  A range owns the keys from `first` up to, not including,
    `stop` (None for the path's last range).  `cursor` is the last key
    emitted; the next page starts after it.  `listed` is set once the
    listing was tried; `keys` stays None if it failed."""

    path: str
    state: AimdState
    keys: list[str] | None = None
    first: str | None = None
    stop: str | None = None
    cursor: str | None = None
    listed: bool = False

    def _bounds(self) -> tuple[int, int]:
        keys = self.keys
        if self.cursor is not None:
            lo = bisect_right(keys, key_order(self.cursor), key=key_order)
        elif self.first is not None:
            lo = bisect_left(keys, key_order(self.first), key=key_order)
        else:
            lo = 0
        hi = len(keys)
        if self.stop is not None:
            hi = bisect_left(keys, key_order(self.stop), key=key_order)
        return lo, max(lo, hi)

    def left(self) -> int:
        """Listed keys this unit owns and has not emitted yet."""
        lo, hi = self._bounds()
        return hi - lo

    def owned(self) -> list[str]:
        lo, hi = self._bounds()
        return self.keys[lo:hi]

    def limit(self) -> int:
        """Keys the next page asks for: the page size, capped by the
        listed keys left (a full page when the listing is used up)."""
        if self.keys is None:
            return self.state.ipp
        return min(self.state.ipp, self.left()) or self.state.ipp


#: `_fetch_page`'s go-deeper signal
_DEEPER = object()


@dataclass
class FirebaseExtractor:
    client: FirebaseClient
    max_ipp: int = DEFAULT_MAX_IPP
    root_start_ipp: int = DEFAULT_MAX_IPP  # src/cli-commands/ExportCommand.php:45
    stats: ExtractStats = field(default_factory=ExtractStats)

    def _get(self, stats: ExtractStats, path: str, **params: Any) -> Any:
        """One GET, attempted up to GET_RETRIES times on transport
        failure (GETs are idempotent).  PayloadTooLarge is not retried:
        it is the AIMD signal."""
        shallow = params.get("shallow", False)
        last_err: Exception | None = None
        for _ in range(GET_RETRIES):
            try:
                return self.client.get(path, **params)
            except FirebaseTransportError as exc:
                last_err = exc
                if shallow:
                    stats.shallow_retries += 1
                else:
                    stats.page_retries += 1
        what = (
            "shallow listing"
            if shallow
            else f"page GET (startAt={params.get('start_at')!r})"
        )
        raise FirebaseTransportError(
            f"{what} failed after {GET_RETRIES} attempts at {path!r}"
        ) from last_err

    # -- S2: shallow listing ----------------------------------------------
    def _children(self, path: str, stats: ExtractStats | None = None) -> list[str]:
        data = self._get(self.stats if stats is None else stats, path, shallow=True)
        if not isinstance(data, dict):
            return []
        return sorted(data, key=key_order)  # sorted cache, php:89-90

    def _list(self, u: _Unit, stats: ExtractStats) -> None:
        """List once: shallow-list `u`'s path the first time it needs a
        second request.  A refused or failed listing leaves `u.keys`
        None, and the path pages on without skipping or splitting."""
        if u.listed:
            return
        u.listed = True
        try:
            u.keys = self._children(u.path, stats)
        except (PayloadTooLarge, FirebaseTransportError):
            stats.listings_failed += 1

    def _unit(self, path: str) -> _Unit:
        start = self.root_start_ipp if path == "/" else self.max_ipp
        return _Unit(path, AimdState(ipp=min(start, self.max_ipp)))

    # -- S1/S4/S5: one page, adaptively sized; list-once and skip ---------
    def _fetch_page(self, u: _Unit, stats: ExtractStats) -> tuple[Any, int]:
        """Returns (page, keys asked for); page is _DEEPER to go deeper.

        A cursor is EXCLUSIVE: we request startAt=cursor (inclusive,
        Firebase semantics) with one extra slot and drop the cursor row —
        the reference's boundary dedup (php:195-197) made structural.  A
        range's first page starts at its first key, inclusive.
        """
        state = u.state
        while True:
            limit = u.limit()
            has_cursor = u.cursor is not None
            try:
                page = self._get(
                    stats,
                    u.path,
                    order_by_key=True,
                    limit_to_first=limit + has_cursor,
                    start_at=u.cursor if has_cursor else u.first,
                )
            except PayloadTooLarge:
                self._list(u, stats)
                while True:
                    if state.ipp <= MIN_IPP:
                        # S5: even MIN_IPP too big; descend on the listing
                        if u.keys is None:
                            u.keys = self._children(u.path, stats)
                        return _DEEPER, limit
                    state.on_overload()
                    stats.halvings += 1
                    # skip: a page that still covers every listed key
                    # left asks for exactly the keys just refused
                    if u.keys is None or not 0 < u.left() <= state.ipp:
                        break
                    stats.skipped += 1
                continue
            return page, limit

    # -- one unit: S3/S6/S7/S8 and the split rule --------------------------
    def _run(self, u: _Unit) -> tuple[list[Row], list[_Unit], ExtractStats]:
        """Page `u` until it finishes, splits into key ranges or goes
        deeper; return its rows, the units it hands back, and its stats."""
        stats = ExtractStats()
        rows: list[Row] = []
        depth = path_depth(u.path) + 1
        while True:
            page, limit = self._fetch_page(u, stats)
            if page is _DEEPER:
                # descend into the listed children left, in key order —
                # the sibling cursor (S8) comes from the listing
                stats.go_deepers += 1
                return rows, [self._unit(child_path(u.path, k)) for k in u.owned()], stats
            stats.pages += 1
            if not isinstance(page, dict):
                # a scalar at this path is one leaf of its parent; at the
                # root (whole-DB-is-one-scalar) there is nothing to page
                if page is not None and u.path not in ("", "/"):
                    parent, key = u.path.rsplit("/", 1)
                    rows.append((parent or "/", key, canonical_json(page), depth - 1))
                    stats.rows += 1
                return rows, [], stats

            keys = sorted(page, key=key_order)
            if u.cursor is not None and keys and keys[0] == u.cursor:
                keys = keys[1:]  # S6 boundary dedup
            served = len(keys)
            if u.stop is not None:  # drop the next range's keys
                keys = keys[: bisect_left(keys, key_order(u.stop), key=key_order)]
            for key in keys:
                rows.append((u.path, key, canonical_json(page[key]), depth))
            stats.rows += len(keys)
            if keys:
                u.cursor = keys[-1]
            ipp = u.state.ipp
            u.state.on_success(self.max_ipp)
            if u.state.ipp > ipp:
                stats.growths += 1

            if served < limit or len(keys) < served:
                return rows, [], stats  # S7 short page, or reached the next range
            if u.first is None:
                ranges = self._split(u, stats)
                if ranges:
                    return rows, ranges, stats
            if u.keys is not None and u.left() == 0 and (u.stop is not None or served < ipp):
                return rows, [], stats  # every listed key is out

    def _split(self, u: _Unit, stats: ExtractStats) -> list[_Unit]:
        """The split rule: the listed keys left after a path's first page
        become ranges of RANGE_PAGES × ipp keys, each with a copy of the
        path's AIMD state.  No ranges (the listing failed, or no listed
        key is left) means the path pages on by its cursor."""
        self._list(u, stats)
        if u.keys is None:
            return []
        firsts = u.owned()[:: RANGE_PAGES * u.state.ipp]
        stats.ranges += len(firsts)
        return [
            _Unit(u.path, replace(u.state), u.keys, first=first, stop=stop, listed=True)
            for first, stop in zip(firsts, firsts[1:] + [None])
        ]

    # -- the work queue ----------------------------------------------------
    def _drain(self, units: list[_Unit], parallelism: int) -> Iterator[Row]:
        """Run `units`, and every unit they hand back, on `parallelism`
        threads; yield rows as units finish and merge each unit's stats
        into `self.stats`.  Only this loop submits units, so a worker
        never waits on another; the newest unit runs first (depth-first,
        so a descent is never queued behind a wide node's ranges).  At
        most `parallelism` units are in flight.  The first exception is
        raised once the units in flight finish; queued units never
        start."""
        width = max(1, parallelism)
        todo = list(reversed(units))
        with ThreadPoolExecutor(max_workers=width) as pool:
            running: set = set()
            while todo or running:
                while todo and len(running) < width:
                    running.add(pool.submit(self._run, todo.pop()))
                done, running = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    rows, more, stats = fut.result()
                    self.stats.merge(stats)
                    todo.extend(reversed(more))
                    yield from rows

    def iter_rows(self, root: str = "/") -> Iterator[Row]:
        """Stream tree rows (path, key, value_json, depth) of the subtree
        at `root`, page-grained: each row's value_json is the child's
        complete subtree.  Units run one at a time."""
        return self._drain([self._unit(root)], 1)

    def export_rows(self, parallelism: int = 8) -> list[Row]:
        """The whole database's rows: shallow-list the root, then run
        every top-level child as a unit of one work queue on
        `parallelism` threads.  A top-level scalar is one GET and one
        (/, key, value) row.  The rows do not depend on `parallelism`
        (see `extract`)."""
        top = [self._unit(child_path("/", key)) for key in self._children("/")]
        return list(self._drain(top, parallelism))


def extract_table(
    client: FirebaseClient,
    *,
    max_ipp: int = DEFAULT_MAX_IPP,
    parallelism: int = 8,
) -> pa.Table:
    """Parallel export into one Arrow tree table (`tree_table`) on the
    driver: shallow-list the root, then page every top-level child as a
    unit of one work queue on `parallelism` driver threads
    (`FirebaseExtractor.export_rows`).  The threads overlap their round
    trips but not their per-row Python work, which holds the GIL, so
    CPU bounds the extract as much as RTT does (module docstring).  A
    wide node hands back key ranges and a refused one its children, and
    they join the same queue.  The reference does all of this
    sequentially.

    Row contract: the rows depend on the tree, the payload budget and
    `max_ipp`, never on `parallelism`.  Range widths follow each path's
    own page size and no sizing state is shared between units, so where
    a go-deeper falls does not depend on timing."""
    ex = FirebaseExtractor(client, max_ipp=max_ipp)
    return tree_table(ex.export_rows(parallelism))


def extract(
    spark,
    client: FirebaseClient,
    *,
    max_ipp: int = DEFAULT_MAX_IPP,
    root_start_ipp: int = DEFAULT_MAX_IPP,
    parallelism: int = 8,
):
    """`extract_table`'s tree as a DataFrame over that table, built on
    the caller's thread by `tree_frame` (no Spark job).  The frame keeps
    the table: `sinks.incremental.incremental_backup` diffs it with no
    job, and only a query over the frame runs one.

    `root_start_ipp` changes nothing: the root is always listed, never
    paged.  The keyword is still accepted because the benchmark's own
    tests (`perfbench/tests`) pass it."""
    table = extract_table(client, max_ipp=max_ipp, parallelism=parallelism)
    return tree_frame(spark, table)


class FakeFirebase:
    """In-memory Firebase REST double for tests (FIXTURES.md §2): honors
    shallow / orderBy="$key" (in `key_order`, the server's order) /
    limitToFirst / startAt, enforces a payload byte budget with
    PayloadTooLarge, and supports merge-PATCH update() with injectable
    write failures."""

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

        keys = sorted(node, key=key_order) if order_by_key else list(node)
        if start_at is not None:
            keys = keys[bisect_left(keys, key_order(start_at), key=key_order) :]
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
