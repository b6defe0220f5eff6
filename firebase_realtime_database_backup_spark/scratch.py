"""Content-keyed persisted scratch tables with atomic publish and GC.

The engine persists its EXPENSIVE corpus-derived artifacts (the
shingle vocabulary and dictionary, the BPE merge table, the MinHash
band indexes, the IVF-PQ index, the bucketed fact pair, and the layout
and ingest queries' generated inputs) under the repo-local
``.scratch/`` directory, one kind per :func:`publish_table` caller;
``_FAMILIES`` lists their prefixes.  Keyed by session, every NEW
session re-paid the corpus-wide build (780 s at the 1000x decade) and
orphaned the previous session's copy (3.8 GB leaked by round 7).
This module keys them by CONTENT and publishes them atomically, the
shape that survives both concurrency and 100 TB:

- **Content key**: the table directory name embeds a fingerprint of
  the corpus files the artifact derives from (path + per-part-file
  size + mtime) and of the build's own parameters (the module
  constants it reads).  Any session that sees the same corpus bytes
  computes the same path, so the build is paid ONCE per corpus version
  across all sessions; a rebuilt corpus (the scale dirs are
  regenerated between rounds) or an edited constant naturally gets a
  fresh table instead of a stale hit.

- **Atomic publish**: the builder writes into a private ``*.tmp-*``
  sibling, drops a ``_FINGERPRINT`` marker (JSON: corpus dir, table
  deps, parameters, fingerprint) as the completion record, then
  ``os.rename``s the directory into place.  POSIX rename is atomic
  and fails with ENOTEMPTY/EEXIST when another session won the race —
  the loser deletes its tmp dir and reads the winner's table.  Readers
  treat "final dir exists with marker" as "complete": the marker is
  written before the rename, so a crash mid-build leaves only a tmp
  dir, never a half-published final path.

- **GC** (:func:`sweep_scratch`, invoked from the session factory):
  removes, past a grace period, (a) orphaned ``*.tmp-*`` dirs and (b)
  content-keyed dirs whose marker is missing or unreadable, whose
  recorded corpus is gone, whose recorded fingerprint no longer
  matches it (the corpus was rebuilt), or that a newer table of the
  same kind over the same corpus superseded (a build parameter
  changed).

At 100 TB the same protocol holds with the repo-local directory
swapped for a shared object-store prefix: rename becomes a conditional
marker-object PUT, and the fingerprint comes from the table's
snapshot/commit id instead of file stats.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from typing import Callable, Sequence

#: Marker file published inside every content-keyed table directory.
MARKER = "_FINGERPRINT"

#: Per-process observability (VERDICT r8 item 6): which content-keyed
#: tables this process found already published (hit) vs had to build.
#: Cross-run persisted state otherwise changes bench conditions
#: silently — a dictionary consumer's number depends on what previous
#: runs left under .scratch/, and round-over-round deltas need that
#: attributable.  bench.py copies both lists into BENCH_DETAIL.json
#: (the stdout contract is unchanged).  Entries are "kind:corpus_base"
#: strings, appended in publish order; a table can appear once per
#: session thanks to the session memos in front of publish_table.
SCRATCH_HITS: list[str] = []
SCRATCH_BUILDS: list[str] = []

#: Grace before GC may touch a tmp dir or a stale content-keyed table:
#: long enough that a live session mid-build / mid-read is never bitten
#: (builds top out around 15 min at the measured 1000x decade).
STALE_GRACE_SEC = 60 * 60

#: Scratch families this module is allowed to collect.  Anything else
#: under .scratch (a user's file, an unknown tool's dir) is never
#: touched.
_FAMILIES = (
    "shingle_vocab_",
    "shingle_table_",
    "bpe_table_",
    "band_index_",
    "bucketed_facts_",
    "compact_",
    "prune_",
    "ivfpq_index_",
    "quarantine_jsonl_",
    "schema_evolution_",
    "textlog_",
)


def scratch_root() -> str:
    """Repo-local scratch directory (created on demand)."""
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch",
    )
    os.makedirs(root, exist_ok=True)
    return root


def iter_table_files(table_path: str):
    """Yield (relpath, size, mtime_ns) for a parquet table that is
    either a single file or a directory of part files."""
    if os.path.isfile(table_path):
        st = os.stat(table_path)
        yield os.path.basename(table_path), st.st_size, st.st_mtime_ns
        return
    for dirpath, dirnames, filenames in os.walk(table_path):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.startswith(".") or fn.endswith(".crc"):
                continue
            full = os.path.join(dirpath, fn)
            st = os.stat(full)
            yield (
                os.path.relpath(full, table_path),
                st.st_size,
                st.st_mtime_ns,
            )


def corpus_fingerprint(
    sf_dir: str,
    tables: Sequence[str] = ("documents",),
    params: Sequence | None = None,
) -> str:
    """Fingerprint the corpus files an artifact derives from, and the
    parameters its build reads.

    sha1 over the corpus abspath plus, for each dependency table, every
    data file's (relative path, size, mtime_ns).  Size+mtime is the
    build-system staleness contract (make, bazel's fast path): a
    regenerated corpus always changes mtime, so a stale table can never
    be served for fresh data; a byte-identical re-stamp merely costs
    one redundant rebuild, never a wrong answer.

    ``params`` (JSON-serializable: numbers, strings, nested tuples) is
    hashed in as its JSON text, so editing a constant the build reads
    moves the table to a new path instead of serving the old value's
    table.  ``None`` hashes nothing: tables published without
    parameters keep their fingerprint."""
    sf_dir = os.path.abspath(os.path.normpath(sf_dir))
    h = hashlib.sha1(sf_dir.encode())
    for t in tables:
        tp = os.path.join(sf_dir, f"{t}.parquet")
        h.update(b"\x00" + t.encode())
        for rel, size, mtime in iter_table_files(tp):
            h.update(f"\x01{rel}\x02{size}\x02{mtime}".encode())
    if params is not None:
        h.update(b"\x03" + json.dumps(params).encode())
    return h.hexdigest()


def table_path(kind: str, sf_dir: str, fingerprint: str) -> str:
    """Canonical content-keyed directory for a persisted artifact."""
    base = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(
        scratch_root(), f"{kind}_{base}_{fingerprint[:12]}"
    )


def is_published(path: str) -> bool:
    """True iff ``path`` is a COMPLETE published table (marker present —
    the marker is written before the atomic rename, so its presence
    under the final name implies the whole write finished)."""
    return os.path.isfile(os.path.join(path, MARKER))


def publish_table(
    kind: str,
    sf_dir: str,
    tables: Sequence[str],
    build: Callable[[str], None],
    params: Sequence | None = None,
) -> str:
    """Ensure the content-keyed table for (kind, corpus, params) exists;
    build and atomically publish it if not.  Returns the table
    directory.

    ``build(tmp_dir)`` must write the complete artifact under
    ``tmp_dir`` (any layout — single parquet dir, or subdirs like the
    BPE table's merges/ + vocab/).  ``params`` lists every constant the
    build reads (see corpus_fingerprint); the marker records them so
    the GC sweep can recompute the fingerprint.  Concurrent sessions
    may both build; exactly one rename wins and the loser's work is
    discarded — wasted CPU on a tie, never a torn read."""
    fingerprint = corpus_fingerprint(sf_dir, tables, params)
    final = table_path(kind, sf_dir, fingerprint)
    label = f"{kind}:{os.path.basename(os.path.normpath(sf_dir))}"
    if is_published(final):
        SCRATCH_HITS.append(label)
        return final
    SCRATCH_BUILDS.append(label)
    tmp = f"{final}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    build(tmp)
    with open(os.path.join(tmp, MARKER), "w") as fh:
        json.dump(
            {
                "kind": kind,
                "sf_dir": os.path.abspath(os.path.normpath(sf_dir)),
                "tables": list(tables),
                "params": params,
                "fingerprint": fingerprint,
            },
            fh,
        )
    try:
        os.rename(tmp, final)
    except OSError:
        # Another session published first (rename onto an existing
        # non-empty dir fails).  Its table is byte-equivalent by
        # construction — drop ours and read theirs.
        shutil.rmtree(tmp, ignore_errors=True)
        if not is_published(final):
            raise
    return final


def _rmtree_quiet(path: str) -> bool:
    try:
        shutil.rmtree(path)
        return True
    except OSError:
        return False


def sweep_scratch(
    now: float | None = None, root: str | None = None
) -> list[str]:
    """Collect dead scratch dirs; returns the paths removed.

    Invoked from the session factory (session.get_spark) so every
    engine session amortizes cleanup — the sweep is a stat walk, a few
    ms against the multi-second JVM launch it rides on."""
    if root is None:
        root = scratch_root()
    if now is None:
        now = time.time()
    removed: list[str] = []
    # live content-keyed tables as (path, mtime, (kind, corpus))
    live: list[tuple[str, float, tuple]] = []
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if not os.path.isdir(path):
            continue
        try:
            mtime = os.stat(path).st_mtime
        except OSError:
            continue  # raced with another sweeper
        age = now - mtime
        if ".tmp-" in name:
            # Orphaned build attempt (crash mid-build, or a lost race
            # whose loser died before cleanup).
            if age > STALE_GRACE_SEC and _rmtree_quiet(path):
                removed.append(path)
            continue
        if not name.startswith(_FAMILIES):
            continue  # not ours — never touch
        try:
            with open(os.path.join(path, MARKER)) as fh:
                meta = json.load(fh)
            corpus = meta["sf_dir"]
            stale = not os.path.isdir(corpus) or corpus_fingerprint(
                corpus,
                meta.get("tables", ("documents",)),
                meta.get("params"),
            ) != meta.get("fingerprint")
        except (OSError, ValueError, KeyError):
            # no marker (nothing publishes without one) or an
            # unreadable one: no reader can trust the directory
            stale = True
        if not stale:
            live.append((path, mtime, (meta.get("kind"), corpus)))
        elif age > STALE_GRACE_SEC and _rmtree_quiet(path):
            removed.append(path)
    # One corpus version has one live table per kind; an older one that
    # still matches its corpus was built with parameters the code has
    # since changed (its fingerprint checks out against its own marker).
    newest: dict[tuple, float] = {}
    for _, mtime, key in live:
        newest[key] = max(mtime, newest.get(key, mtime))
    for path, mtime, key in live:
        if (
            mtime < newest[key]
            and now - mtime > STALE_GRACE_SEC
            and _rmtree_quiet(path)
        ):
            removed.append(path)
    return removed
