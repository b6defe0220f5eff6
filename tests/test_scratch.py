"""Content-keyed scratch-table protocol (scratch.py): cross-session
reuse of the persisted shingle/BPE dictionaries, the shingle vocabulary
and the MinHash band index, fingerprint staleness (corpus bytes and
build parameters), atomic-publish race behavior, and the GC sweep's
grace rules.

These pin VERDICT r7's top next-round item: the dictionary build must
be paid once per CORPUS VERSION, not once per session, and dead copies
must be collected instead of accreting (the 3.8 GB .scratch leak)."""

import ast
import json
import os
import shutil
import time

import pytest
from test_catalog import _jobs

from firebase_realtime_database_backup_spark import memo, scratch
from firebase_realtime_database_backup_spark.scratch import (
    MARKER,
    corpus_fingerprint,
    is_published,
    publish_table,
    sweep_scratch,
    table_path,
)

SF = "/root/testdata/sf0.01"
SMALL = "/root/testdata/sf0.001"


def _marker_mtime(path: str) -> float:
    return os.stat(os.path.join(path, MARKER)).st_mtime


def test_shingle_table_survives_sessions(spark):
    """A FRESH session (simulated by clearing every in-process memo —
    the only state a new python process would lack) must resolve to the
    already-published table and reuse it WITHOUT rebuilding: the
    content key is pure filesystem, so any session seeing the same
    corpus bytes computes the same path.  Also pins path-spelling
    normalization: a trailing-slash corpus spelling must reuse the same
    table and the same cached relation (ADVICE r7)."""
    from firebase_realtime_database_backup_spark.operators import text

    path = text.ensure_shingle_table(spark, SF)
    assert is_published(path)
    before = _marker_mtime(path)

    memo.clear_caches()
    again = text.ensure_shingle_table(spark, SF)
    assert again == path, "new session rebuilt instead of reusing"
    assert _marker_mtime(path) == before, "table was rewritten"

    # Two spellings of one corpus dir -> one table, one cached relation.
    df1 = text.doc_shingle_ids(spark, SF)
    df2 = text.doc_shingle_ids(spark, SF + "/")
    assert df2 is df1
    assert text.ensure_shingle_table(spark, SF + "/") == path


def test_bpe_table_survives_sessions(spark):
    """Same cross-session contract for the trained BPE merge table —
    training (the 6-round driver-argmax loop) is paid once per corpus
    version across all sessions."""
    from firebase_realtime_database_backup_spark.operators import text

    path = text.ensure_bpe_table(spark, SF)
    assert is_published(path)
    before = _marker_mtime(path)
    memo.clear_caches()
    assert text.ensure_bpe_table(spark, SF) == path
    assert _marker_mtime(path) == before, "merge table was retrained"


def test_ivfpq_index_survives_sessions(spark):
    """The persisted IVF x PQ code table must also ride the content
    key: a fresh session re-derives only the bounded driver state
    (deterministic centroid/codebook training) and reuses the
    corpus-scale encode without rewriting it."""
    from firebase_realtime_database_backup_spark.operators import similarity

    idx = similarity.ensure_ivfpq_index(spark, SF)
    assert idx is not None and is_published(idx[0])
    before = _marker_mtime(idx[0])
    memo.clear_caches()
    again = similarity.ensure_ivfpq_index(spark, SF)
    assert again[0] == idx[0], "new session re-encoded instead of reusing"
    assert _marker_mtime(idx[0]) == before, "index was rewritten"


@pytest.mark.parametrize(
    "module, fixture",
    [
        ("relational", "_compact_fixture"),
        ("relational", "_prune_fixture"),
        ("ingest", "_quarantine_fixture"),
        ("ingest", "_evolution_fixture"),
        ("ingest", "_log_fixture"),
    ],
)
def test_query_fixture_survives_sessions(spark, module, fixture):
    """The generated inputs of the layout and ingest queries are
    published like the dictionaries: a fresh session finds the table
    and writes nothing."""
    from firebase_realtime_database_backup_spark.operators import relational
    from firebase_realtime_database_backup_spark.sources import ingest

    build = getattr({"relational": relational, "ingest": ingest}[module], fixture)
    path = build(spark, SMALL)
    assert is_published(path)
    before = _marker_mtime(path)
    memo.clear_caches()
    assert build(spark, SMALL) == path, "new session rebuilt instead of reusing"
    assert _marker_mtime(path) == before, "fixture was rewritten"


def test_bucketed_facts_survive_sessions(spark):
    """The bucketed fact pair is published once; a session whose catalog
    lacks the tables registers the published files again, builds
    nothing, and joins them on orderkey with no Exchange (the bucket
    spec came back with the registration)."""
    from firebase_realtime_database_backup_spark.operators import relational

    path, li, od = relational.ensure_bucketed_facts(spark, SMALL)
    assert is_published(path)
    before = _marker_mtime(path)
    spark.sql(f"DROP TABLE {li}")
    spark.sql(f"DROP TABLE {od}")
    memo.clear_caches()
    builds0 = len(scratch.SCRATCH_BUILDS)
    assert relational.ensure_bucketed_facts(spark, SMALL) == (path, li, od)
    assert scratch.SCRATCH_BUILDS[builds0:] == [], "new session rebuilt"
    assert _marker_mtime(path) == before, "bucketed tables were rewritten"
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a, b = spark.table(li), spark.table(od)
        joined = a.join(b, a["l_orderkey"] == b["o_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert "Exchange" not in plan, plan


def test_fingerprint_tracks_corpus_version(tmp_path, monkeypatch):
    """The fingerprint must change when a dependency table's bytes
    change (rebuilt scale corpora get a FRESH table, never a stale
    hit) and must be insensitive to path spelling."""
    monkeypatch.setattr(scratch, "scratch_root", lambda: str(tmp_path))
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    doc = corpus / "documents.parquet"
    doc.write_bytes(b"v1")

    fp1 = corpus_fingerprint(str(corpus))
    assert corpus_fingerprint(str(corpus) + "/") == fp1

    # Same size, newer mtime -> new version (make-style staleness).
    doc.write_bytes(b"v2")
    os.utime(doc, ns=(doc.stat().st_mtime_ns + 10**9,) * 2)
    fp2 = corpus_fingerprint(str(corpus))
    assert fp2 != fp1
    assert table_path("shingle_table", str(corpus), fp2) != table_path(
        "shingle_table", str(corpus), fp1
    )


def test_publish_is_write_once_and_race_safe(tmp_path, monkeypatch):
    """Second publish for the same (kind, corpus version) must not
    invoke the builder; a concurrent-winner race (final dir appears
    between the is_published check and the rename) must leave the
    loser reading the winner's table with its tmp dir discarded."""
    monkeypatch.setattr(scratch, "scratch_root", lambda: str(tmp_path))
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "documents.parquet").write_bytes(b"v1")

    calls = []

    def build(tmp):
        calls.append(tmp)
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "part-0"), "w") as fh:
            fh.write("data")

    p1 = publish_table("shingle_table", str(corpus), ("documents",), build)
    assert is_published(p1) and len(calls) == 1
    p2 = publish_table("shingle_table", str(corpus), ("documents",), build)
    assert p2 == p1 and len(calls) == 1, "builder re-ran on a published table"

    # Race: winner publishes while loser is mid-build.
    fp = corpus_fingerprint(str(corpus))
    final = table_path("bpe_table", str(corpus), fp)

    def racing_build(tmp):
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "part-0"), "w") as fh:
            fh.write("loser")
        # Winner lands first.
        os.makedirs(final)
        with open(os.path.join(final, "part-0"), "w") as fh:
            fh.write("winner")
        with open(os.path.join(final, MARKER), "w") as fh:
            json.dump({"fingerprint": fp}, fh)

    p3 = publish_table("bpe_table", str(corpus), ("documents",), racing_build)
    assert p3 == final
    with open(os.path.join(final, "part-0")) as fh:
        assert fh.read() == "winner"
    leftovers = [n for n in os.listdir(tmp_path) if ".tmp-" in n]
    assert leftovers == [], "loser's tmp dir leaked"


def test_sweep_grace_and_families(tmp_path, monkeypatch):
    """The sweep collects exactly, past the grace: orphaned tmp dirs,
    stale content-keyed tables (corpus gone or fingerprint moved), and
    family dirs without a marker, which nothing publishes.  It never
    touches fresh tables, young tmp dirs, or foreign dirs."""
    monkeypatch.setattr(scratch, "scratch_root", lambda: str(tmp_path))
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "documents.parquet").write_bytes(b"v1")

    def build(tmp):
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "part-0"), "w") as fh:
            fh.write("data")

    # One live and one stale table of each kind the engine publishes.
    kinds = {
        "shingle_table": None,
        "shingle_vocab": None,
        "band_index_dict": ("dict", 10007),
        "band_index_xxhash": ("xxhash", 2147483647),
    }
    live = [
        publish_table(k, str(corpus), ("documents",), build, params)
        for k, params in kinds.items()
    ]

    # Stale: published against a corpus that no longer exists.
    gone = tmp_path / "gone_corpus"
    gone.mkdir()
    (gone / "documents.parquet").write_bytes(b"x")
    stale = [
        publish_table(k, str(gone), ("documents",), build, params)
        for k, params in {"bpe_table": None, **kinds}.items()
    ]
    shutil.rmtree(gone)

    legacy = tmp_path / "bpe_table_sf0.01_0123456789ab"
    legacy.mkdir()
    orphan_tmp = tmp_path / "shingle_table_sf_deadbeef.tmp-1-abc"
    orphan_tmp.mkdir()
    foreign = tmp_path / "users_notes"
    foreign.mkdir()

    now = time.time()
    # Within every grace: nothing happens.
    assert sweep_scratch(now=now) == []
    # Past the grace: orphan tmp, stale tables and the marker-less dir
    # go; live + foreign always stay.
    removed = set(sweep_scratch(now=now + scratch.STALE_GRACE_SEC + 5))
    assert removed == {*stale, str(orphan_tmp), str(legacy)}
    assert all(os.path.isdir(p) for p in live) and foreign.is_dir()


def test_build_params_key_the_table(tmp_path, monkeypatch):
    """A build's parameters are part of its content key: two parameter
    tuples give two paths and two builds, the same tuple is a hit, and
    ``params=None`` keeps the parameterless corpus fingerprint (the
    key published shingle tables were made under).  A table whose
    parameters the code has since changed is still consistent with its
    own marker, so the sweep collects it as superseded by the newer
    table of its kind, and only past the grace."""
    monkeypatch.setattr(scratch, "scratch_root", lambda: str(tmp_path))
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "documents.parquet").write_bytes(b"v1")
    calls = []

    def build(tmp):
        calls.append(tmp)
        os.makedirs(tmp, exist_ok=True)

    def publish(params):
        return publish_table(
            "band_index_dict", str(corpus), ("documents",), build, params
        )

    p1 = publish(("dict", 10007, (1, 31)))
    p2 = publish(("dict", 10009, (1, 31)))
    assert p1 != p2 and len(calls) == 2, "a new parameter hit the old table"
    assert publish(("dict", 10007, (1, 31))) == p1 and len(calls) == 2
    p0 = publish(None)
    assert p0 == table_path(
        "band_index_dict", str(corpus), corpus_fingerprint(str(corpus))
    )
    assert len({p0, p1, p2}) == 3 and len(calls) == 3

    now = time.time()
    for age, p in ((3, p1), (2, p2), (1, p0)):  # p0 is the newest
        os.utime(p, (now - age, now - age))
    assert sweep_scratch(now=now) == []
    removed = sweep_scratch(now=now + scratch.STALE_GRACE_SEC + 5)
    assert set(removed) == {p1, p2}
    assert is_published(p0)


def test_marker_is_invisible_to_spark_reads(spark):
    """_FINGERPRINT sits inside the parquet directory; Spark must treat
    it like _SUCCESS (underscore-prefixed = not data) — the persisted
    dictionary read-back must not try to parse it."""
    from firebase_realtime_database_backup_spark.operators import text

    path = text.ensure_shingle_table(spark, SF)
    assert os.path.isfile(os.path.join(path, MARKER))
    n = spark.read.parquet(path).count()
    assert n > 0


def test_published_vocab_equals_inline_rank(spark):
    """The published (shingle, sid) vocabulary is row-identical to an
    inline run of the bucketed rank, and its read-back is a plain scan
    of the content-keyed table (no rank, no cache)."""
    from firebase_realtime_database_backup_spark.operators import text

    path = text.ensure_vocab_table(spark, SF)
    assert is_published(path)
    assert os.path.basename(path).startswith("shingle_vocab_")
    vocab = text.ensure_shingle_vocab(spark, SF)
    assert not vocab.storageLevel.useMemory
    assert "shingle_vocab_" in vocab._jdf.queryExecution().toString()
    inline = text.shingle_vocab(text.doc_shingles(spark, SF))
    assert vocab.dtypes == inline.dtypes
    got = sorted((r.shingle, r.sid) for r in vocab.collect())
    assert got == sorted((r.shingle, r.sid) for r in inline.collect()) and got


@pytest.mark.parametrize("family", ["dict", "xxhash"])
def test_published_band_index_equals_inline(spark, family):
    """The published (doc_id, band, band_key) index of each hash family
    is row-identical to the inline signatures folded into band keys."""
    from firebase_realtime_database_backup_spark.operators import dedup, text

    path = dedup.ensure_band_index(spark, SF, family)
    assert is_published(path)
    assert os.path.basename(path).startswith(f"band_index_{family}_")
    bands = dedup._band_index(spark, SF, family)
    assert f"band_index_{family}_" in bands._jdf.queryExecution().toString()
    if family == "xxhash":
        sig = dedup._xxhash_signatures(dedup._xxhash_shingle_ids(spark, SF))
    else:
        sig = dedup._minhash_signatures(text.doc_shingle_ids(spark, SF))
    inline = dedup._band_keys(sig)
    assert bands.dtypes == inline.dtypes

    def rows(df):
        return sorted((r.doc_id, r.band, r.band_key) for r in df.collect())

    got = rows(bands)
    assert got == rows(inline) and got


def test_new_session_does_no_shingle_work(spark):
    """Once the vocabulary and the band index are published, a fresh
    session (every memo cleared) builds neither again:
    text_fingerprint and dedup_containment publish nothing, and
    text_fingerprint runs at most 4 Spark jobs (it ran 11 while each
    session re-ranked the vocabulary)."""
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    for name in ("text_fingerprint", "dedup_containment"):
        queries[name](spark, SF).collect()  # publish what they use

    memo.clear_caches()
    builds0 = len(scratch.SCRATCH_BUILDS)
    rows, n_jobs = _jobs(
        spark, lambda: queries["text_fingerprint"](spark, SF).collect()
    )
    assert rows and n_jobs <= 4, f"text_fingerprint ran {n_jobs} jobs"
    assert queries["dedup_containment"](spark, SF).collect()
    assert scratch.SCRATCH_BUILDS[builds0:] == []


def test_every_published_kind_is_a_swept_family():
    """Every ``publish_table(kind, ...)`` in the engine names a kind
    under a ``scratch._FAMILIES`` prefix: the sweep touches nothing
    else, so a kind outside them would keep every superseded version.
    An f-string kind is checked by its literal head."""
    import firebase_realtime_database_backup_spark as pkg

    kinds = []
    for dirpath, _, files in os.walk(os.path.dirname(pkg.__file__)):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            for node in ast.walk(ast.parse(open(path).read())):
                if not (
                    isinstance(node, ast.Call)
                    and getattr(node.func, "id", None) == "publish_table"
                ):
                    continue
                kind = node.args[0]
                if isinstance(kind, ast.Constant):
                    head = kind.value + "_"
                else:
                    assert isinstance(kind, ast.JoinedStr), (path, ast.dump(kind))
                    head = kind.values[0].value
                kinds.append((fn, head))
    assert len(kinds) >= 11, kinds  # the walk reaches every call
    stray = [k for k in kinds if not k[1].startswith(scratch._FAMILIES)]
    assert not stray, stray
