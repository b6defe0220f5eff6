"""Adversarial edge-corpus gate: every registered query must survive —
and every oracle-backed query must still hash-match DuckDB — on a
corpus of degenerate rows the standard testdata never exercises:

- empty / whitespace-only / single-token / all-repeated-token documents
- non-ASCII text (the multimodal ASCII boundary must fold it, not break)
- events with NULL value, NULL props, and non-numeric JSON item ids
- an all-zero embedding vector (cosine denominators go to zero)

This is the gate that caught (round 2): ANSI DIVIDE_BY_ZERO in every
cosine operator on zero-norm vectors, ANSI CAST failures on dirty JSON
ids, and empty-payload documents silently dropped or nulled by the
multimodal oracles' lateral joins.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from firebase_realtime_database_backup_spark import verify


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    src = "/root/testdata/sf0.001"
    d = str(tmp_path_factory.mktemp("edge_corpus"))
    con = duckdb.connect()

    def copy(sql: str, name: str) -> None:
        con.execute(f"COPY ({sql}) TO '{os.path.join(d, name)}' (FORMAT PARQUET)")

    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"):
        copy(f"SELECT * FROM read_parquet('{src}/{t}.parquet') LIMIT 40",
             f"{t}.parquet")

    copy(
        f"""
        (SELECT * FROM read_parquet('{src}/documents.parquet') LIMIT 40)
        UNION ALL
        SELECT * FROM (VALUES
          (9001, '', 'en', 'src0', 0),
          (9002, 'x', 'en', 'src1', 1),
          (9003, '   ', 'de', 'src2', 3),
          (9004, 'a a a a a a a a a a a a', 'es', 'src3', 23),
          (9005, 'café 中文 emoji', 'zh', 'src4', 13)
        ) t(doc_id, text, lang, source, n_chars)
        UNION ALL
        -- pack_sequences boundary: a doc with EXACTLY PACK_CAPACITY
        -- (256) tokens, so the next doc in its source starts exactly on
        -- a sequence boundary, and one with 257 straddling it
        SELECT 9006, repeat('w ', 255) || 'w', 'en', 'src7', 511
        UNION ALL
        SELECT 9007, repeat('w ', 256) || 'w', 'en', 'src7', 513
        UNION ALL
        SELECT 9008, 'tail after boundary', 'en', 'src7', 19
        UNION ALL
        -- inverted-index postings cap with non-ASCII terms: 'naïve'
        -- appears in 17 docs (> the 16-posting cap) and 'm€ta' in 6
        -- (> the df_count >= 5 floor), so the cap + ordering path runs
        -- on multi-byte terms
        SELECT 9100 + r, CASE WHEN r < 6 THEN 'naïve m€ta filler' || r
                              ELSE 'naïve filler' || r END,
               'fr', 'src8', 20
        FROM range(17) t(r)
        """,
        "documents.parquet",
    )
    copy(
        f"""
        (SELECT * FROM read_parquet('{src}/events.parquet') LIMIT 40)
        UNION ALL
        SELECT * FROM (VALUES
          (900001, TIMESTAMP '2024-06-01 00:00:00', 7777, 'click',
           CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)),
          (900002, TIMESTAMP '2024-06-01 00:00:01', 7777, 'view', 0.0, '{{}}'),
          (900003, TIMESTAMP '2024-06-01 00:00:02', 7778, 'purchase', -1.5,
           '{{"k": "notanum"}}')
        ) t(event_id, ts, user_id, event_type, value, props)
        """,
        "events.parquet",
    )
    copy(
        f"""
        (SELECT * FROM read_parquet('{src}/embeddings.parquet') LIMIT 40)
        UNION ALL
        SELECT 9001,
               CAST(list_transform(range(64), x -> CAST(0.0 AS FLOAT))
                    AS FLOAT[]),
               0
        """,
        "embeddings.parquet",
    )
    con.close()
    return d


@pytest.fixture(scope="module")
def degenerate_dir(tmp_path_factory):
    """Round-4 degenerate shapes the 40-row edge corpus can't express:

    - documents from one dominant source plus a 1-doc RARE source, all
      doc_ids multiples of 37 (gaps; every one corrupt under the
      quarantine rule): temperature flattening upweights the rare
      source past 100% (0.5 * 51 * 1/z ~ 3.2), so its rate must clamp
      at 10000 bp identically in both engines;
    - 7 ALL-IDENTICAL embeddings (fewer than PQ_K=32): codebook
      training must pad instead of crash (the advisor's IndexError),
      every cell degenerate, cosines all exactly 1.0 -> ties broken by
      c_id alone."""
    d = str(tmp_path_factory.mktemp("degenerate_corpus"))
    con = duckdb.connect()
    # duckdb_connection registers views for every catalog table: give
    # the unused ones empty (schema-only) parquet stubs
    src = "/root/testdata/sf0.001"
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet') LIMIT 0)"
            f" TO '{os.path.join(d, t + '.parquet')}' (FORMAT PARQUET)"
        )
    con.execute(
        f"""
        COPY (
          SELECT CAST(r * 37 AS BIGINT) AS doc_id,
                 'tok' || r || ' common text here' AS text,
                 CASE WHEN r % 2 = 0 THEN 'en' ELSE 'de' END AS lang,
                 CASE WHEN r = 50 THEN 'rare_source'
                      ELSE 'big_source' END AS source,
                 CAST(20 AS BIGINT) AS n_chars
          FROM range(51) t(r)
        ) TO '{os.path.join(d, "documents.parquet")}' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT CAST(r AS BIGINT) AS vec_id,
                 CAST(list_transform(range(64),
                      x -> CAST(0.25 AS FLOAT)) AS FLOAT[]) AS embedding,
                 0 AS label
          FROM range(7) t(r)
        ) TO '{os.path.join(d, "embeddings.parquet")}' (FORMAT PARQUET)
        """
    )
    con.close()
    return d


def test_temperature_sampling_clamps_rare_source(spark, degenerate_dir):
    """The 1-doc rare source's flattened rate (~3.2) must clamp at
    10000 bp — its doc is kept unconditionally — and the oracle (LEAST
    on the DuckDB side) agrees hash-exactly."""
    import __spark_entry__ as e

    con = verify.duckdb_connection(degenerate_dir)
    r = verify.compare_query(
        spark, con, "mix_temperature_sampled",
        e.queries()["mix_temperature_sampled"],
        e.oracle_sql()["mix_temperature_sampled"], degenerate_dir,
    )
    assert r.ok, r.details
    rows = e.queries()["mix_temperature_sampled"](spark, degenerate_dir).collect()
    by_source = {}
    for row in rows:
        by_source.setdefault(row.source, set()).add(row.rate_bp)
    assert by_source["rare_source"] == {10000}  # clamped, doc kept
    assert all(bp < 10000 for bp in by_source["big_source"])


def test_quarantine_survives_docid_gaps(spark, degenerate_dir):
    """doc_id gaps (0, 37, 74, ...): every doc_id is a multiple of 37,
    so the corrupt-line rule truncates ALL of them — n_good = 0 — and
    the oracle predicts it from the same rule."""
    import __spark_entry__ as e

    con = verify.duckdb_connection(degenerate_dir)
    r = verify.compare_query(
        spark, con, "ingest_jsonl_quarantine",
        e.queries()["ingest_jsonl_quarantine"],
        e.oracle_sql()["ingest_jsonl_quarantine"], degenerate_dir,
    )
    assert r.ok, r.details
    row = e.queries()["ingest_jsonl_quarantine"](spark, degenerate_dir).collect()[0]
    # every doc_id (incl. 0) is 0 mod 37 -> all corrupt; the good-side
    # SUMs are NULL-over-empty in BOTH engines (canon-checked above)
    assert row.n_good == 0 and row.n_quarantined == 51


def test_pq_tiers_survive_tiny_identical_corpus(spark, degenerate_dir):
    """7 identical vectors < PQ_K=32 training rows: both PQ tiers must
    pad the codebook training set (not IndexError), emit exact cosines
    of 1.0, and tie-break deterministically by c_id."""
    from firebase_realtime_database_backup_spark.operators import similarity as S

    for fn in (S.sim_pq_topk, S.sim_ivfpq_topk):
        rows = fn(spark, degenerate_dir).collect()
        assert rows, f"{fn.__name__} returned nothing"
        for r in rows:
            assert abs(r.cosine - 1.0) < 1e-12
            assert r.c_id != r.q_id
        # per query: ranks tie-broken by ascending c_id (skipping self)
        by_q = {}
        for r in rows:
            by_q.setdefault(r.q_id, []).append((r.rk, r.c_id))
        for q, pairs in by_q.items():
            expected = [c for c in range(7) if c != q][: len(pairs)]
            assert [c for _, c in sorted(pairs)] == expected


@pytest.fixture(scope="module")
def r4_edge_dir(tmp_path_factory):
    """Round-4 boundary shapes the 40-row edge corpus can't express:

    - a SINGLE-DAY calendar (every order on 1996-06-01): the sweep-line
      open-interval count has exactly one opening day, and every
      urgent×high interval pair overlaps — the degenerate case for
      first-shared-bin dedup in the binned overlap join;
    - an ALL-ONE-VERSION SCD2 entity (user 7: one 'view' version, with
      purchases strictly before it, AT its timestamp, and after) plus a
      NO-VERSION entity (user 9: purchases, zero views) — the NULL
      version carry and the dim-first equal-ts rule;
    - a SINGLE-BUCKET lineitem (all prices inside one $100 bucket, even
      count): both middle positions land in the boundary bucket and the
      two-level median interpolates inside it;
    - an EMPTY-MERGE-TABLE corpus for BPE (every word a distinct single
      character): round 1 finds no adjacent pair, the loop breaks
      immediately, and encode must still produce 1 symbol per word;
    - the single day also collapses every trailing-window/daily-grain
      events op (ewma, seasonality, trending, gap histogram, forecast
      backtest, DAU/WAU) to its 1-day degenerate form."""
    d = str(tmp_path_factory.mktemp("r4_edge_corpus"))
    con = duckdb.connect()
    src = "/root/testdata/sf0.001"
    for t in ("region", "nation", "customer", "supplier", "part",
              "embeddings"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet') LIMIT 0)"
            f" TO '{os.path.join(d, t + '.parquet')}' (FORMAT PARQUET)"
        )

    def copy(sql: str, name: str) -> None:
        con.execute(f"COPY ({sql}) TO '{os.path.join(d, name)}' (FORMAT PARQUET)")

    copy(
        f"""
        (SELECT * FROM read_parquet('{src}/orders.parquet') LIMIT 0)
        UNION ALL
        SELECT r + 1, r % 3, 'O', 1000.0 + r,
               TIMESTAMP '1996-06-01 00:00:00',
               CASE WHEN r % 2 = 0 THEN '1-URGENT' ELSE '2-HIGH' END
        FROM range(8) t(r)
        """,
        "orders.parquet",
    )
    copy(
        f"""
        (SELECT * FROM read_parquet('{src}/events.parquet') LIMIT 0)
        UNION ALL
        SELECT * FROM (VALUES
          -- user 7: ONE dim version (the all-one-version entity)
          (1, TIMESTAMP '2024-06-01 12:00:00', 7, 'view', 1.5, '{{"item": "1"}}'),
          --   facts: before any version / AT the version ts / after
          (2, TIMESTAMP '2024-06-01 10:00:00', 7, 'purchase', 5.0, '{{"item": "2"}}'),
          (3, TIMESTAMP '2024-06-01 12:00:00', 7, 'purchase', 6.0, '{{"item": "1"}}'),
          (4, TIMESTAMP '2024-06-01 14:00:00', 7, 'purchase', 7.0, '{{"item": "3"}}'),
          -- user 8: versions only, no facts
          (5, TIMESTAMP '2024-06-01 09:00:00', 8, 'view', 2.0, '{{"item": "2"}}'),
          (6, TIMESTAMP '2024-06-01 11:00:00', 8, 'view', 3.0, '{{"item": "3"}}'),
          -- user 9: facts only, NO version ever (NULL carry)
          (7, TIMESTAMP '2024-06-01 08:00:00', 9, 'purchase', 4.0, '{{"item": "2"}}'),
          (8, TIMESTAMP '2024-06-01 16:00:00', 9, 'purchase', 9.0, '{{"item": "1"}}')
        ) t(event_id, ts, user_id, event_type, value, props)
        UNION ALL
        -- volume within the SAME single day across types/users
        SELECT 100 + r, TIMESTAMP '2024-06-01 00:00:00'
                 + INTERVAL (r * 7) MINUTE,
               10 + r % 4,
               CASE r % 3 WHEN 0 THEN 'click' WHEN 1 THEN 'view'
                          ELSE 'purchase' END,
               CAST(r AS DOUBLE) / 2,
               '{{"item": "' || (r % 5) || '"}}'
        FROM range(24) t(r)
        """,
        "events.parquet",
    )
    copy(
        f"""
        (SELECT * FROM read_parquet('{src}/lineitem.parquet') LIMIT 0)
        UNION ALL
        SELECT r + 1, r + 1, r + 1, 1, 1.0,
               10.00 + r * 13.37, 0.05, 0.02, 'N', 'O',
               TIMESTAMP '1996-06-01 00:00:00'
        FROM range(6) t(r)
        """,
        "lineitem.parquet",
    )
    copy(
        f"""
        (SELECT * FROM read_parquet('{src}/documents.parquet') LIMIT 0)
        UNION ALL
        SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), 'a b c', 'en', 's0', CAST(5 AS BIGINT)),
          (CAST(2 AS BIGINT), 'd e', 'en', 's0', CAST(3 AS BIGINT)),
          (CAST(3 AS BIGINT), 'f', 'de', 's1', CAST(1 AS BIGINT))
        ) t(doc_id, text, lang, source, n_chars)
        """,
        "documents.parquet",
    )
    con.close()
    return d


#: The round-4 additions (the never-attested backlog) plus the BPE pair
#: — each run under the FULL oracle comparison on the r4 edge shapes,
#: like their r1-r3 peers on edge_dir.
R4_EDGE_QUERIES = (
    "agg_median_twolevel",
    "events_activity_concentration",
    "events_adoption_curve",
    "events_audience_overlap",
    "events_dau_wau_stickiness",
    "events_ewma_daily",
    "events_forecast_backtest",
    "events_seasonality_profile",
    "events_session_gap_histogram",
    "events_trending_topk",
    "graph_triangle_count",
    "join_interval_overlap",
    "join_scd2_pointintime",
    "layout_compact_small_files",
    "quality_corpus_datasheet",
    "stream_watermark_audit",
    "window_open_intervals",
    "text_bpe_merges",
    "text_bpe_encode",
)


#: Round-5 additions, run on the same boundary shapes: the all-equal
#: lineitem quantities hit agg_skew_kurtosis_exact's zero-variance
#: guard; the single-'N'-flag lineitem empties BOTH KS populations; the
#: single-day calendar collapses the cohort/CUSUM/bot/gap ops; the
#: EMPTY customer/embeddings stubs drive the SQL-entry and
#: similarity-eval queries to their zero-row paths.
R5_EDGE_QUERIES = (
    "agg_bitmap_distinct",
    "agg_weighted_median",
    "agg_skew_kurtosis_exact",
    "quality_ks_test",
    "quality_outlier_iqr",
    "events_funnel_conversion_time",
    "events_changepoint_cusum",
    "events_cohort_ltv",
    "events_bot_rate_gate",
    "window_order_gaps_twolevel",
    "graph_degree_distribution",
    "quality_dup_rate_by_source",
    "quality_null_completeness",
    "quality_label_balance",
    "mix_epoch_repeat_plan",
    "text_ngram_novelty",
    "text_char_entropy_scaled",
    "dedup_minhash_audit_sampled",
    "sql_exists_not_exists",
    "sim_knn_label_vote",
    "stream_bot_alerts",
    "window_max_drawdown",
    "agg_entropy_by_group",
    "quality_monotonic_id_audit",
)


def _run_oracle_gate(spark, names, sf_dir):
    import __spark_entry__ as e

    queries, oracles = e.queries(), e.oracle_sql()
    con = verify.duckdb_connection(sf_dir)
    failures = []
    for name in names:
        try:
            r = verify.compare_query(
                spark, con, name, queries[name], oracles[name], sf_dir
            )
            if not r.ok:
                failures.append((name, r.details[:1]))
        except Exception as exc:  # noqa: BLE001 — collecting all failures
            failures.append((name, str(exc).splitlines()[:1]))
    return failures


@pytest.mark.slow
def test_r4_surface_on_edge_shapes(spark, r4_edge_dir):
    """Every round-4 query must hash-match its oracle on the boundary
    corpus (single-day calendar, one-version/no-version SCD2 entities,
    single-bucket median, empty BPE merge table)."""
    failures = _run_oracle_gate(spark, R4_EDGE_QUERIES, r4_edge_dir)
    assert not failures, failures


def test_r5_surface_on_edge_shapes(spark, r4_edge_dir):
    """Every round-5 query must hash-match its oracle on the same
    boundary corpus — incl. the zero-variance, empty-population, and
    empty-table paths the standard testdata never exercises."""
    failures = _run_oracle_gate(spark, R5_EDGE_QUERIES, r4_edge_dir)
    assert not failures, failures


def test_scd2_pointintime_version_carry(spark, r4_edge_dir):
    """Pin the semantics the fixture was built for: purchase before any
    version and no-version users carry NULL; the equal-ts purchase
    resolves dim-first (picks the 12:00 version, not NULL)."""
    import __spark_entry__ as e

    rows = {
        r.purchase_id: r
        for r in e.queries()["join_scd2_pointintime"](spark, r4_edge_dir)
        .filter("user_id IN (7, 9)")
        .collect()
    }
    assert rows[2].version_value is None          # before any version
    assert rows[3].version_value == 1.5           # equal ts -> dim-first
    assert rows[4].version_value == 1.5           # after the version
    assert rows[7].version_value is None          # user 9: no version ever
    assert rows[8].version_value is None


def test_bpe_empty_merge_table(spark, r4_edge_dir):
    """Single-char vocabulary: zero merges mined, and encode still
    emits one symbol per word."""
    import __spark_entry__ as e

    assert e.queries()["text_bpe_merges"](spark, r4_edge_dir).count() == 0
    enc = {
        r.doc_id: (r.n_words, r.n_symbols)
        for r in e.queries()["text_bpe_encode"](spark, r4_edge_dir).collect()
    }
    assert enc == {1: (3, 3), 2: (2, 2), 3: (1, 1)}


@pytest.mark.slow
def test_all_queries_survive_edge_corpus(spark, edge_dir):
    import __spark_entry__ as e

    queries, oracles = e.queries(), e.oracle_sql()
    con = verify.duckdb_connection(edge_dir)
    failures = []
    for name, fn in queries.items():
        try:
            if name in oracles:
                r = verify.compare_query(
                    spark, con, name, fn, oracles[name], edge_dir
                )
                if not r.ok:
                    failures.append((name, r.details[:1]))
            else:
                fn(spark, edge_dir).count()  # rows-only: must execute
        except Exception as exc:  # noqa: BLE001 — collecting all failures
            failures.append((name, str(exc).splitlines()[:1]))
    assert not failures, failures


@pytest.fixture(scope="module")
def bpe_dir(tmp_path_factory):
    """Corpus crafted to stress exactly the BPE-merge subtleties the
    self-delimiting encoding exists for:

    - same-char runs of odd/even length ('aaaa', 'aaaaa'): greedy
      left-to-right NON-OVERLAPPING pair counting and merging (naive
      overlap counting or replace-continuation bugs change round 1);
    - alternations ('ababab'): after (a,b) merges, round 2 must see
      the NEW symbol 'ab' adjacent to itself, never a stale char pair;
    - boundary bait ('abc' vs 'a bc'): once 'ab' is a symbol, a plain
      un-delimited string replace of 'a b' inside encoded 'a bc'
      would corrupt the symbol 'bc' — the CHR(31)/CHR(30) wrapping
      must make that structurally impossible;
    - CHR(31) inside a raw token: stripped identically everywhere.
    """
    d = str(tmp_path_factory.mktemp("bpe_corpus"))
    con = duckdb.connect()
    src = "/root/testdata/sf0.001"
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet') LIMIT 0)"
            f" TO '{os.path.join(d, t + '.parquet')}' (FORMAT PARQUET)"
        )
    con.execute(
        f"""
        COPY (
          SELECT * FROM (VALUES
            (CAST(1 AS BIGINT), 'aaaa aaaaa aa aaaa', 'en', 's0', CAST(18 AS BIGINT)),
            (CAST(2 AS BIGINT), 'ababab abab ab', 'en', 's0', CAST(14 AS BIGINT)),
            (CAST(3 AS BIGINT), 'abc a bc abc bc', 'en', 's0', CAST(15 AS BIGINT)),
            (CAST(4 AS BIGINT), 'xaby xabz aab', 'en', 's0', CAST(13 AS BIGINT)),
            (CAST(5 AS BIGINT), 'q' || CHR(31) || 'q qq', 'en', 's0', CAST(5 AS BIGINT))
          ) t(doc_id, text, lang, source, n_chars)
        ) TO '{os.path.join(d, "documents.parquet")}' (FORMAT PARQUET)
        """
    )
    con.close()
    return d


def _ref_bpe(texts, k_rounds):
    """Pure-Python reference BPE (the textbook algorithm, word-frequency
    grain, greedy left-to-right non-overlapping merges, ties broken by
    (count DESC, lhs ASC, rhs ASC))."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.split(" "):
            w = w.replace("\x1f", "").replace("\x1e", "")
            if w:
                words[w] += 1
    vocab = {tuple(w): n for w, n in words.items()}
    merges = []
    for _ in range(k_rounds):
        pairs = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        (a, b), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b, cnt))
        new_vocab = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges


def test_bpe_merges_match_reference_and_oracle(spark, bpe_dir):
    """text_bpe_merges must reproduce the textbook BPE merge sequence
    on the adversarial corpus (overlap runs, alternations, boundary
    bait) AND stay hash-exact against its stacked-CTE DuckDB oracle."""
    import __spark_entry__ as e

    from firebase_realtime_database_backup_spark.operators.text import BPE_MERGES

    con = verify.duckdb_connection(bpe_dir)
    r = verify.compare_query(
        spark, con, "text_bpe_merges",
        e.queries()["text_bpe_merges"],
        e.oracle_sql()["text_bpe_merges"], bpe_dir,
    )
    assert r.ok, r.details

    texts = [row.text for row in
             spark.read.parquet(os.path.join(bpe_dir, "documents.parquet"))
             .collect()]
    expected = _ref_bpe(texts, BPE_MERGES)
    got = [
        (row.lhs, row.rhs, row.pair_count)
        for row in e.queries()["text_bpe_merges"](spark, bpe_dir)
        .orderBy("merge_rank").collect()
    ]
    assert got == expected, (got, expected)


@pytest.fixture(scope="module")
def advice7_dir(tmp_path_factory):
    """Round-7 ADVICE shapes no prior corpus exercises:

    - documents spread over 70 distinct sources (> one 64-bit word):
      Spark's shiftleft wraps the shift amount mod 64, so the
      single-word source-overlap mask silently aliased source 64 onto
      source 0 — the multi-word split must keep every pair exact.
      Sources 0-4 additionally CONTAIN source 65-69's unique shingle,
      so cross-word pair bits (word 0 x word 1) carry real counts;
    - an event stream where state 'entry' has outgoing transitions but
      ZERO inbound edges (never a to_type, and no self-loop since it
      is on the from-side): the stationary-distribution oracle must
      keep it at mass 0 like the driver replay does;
    - an event_type carrying an embedded newline: the text-log
      generator must keep its mangled line ONE physical line or
      read-back n_bad diverges from the oracle's per-row count;
    - an embeddings table with exactly ONE row (no sample covariance)
      for the PCA degenerate guard."""
    d = str(tmp_path_factory.mktemp("advice7_corpus"))
    con = duckdb.connect()
    src = "/root/testdata/sf0.001"
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet') LIMIT 0)"
            f" TO '{os.path.join(d, t + '.parquet')}' (FORMAT PARQUET)"
        )
    con.execute(
        f"""
        COPY (
          SELECT CAST(r AS BIGINT) AS doc_id,
                 'shared overlap shingle' AS text,
                 'en' AS lang,
                 'src' || LPAD(CAST(r AS VARCHAR), 2, '0') AS source,
                 CAST(22 AS BIGINT) AS n_chars
          FROM range(70) t(r)
          UNION ALL
          SELECT CAST(100 + r AS BIGINT),
                 'uniq' || r || ' alpha beta', 'en',
                 'src' || LPAD(CAST(r AS VARCHAR), 2, '0'),
                 CAST(20 AS BIGINT)
          FROM range(70) t(r)
          UNION ALL
          -- sources 0-4 also hold the unique shingle of sources 65-69
          SELECT CAST(200 + r AS BIGINT),
                 'uniq' || (65 + r) || ' alpha beta', 'en',
                 'src' || LPAD(CAST(r AS VARCHAR), 2, '0'),
                 CAST(20 AS BIGINT)
          FROM range(5) t(r)
        ) TO '{os.path.join(d, "documents.parquet")}' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM (VALUES
            (1, TIMESTAMP '2024-06-01 00:00:00', 10, 'entry', 1.0, NULL),
            (2, TIMESTAMP '2024-06-01 00:00:01', 10, 'view', 2.0, NULL),
            (3, TIMESTAMP '2024-06-01 00:00:00', 11, 'entry', 3.0, NULL),
            (4, TIMESTAMP '2024-06-01 00:00:01', 11, 'click', 4.0, NULL),
            (5, TIMESTAMP '2024-06-01 00:00:02', 11, 'view', 5.0, NULL),
            (6, TIMESTAMP '2024-06-01 00:00:03', 11, 'click', 6.0, NULL),
            (7, TIMESTAMP '2024-06-01 00:00:00', 12, E'bad\\ntype', 7.0,
             NULL),
            (8, TIMESTAMP '2024-06-01 00:00:01', 12, 'view', 8.0, NULL),
            (9, TIMESTAMP '2024-06-01 00:00:00', 13, E'bad\\rret', -2.5,
             NULL),
            (10, TIMESTAMP '2024-06-01 00:00:01', 13, 'purchase', 9.0, NULL)
          ) t(event_id, ts, user_id, event_type, value, props)
        ) TO '{os.path.join(d, "events.parquet")}' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{src}/embeddings.parquet') LIMIT 1
        ) TO '{os.path.join(d, "embeddings.parquet")}' (FORMAT PARQUET)
        """
    )
    con.close()
    return d


def test_source_overlap_beyond_64_sources(spark, advice7_dir):
    """70 distinct sources force the two-word mask path; the sid-grain
    self-join oracle is word-size-blind, so any mod-64 aliasing breaks
    the hash.  Also pins the cross-word pair bits (src00-04 contain
    src65-69's unique shingle -> containment 1.0 on word-0 x word-1
    pairs)."""
    import __spark_entry__ as e

    con = verify.duckdb_connection(advice7_dir)
    r = verify.compare_query(
        spark, con, "dedup_source_overlap",
        e.queries()["dedup_source_overlap"],
        e.oracle_sql()["dedup_source_overlap"], advice7_dir,
    )
    assert r.ok, r.details
    out = {
        (row.source_a, row.source_b): row
        for row in e.queries()["dedup_source_overlap"](spark, advice7_dir)
        .collect()
    }
    # every one of the C(70,2) pairs shares the common shingle
    assert len(out) == 70 * 69 // 2
    # cross-word containment: src65's unique shingle lives in src00 too
    row = out[("src00", "src65")]
    assert row.n_common == 2 and row.containment == 1.0, row


@pytest.mark.slow
def test_markov_stationary_source_only_state(spark, advice7_dir):
    """'entry' precedes other states but nothing ever precedes it: the
    oracle's power-iteration steps must keep it as an explicit mass-0
    row (LEFT JOIN against states) exactly like the driver replay."""
    import __spark_entry__ as e

    con = verify.duckdb_connection(advice7_dir)
    r = verify.compare_query(
        spark, con, "events_markov_stationary",
        e.queries()["events_markov_stationary"],
        e.oracle_sql()["events_markov_stationary"], advice7_dir,
    )
    assert r.ok, r.details
    pi = {
        row.event_type: row.pi_fixed
        for row in e.queries()["events_markov_stationary"](
            spark, advice7_dir
        ).collect()
    }
    assert pi["entry"] == 0  # present, with exactly zero mass


def test_text_log_parse_newline_event_type(spark, advice7_dir):
    """An event_type embedding \\n or \\r is corrupt by definition
    (fails the word-type predicate), but its mangled line must stay ONE
    physical line so read-back n_bad equals the oracle's per-row
    count."""
    import __spark_entry__ as e

    con = verify.duckdb_connection(advice7_dir)
    r = verify.compare_query(
        spark, con, "ingest_text_log_parse",
        e.queries()["ingest_text_log_parse"],
        e.oracle_sql()["ingest_text_log_parse"], advice7_dir,
    )
    assert r.ok, r.details


@pytest.fixture(scope="module")
def null_user_dir(tmp_path_factory):
    """ADVICE r8: no prior corpus has NULL user_ids, so the oracle loop
    could never catch a NULL-basket divergence in events_audience_overlap
    — the oracle's DISTINCT relation keeps (type, NULL) rows (they count
    toward audience sizes) but its self-join on user_id never matches
    NULL, so NULL users must contribute to n_a/n_b and NEVER to n_both.
    Three NULL-user events across two types (one type duplicated) pin
    the merged-NULL-basket path; users 1/2 give every pair real
    intersections so the NULL contribution is observable."""
    d = str(tmp_path_factory.mktemp("null_user_corpus"))
    con = duckdb.connect()
    src = "/root/testdata/sf0.001"
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet') LIMIT 0)"
            f" TO '{os.path.join(d, t + '.parquet')}' (FORMAT PARQUET)"
        )
    con.execute(
        f"""
        COPY (
          SELECT * FROM (VALUES
            (1, TIMESTAMP '2024-06-01 00:00:00', 1, 'click', 1.0,
             CAST(NULL AS VARCHAR)),
            (2, TIMESTAMP '2024-06-01 00:00:01', 1, 'view', 1.0, NULL),
            (3, TIMESTAMP '2024-06-01 00:00:02', 2, 'click', 1.0, NULL),
            (4, TIMESTAMP '2024-06-01 00:00:03', 2, 'view', 1.0, NULL),
            (5, TIMESTAMP '2024-06-01 00:00:04', 2, 'purchase', 1.0, NULL),
            (6, TIMESTAMP '2024-06-01 00:00:05', CAST(NULL AS BIGINT),
             'click', 1.0, NULL),
            (7, TIMESTAMP '2024-06-01 00:00:06', CAST(NULL AS BIGINT),
             'purchase', 1.0, NULL),
            (8, TIMESTAMP '2024-06-01 00:00:07', CAST(NULL AS BIGINT),
             'purchase', 1.0, NULL)
          ) t(event_id, ts, user_id, event_type, value, props)
        ) TO '{os.path.join(d, "events.parquet")}' (FORMAT PARQUET)
        """
    )
    con.close()
    return d


def test_audience_overlap_null_users(spark, null_user_dir):
    """NULL users count toward audience sizes but never intersect: the
    full oracle comparison plus explicit pins on the counts."""
    import __spark_entry__ as e

    con = verify.duckdb_connection(null_user_dir)
    r = verify.compare_query(
        spark, con, "events_audience_overlap",
        e.queries()["events_audience_overlap"],
        e.oracle_sql()["events_audience_overlap"], null_user_dir,
    )
    assert r.ok, r.details
    out = {
        (row.type_a, row.type_b): row
        for row in e.queries()["events_audience_overlap"](
            spark, null_user_dir
        ).collect()
    }
    # click: users 1, 2, NULL -> size 3; purchase: user 2, NULL -> 2
    # (the duplicate NULL purchase dedups inside the merged basket);
    # intersections come from real users only: click∩purchase = {2}.
    row = out[("click", "purchase")]
    assert (row.n_a, row.n_b, row.n_both) == (3, 2, 1), row
    # view: users 1, 2 (no NULL view) -> the NULL basket contributed
    # nothing here; click∩view = {1, 2}.
    row = out[("click", "view")]
    assert (row.n_a, row.n_b, row.n_both) == (3, 2, 2), row
    assert ("purchase", "view") in out and out[("purchase", "view")].n_both == 1


def test_pca_degenerate_corpora(spark, advice7_dir, tmp_path):
    """sim_pca_variance_explained on a 1-row corpus (no sample
    covariance) and on an EMPTY embeddings table must return an empty
    frame instead of raising (IndexError / ZeroDivisionError)."""
    from firebase_realtime_database_backup_spark.operators.similarity import (
        sim_pca_variance_explained,
    )

    assert sim_pca_variance_explained(spark, advice7_dir).count() == 0

    empty_dir = str(tmp_path / "pca_empty")
    os.makedirs(empty_dir)
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet("
        f"'/root/testdata/sf0.001/embeddings.parquet') LIMIT 0)"
        f" TO '{os.path.join(empty_dir, 'embeddings.parquet')}'"
        f" (FORMAT PARQUET)"
    )
    con.close()
    assert sim_pca_variance_explained(spark, empty_dir).count() == 0
