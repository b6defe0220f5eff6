"""Full registry ↔ DuckDB oracle gate at sf0.001 (fast local replica of
the driver's CORRECTNESS check; the driver runs sf0.01)."""

import pytest

from firebase_realtime_database_backup_spark import verify


@pytest.mark.slow
def test_all_queries_match_oracle(spark):
    results = verify.run_all(spark, "/root/testdata/sf0.001")
    failures = [r for r in results if not r.ok]
    assert not failures, [f"{r.name}: {r.details}" for r in failures]
    assert len(results) >= 45


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"r_name", "l_returnflag", "revenue", "n_items"} == set(df.columns)


def test_oracle_outputs_canon_safe(spark):
    """Registry lint: no oracle output column may be HUGEINT or nested.

    The driver canonicalizes via pandas (``fetchdf``): HUGEINT becomes
    float64 (hash mismatch vs Spark bigint — the round-2
    text_pack_sequences FAIL) and list/struct/map cells crash
    ``sort_values`` (the round-2 text_inverted_index ERR).  This lint
    kills the CLASS, not the instance."""
    import __spark_entry__ as entrymod

    con = verify.duckdb_connection("/root/testdata/sf0.001")
    problems = verify.lint_oracle_output_types(con, entrymod.oracle_sql())
    assert not problems, problems


@pytest.mark.slow
def test_spark_outputs_canon_safe(spark):
    """Registry lint: oracle-backed Spark queries return scalars only."""
    import __spark_entry__ as entrymod

    problems = verify.lint_spark_output_types(
        spark, entrymod.queries(), entrymod.oracle_sql(), "/root/testdata/sf0.001"
    )
    assert not problems, problems


def test_driver_passed_names_exist(spark):
    """Rotation-contract lint: every name in DRIVER_PASSED must be a
    registered query.  A typo'd or since-renamed name would silently
    send the real query back to the never-attested tier (or match
    nothing), wasting the driver's capped attestation window on
    re-proving already-passed queries."""
    import __spark_entry__ as entrymod

    from firebase_realtime_database_backup_spark.registry import DRIVER_PASSED

    unknown = DRIVER_PASSED - set(entrymod.queries())
    assert not unknown, f"DRIVER_PASSED names not in registry: {sorted(unknown)}"


def test_attest_backlog_not_stale(spark):
    """Rotation-staleness lint (the round-3 AND round-4 process bug).

    ATTEST_BACKLOG pins never-attested names to the front of the
    driver's capped window.  Twice now a round ended with the backlog
    fully attested but the constants not rotated, so the next round's
    window re-proved the same names and attested nothing new.  Fail
    loudly the moment every backlog member is already in DRIVER_PASSED:
    the fix is to append the round's CORRECTNESS passes to
    DRIVER_PASSED and repoint ATTEST_BACKLOG at whatever remains
    unattested (or empty the backlog if nothing remains)."""
    import __spark_entry__ as entrymod

    from firebase_realtime_database_backup_spark.registry import (
        ATTEST_BACKLOG,
        DRIVER_PASSED,
    )

    stale = ATTEST_BACKLOG & DRIVER_PASSED
    assert not stale, (
        f"ATTEST_BACKLOG names already driver-attested (rotate the "
        f"constants): {sorted(stale)}"
    )
    unknown = ATTEST_BACKLOG - set(entrymod.queries())
    assert not unknown, f"ATTEST_BACKLOG names not in registry: {sorted(unknown)}"


def test_attest_backlog_leads_window(spark):
    """The first len(backlog) oracle-backed names the driver sees must
    be exactly the backlog — otherwise the ~50-slot window wastes
    capacity re-proving attested queries (simulates the driver walk)."""
    import __spark_entry__ as entrymod

    from firebase_realtime_database_backup_spark.registry import ATTEST_BACKLOG

    oracle_backed = [n for n in entrymod.queries() if n in entrymod.oracle_sql()]
    head = set(oracle_backed[: len(ATTEST_BACKLOG)])
    assert head == set(ATTEST_BACKLOG), (
        f"window head != backlog; missing={sorted(ATTEST_BACKLOG - head)}, "
        f"unexpected={sorted(head - ATTEST_BACKLOG)}"
    )


def test_window_is_rolling_regression_gate(spark):
    """Post-coverage window ordering (round 6+): with every
    oracle-backed query attested, the ~50-slot driver window must be a
    ROLLING REGRESSION GATE — never-attested names first, then queries
    whose implementation changed after their last attestation
    (ROUND_TOUCHED), then the least-recently-attested corpus in
    ascending attested-round order.  Simulates the driver's walk and
    asserts the order key is monotone."""
    import __spark_entry__ as entrymod

    from firebase_realtime_database_backup_spark.registry import (
        ATTEST_BACKLOG,
        DRIVER_ATTESTED_ROUND,
        DRIVER_PASSED,
        ROUND_TOUCHED,
    )

    oracle_backed = [n for n in entrymod.queries() if n in entrymod.oracle_sql()]

    def key(name):
        if name not in DRIVER_PASSED:
            return (0,) if name in ATTEST_BACKLOG else (1,)
        touched = ROUND_TOUCHED.get(name, 0)
        attested = DRIVER_ATTESTED_ROUND[name]
        if touched > attested:
            return (2, 0, -touched)
        return (2, 1, attested)

    keys = [key(n) for n in oracle_backed]
    assert keys == sorted(keys), (
        "driver window is not ordered as the rolling regression gate; "
        f"first out-of-order name: "
        f"{oracle_backed[[i for i in range(1, len(keys)) if keys[i] < keys[i - 1]][0]]}"
    )
    # Every touched-after-attestation name must appear before every
    # untouched attested name.
    touched = [n for n in oracle_backed
               if n in DRIVER_PASSED
               and ROUND_TOUCHED.get(n, 0) > DRIVER_ATTESTED_ROUND[n]]
    if touched:
        attested_positions = [oracle_backed.index(n) for n in oracle_backed
                              if n in DRIVER_PASSED and n not in touched]
        assert max(oracle_backed.index(n) for n in touched) < min(attested_positions)


def test_round_touched_names_exist(spark):
    """ROUND_TOUCHED is only useful if its names are real queries."""
    import __spark_entry__ as entrymod

    from firebase_realtime_database_backup_spark.registry import ROUND_TOUCHED

    unknown = set(ROUND_TOUCHED) - set(entrymod.queries())
    assert not unknown, f"ROUND_TOUCHED names not in registry: {sorted(unknown)}"


def test_prod_twins_are_registered_queries(spark):
    """Every prod-twin pointer must name a registered query (the
    teaching→production audit trail is only useful if the twin runs)."""
    from firebase_realtime_database_backup_spark.registry import build_registry

    reg = build_registry()
    for teaching, twin in reg.prod_twins.items():
        assert teaching in reg.queries, f"prod_twin key {teaching!r} unregistered"
        assert twin in reg.queries, (
            f"prod_twin {teaching!r} -> {twin!r} names an unregistered query"
        )


def test_every_oracle_has_query(spark):
    import __spark_entry__ as entrymod

    q, o = entrymod.queries(), entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 45


def _memo_smoke_lists():
    """(oracle-backed, rows-only) consumers of the session memos, each
    mapped to the memoized helpers it must leave an entry in; together
    they cover every helper (asserted in the test)."""
    from firebase_realtime_database_backup_spark.operators import (
        dedup,
        multimodal,
        relational,
        similarity,
        text,
    )
    from firebase_realtime_database_backup_spark.sources import ingest

    oracle_backed = {
        "text_vocab_growth": (text.doc_shingle_ids, text.ensure_shingle_table),
        "dedup_minhash_audit_sampled": (
            dedup.ensure_band_index,
            dedup._sampled_shingle_ids,
        ),
        "dedup_containment_prefix": (dedup._ranked_tokens, dedup._sid_arrays),
        "dedup_editdist_neighborhood": (dedup._ensure_fastss_pairs,),
        "dedup_entity_resolution_sampled": (
            dedup._ensure_fastss_pairs,
            dedup._er_attr,
        ),
        "text_fingerprint": (text.ensure_vocab_table,),
        "mix_token_budget_select": (text._budget_feats,),
        "multimodal_phash_hamming": (multimodal.phash_hashes,),
        "events_item_cooccurrence": (relational.ensure_item_edges,),
        "graph_pagerank": (relational._ensure_sym_edges,),
        "layout_compact_small_files": (relational._compact_fixture,),
        "layout_partitioned_prune": (relational._prune_fixture,),
        "ingest_jsonl_quarantine": (ingest._quarantine_fixture,),
        "ingest_schema_evolution": (ingest._evolution_fixture,),
        "ingest_text_log_parse": (ingest._log_fixture,),
    }
    # the xxhash shingle relation and the IVF-PQ index have no
    # oracle-backed consumer, and the BPE oracle alone takes ~18 s (the
    # slow-tier sweep checks it): their two runs are compared to each
    # other
    rows_only = {
        "dedup_minhash_xxhash": (
            dedup._xxhash_shingle_ids,
            dedup.ensure_band_index,
        ),
        "sim_ivfpq_persisted": (similarity.ensure_ivfpq_index,),
        "text_bpe_merges": (text.ensure_bpe_table,),
    }
    return oracle_backed, rows_only


def test_memo_consumers_match_oracle_twice(spark):
    """Fast-tier oracle smoke over the session memos: each consumer runs
    twice in one session from cold memos.  Both runs must be hash-exact
    (against DuckDB where an oracle exists, else against each other),
    and the second run must be served from the memo: it builds no entry
    and replaces none."""
    import os

    import __spark_entry__ as entrymod

    from firebase_realtime_database_backup_spark import memo

    sf = "/root/testdata/sf0.001"
    oracle_backed, rows_only = _memo_smoke_lists()
    helpers = {id(h.cache) for hs in (*oracle_backed.values(), *rows_only.values())
               for h in hs}
    assert helpers == {id(d) for d in memo._REGISTERED}, "a memo has no consumer here"

    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = verify.duckdb_connection(sf)
    memo.clear_caches()
    key = (spark.sparkContext.applicationId, os.path.abspath(sf))

    def rows(name):
        df = queries[name](spark, sf)
        if name in rows_only:
            return sorted(str(r) for r in df.collect())
        pdf = df.toPandas()
        cols = sorted(str(c).lower() for c in pdf.columns)
        return cols, verify._token_rows(verify._canon_pdf(pdf))

    for name, reached in (*oracle_backed.items(), *rows_only.items()):
        first = rows(name)
        if name in oracle_backed:
            o_pdf = con.execute(oracles[name]).fetchdf()
            expected = (
                sorted(str(c).lower() for c in o_pdf.columns),
                verify._token_rows(verify._canon_pdf(o_pdf)),
            )
            assert first == expected, f"{name}: first run differs from oracle"
        for h in reached:
            assert any(k[:2] == key for k in h.cache), f"{name}: {h.__name__} unused"
        stored = [dict(d) for d in memo._REGISTERED]
        assert rows(name) == first, f"{name}: second run differs"
        for d, before in zip(memo._REGISTERED, stored):
            assert d.keys() == before.keys() and all(
                d[k] is v for k, v in before.items()
            ), f"{name}: second run rebuilt a memo entry"
