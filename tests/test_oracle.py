"""Full registry ↔ DuckDB oracle gate at sf0.001 (fast local replica of
the driver's CORRECTNESS check; the driver runs sf0.01)."""

import json

import pytest

from firebase_realtime_database_backup_spark import verify


@pytest.mark.slow
def test_all_queries_match_oracle(spark):
    import __spark_entry__ as entrymod

    results = verify.run_all(spark, "/root/testdata/sf0.001")
    failures = [r for r in results if not r.ok]
    assert not failures, [f"{r.name}: {r.details}" for r in failures]
    assert len(results) == len(entrymod.queries())


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


def test_every_query_module_imports():
    """A query module that fails to import is only warned about, and the
    registry carries on without its queries: none may fail here."""
    from firebase_realtime_database_backup_spark.registry import build_registry

    messages = []
    build_registry(warn=messages.append)
    assert messages == []


def _write_records(directory, records):
    """Write ``{round: {name: row}}`` as CORRECTNESS_r{NN}.json files."""
    for n, rows in records.items():
        (directory / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(rows))


def _passed(hash_match=True, err=None):
    return {"rows_match": True, "schema_match": True, "hash_match": hash_match,
            "spark_rows": 1, "oracle_rows": 1, "err": err}


def test_window_rotates_over_committed_records():
    """The driver walks ``queries()`` and attests about 50 oracle-backed
    names per round: oracle-backed names never attested come first, then
    the oldest passes, so no name the newest record passed is in the
    next window while an older one is waiting."""
    import __spark_entry__ as entrymod

    from firebase_realtime_database_backup_spark.registry import (
        RECORDS_DIR,
        attested_rounds,
    )

    oracles = entrymod.oracle_sql()
    walk = [n for n in entrymod.queries() if n in oracles]
    assert set(walk) == set(oracles)
    rounds = attested_rounds(RECORDS_DIR, oracles)
    keys = [(n in rounds, rounds.get(n, 0)) for n in walk]
    assert keys == sorted(keys)
    newest = max(rounds.values())
    assert not [n for n in walk[:50] if rounds.get(n) == newest]


def test_window_order_from_synthetic_records(tmp_path, monkeypatch):
    from firebase_realtime_database_backup_spark import registry
    from firebase_realtime_database_backup_spark.registry import (
        attested_rounds,
        build_registry,
    )

    # with no records every oracle-backed name is unattested: module order
    monkeypatch.setattr(registry, "RECORDS_DIR", str(tmp_path))
    reg = build_registry()
    a, b, c, d, *rest, new = list(reg.oracles)
    _write_records(tmp_path, {
        1: {a: _passed(), b: _passed(), c: _passed(), d: _passed(),
            **{n: _passed() for n in rest}},
        2: {a: _passed(False), b: _passed(None), c: _passed(err="boom"),
            d: _passed(), "not_a_registered_query": _passed()},
        3: {n: _passed() for n in rest[:10]},
    })
    rounds = attested_rounds(str(tmp_path), reg.queries)
    # a failed, unhashed or erroring row is no pass; a later pass wins
    assert (rounds[a], rounds[b], rounds[c], rounds[d]) == (1, 1, 1, 2)
    assert rounds[rest[0]] == 3 and rounds[rest[10]] == 1
    assert "not_a_registered_query" not in rounds and new not in rounds

    walk = [n for n in build_registry().queries if n in reg.oracles]
    # the query with no row leads, then oldest pass first, ties in
    # module order
    assert walk[0] == new
    assert walk[1:] == [a, b, c, *rest[10:], d, *rest[:10]]


@pytest.mark.parametrize("content", ["[1, 2]", '{"q": 3}', "{"])
def test_malformed_record_names_the_file(tmp_path, content):
    from firebase_realtime_database_backup_spark.registry import attested_rounds

    path = tmp_path / "CORRECTNESS_r07.json"
    path.write_text(content)
    with pytest.raises(ValueError, match="CORRECTNESS_r07.json"):
        attested_rounds(str(tmp_path), ["q"])


def test_prod_twins_are_registered_queries(spark):
    """Every prod-twin pointer must name a registered query (the
    teaching→production audit trail is only useful if the twin runs),
    and a teaching form must not share its twin's oracle: then the twin
    is its own anchor and the teaching form anchors nothing."""
    from firebase_realtime_database_backup_spark.registry import build_registry

    reg = build_registry()
    for teaching, twin in reg.prod_twins.items():
        assert teaching in reg.queries, f"prod_twin key {teaching!r} unregistered"
        assert twin in reg.queries, (
            f"prod_twin {teaching!r} -> {twin!r} names an unregistered query"
        )
        assert teaching not in reg.oracles or (
            reg.oracles[teaching] != reg.oracles.get(twin)
        ), f"prod_twin {teaching!r} registers the same oracle as {twin!r}"


def test_headline_is_the_unmarked_registry():
    """bench.HEADLINE holds no hand-kept names: the queries marked
    ``headline=False`` are exactly the registered ones outside it, it
    names each query once, in module-registration order, and the
    layout warm-ups and the frozen analytics workload draw from it."""
    import bench
    from perfbench.workloads import ANALYTICS

    from firebase_realtime_database_backup_spark.registry import module_registry

    reg = module_registry()
    headline = set(bench.HEADLINE)
    assert len(bench.HEADLINE) == len(headline)
    assert reg.off_headline == set(reg.queries) - headline
    assert bench.HEADLINE == [n for n in reg.queries if n in headline]
    assert set(bench.LAYOUT_QUERIES) <= headline
    assert set(ANALYTICS) <= headline


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
        "flagship_revenue_bucketed": (relational.ensure_bucketed_facts,),
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
