"""JSON-lines ingest: malformed lines are quarantined, never dropped."""


def test_jsonl_quarantine_routes_malformed_lines(spark, tmp_path):
    """read_jsonl_quarantine must split a mixed file into parsed rows
    and raw quarantined lines with nothing dropped: good + bad == input
    lines, bad carries the verbatim offending text."""
    import os

    from firebase_realtime_database_backup_spark.sources.ingest import (
        read_jsonl_quarantine,
    )

    p = str(tmp_path / "mixed.jsonl")
    lines = [
        '{"id": 1, "name": "ok"}',
        '{"id": 2 "name": "missing-comma"}',
        '{"id": 3, "name": "fine"}',
        "not json at all",
        '{"id": "4", "name": "wrong-type-but-castable"}',
    ]
    with open(p, "w") as fh:
        fh.write("\n".join(lines) + "\n")

    good, bad = read_jsonl_quarantine(spark, p, "id BIGINT, name STRING")
    good_rows = {(r.id, r.name) for r in good.collect()}
    bad_rows = [r.raw_line for r in bad.collect()]

    # id "4" is a JSON string: under the declared BIGINT it does not
    # parse as a typed row -> quarantined, not silently nulled
    assert good_rows == {(1, "ok"), (3, "fine")}
    assert sorted(bad_rows) == sorted(
        [lines[1], lines[3], lines[4]]
    )
    assert good.count() + bad.count() == len(lines)
