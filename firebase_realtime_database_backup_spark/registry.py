"""Query/oracle registry.

Every operator the engine claims is registered here as a named query
``(spark, sf_dir) -> DataFrame`` together with (when SQL-expressible) a
DuckDB oracle string over the same parquet tables.  The driver's
correctness loop (CORRECTNESS_r{N}.json) and the local test suite both
iterate this registry — an operator without a registry entry does not
exist as far as the gates are concerned.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


class Registry:
    def __init__(self) -> None:
        self.queries: dict[str, QueryFn] = {}
        self.oracles: dict[str, str] = {}
        #: teaching-variant name -> the production twin to run at scale.
        #: Entries here are oracle-exact baselines KNOWN to have a scale
        #: cliff (single-partition window, fixed LSH planes, full-corpus
        #: regex); anything routing production traffic must use the twin.
        self.prod_twins: dict[str, str] = {}
        #: queries registered with ``headline=False``: not timed by bench.py
        self.off_headline: set[str] = set()

    def query(self, name: str, oracle: str | None = None,
              prod_twin: str | None = None, headline: bool = True):
        """Decorator registering a query and, optionally, its DuckDB twin.

        Queries with no oracle get the driver's weaker rows-only check;
        keep those to genuinely non-SQL-expressible ops (ML LSH models,
        stateful streaming, pandas-UDF plumbing).

        ``prod_twin`` visibly marks a query as the oracle-exact TEACHING
        variant of a scale-safe production query — e.g. the
        single-partition NTILE form of RFM whose twin is the
        approx-percentile broadcast form.  `api.py query list` prints
        the marker so the non-scalable form can't be mistaken for the
        pattern to copy.

        ``headline=False`` leaves the query out of ``bench.HEADLINE``,
        the queries ``bench.py`` times.
        """

        def deco(fn: QueryFn) -> QueryFn:
            if name in self.queries:
                raise ValueError(f"duplicate query name {name!r}")
            self.queries[name] = fn
            if oracle is not None:
                self.oracles[name] = " ".join(oracle.split())
            if prod_twin is not None:
                self.prod_twins[name] = prod_twin
            if not headline:
                self.off_headline.add(name)
            return fn

        return deco

    def merge(self, *others: "Registry") -> "Registry":
        for other in others:
            for name, fn in other.queries.items():
                if name in self.queries:
                    raise ValueError(f"duplicate query name {name!r}")
                self.queries[name] = fn
            self.oracles.update(other.oracles)
            self.prod_twins.update(other.prod_twins)
            self.off_headline |= other.off_headline
        return self


#: where the driver commits its correctness records, CORRECTNESS_r{N}.json
RECORDS_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def attested_rounds(records_dir: str, names) -> dict[str, int]:
    """Map each of ``names`` to the last round ``N`` whose
    ``CORRECTNESS_r{N}.json`` in ``records_dir`` has a passing row for it
    (``hash_match: true`` and no ``err``); names never passed are absent.
    A record that is not a JSON object of per-query objects raises a
    ValueError naming the file."""
    names = set(names)
    rounds: dict[str, int] = {}
    for path in glob.glob(os.path.join(records_dir, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m is None:
            continue
        try:
            with open(path) as f:
                record = json.load(f)
        except ValueError as exc:
            raise ValueError(f"{path}: not valid JSON: {exc}") from exc
        if not isinstance(record, dict) or not all(
            isinstance(row, dict) for row in record.values()
        ):
            raise ValueError(f"{path}: not a JSON object of per-query rows")
        for name, row in record.items():
            if name in names and row.get("hash_match") is True and not row.get("err"):
                rounds[name] = max(rounds.get(name, 0), int(m.group(1)))
    return rounds


# Registration order is driver-visible: the correctness loop walks
# ``queries()`` in insertion order and attests about 50 oracle-backed
# names per round.  ``build_registry`` orders them from the committed
# records alone: oracle-backed queries never attested first, then
# attested ones oldest pass first (so the whole corpus re-proves itself
# against the DuckDB oracle every few rounds), then rows-only queries,
# which only get the weaker row-count check.  Ties keep module order.
QUERY_MODULES = (
    "firebase_realtime_database_backup_spark.operators.tpch",
    "firebase_realtime_database_backup_spark.operators.dedup",
    "firebase_realtime_database_backup_spark.operators.text",
    "firebase_realtime_database_backup_spark.operators.similarity",
    "firebase_realtime_database_backup_spark.functions.scalar",
    "firebase_realtime_database_backup_spark.operators.multimodal",
    "firebase_realtime_database_backup_spark.sources.ingest",
    "firebase_realtime_database_backup_spark.operators.relational",
    "firebase_realtime_database_backup_spark.streaming.windows",
    "firebase_realtime_database_backup_spark.streaming.stateful",
)


def module_registry(warn=None) -> "Registry":
    """Every query module's registry merged, in module-registration
    order: ``QUERY_MODULES`` order, then each module's decoration order.

    ``warn`` is called with a message per module that fails to import —
    degrade to the queries that do load, but NEVER silently: a missing
    module would otherwise just shrink the correctness surface without
    a trace."""
    merged = Registry()
    for modname in QUERY_MODULES:
        try:
            mod = __import__(modname, fromlist=["REG"])
            merged.merge(mod.REG)
        except ImportError as exc:
            if warn is not None:
                warn(f"query module {modname} failed to import: {exc}")
    return merged


def build_registry(warn=None) -> "Registry":
    """The full engine registry (`module_registry`), in driver order
    over the correctness records in ``RECORDS_DIR``."""
    merged = module_registry(warn)
    rounds = attested_rounds(RECORDS_DIR, merged.oracles)

    def order_key(name):  # sorted() is stable: ties keep module order
        if name not in merged.oracles:
            return (2, 0)
        return (1, rounds[name]) if name in rounds else (0, 0)

    reg = Registry()
    reg.prod_twins.update(merged.prod_twins)
    for name in sorted(merged.queries, key=order_key):
        reg.queries[name] = merged.queries[name]
        if name in merged.oracles:
            reg.oracles[name] = merged.oracles[name]
    return reg
