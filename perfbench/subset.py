#!/usr/bin/env python3
"""Draw the analytics workload's query subset.

    python3 perfbench/subset.py

The analytics workload runs a fixed subset of the ``bench.py`` HEADLINE
queries of both query families: the Catalyst-bound SQL modules and the
Python-worker-bound LLM-data modules.  The subset is a seeded draw,
stratified by module group: each group gets draws in proportion to its
size (largest remainder), so a small group may get none.  Within a group
the draw is ``random.Random(seed).sample`` over the sorted eligible
names.  The script prints the draw for the current registry;
``workloads.ANALYTICS`` holds it frozen, so a query added to HEADLINE
later does not change the workload.
"""

from __future__ import annotations

import os
import random
import sys

#: module groups of each query family, as engine module prefixes
SQL_GROUPS = (
    "operators.relational",
    "operators.tpch",
    "streaming.",
    "functions.",
    "sources.tree",
    "sources.ingest",
)
LLM_GROUPS = (
    "operators.dedup",
    "operators.text",
    "operators.similarity",
    "operators.multimodal",
)

#: not drawable: the BPE queries' DuckDB oracles take 6-36 s to check,
#: and the other four fail on small generated tables
EXCLUDED = frozenset(
    {
        "text_bpe_merges",
        "text_bpe_encode",
        "sim_pq_topk",
        "sim_ivfpq_topk",
        "sim_ivfpq_persisted",
        "multimodal_media_features",
    }
)

SEED = 0
#: queries drawn: what fits three timed passes in a 20 s run on 4 vCPUs
SIZE = 7


def apportion(sizes: dict[str, int], n: int) -> dict[str, int]:
    """Share ``n`` draws among groups in proportion to their sizes, by
    largest remainder (ties go to the earlier group)."""
    total = sum(sizes.values())
    quota = {g: n * s / total for g, s in sizes.items()}
    k = {g: int(q) for g, q in quota.items()}
    order = sorted(quota, key=lambda g: -(quota[g] - k[g]))
    for g in order[: n - sum(k.values())]:
        k[g] += 1
    return k


def draw(pool: dict[str, list[str]], n: int, seed: int = SEED) -> tuple[str, ...]:
    """Stratified seeded draw of ``n`` names from ``pool`` (group ->
    names), in group order."""
    k = apportion({g: len(v) for g, v in pool.items()}, n)
    rng = random.Random(seed)
    return tuple(q for g in pool for q in sorted(rng.sample(sorted(pool[g]), k[g])))


def pool(headline, module_of) -> dict[str, list[str]]:
    """group -> eligible HEADLINE names, SQL groups first."""
    return {
        g: [q for q in headline if q not in EXCLUDED and module_of(q).startswith(g)]
        for g in SQL_GROUPS + LLM_GROUPS
    }


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    import bench

    registry = entry.queries()
    pkg = "firebase_realtime_database_backup_spark."

    def module_of(q: str) -> str:
        return registry[q].__module__.removeprefix(pkg)

    groups = pool(bench.HEADLINE, module_of)
    print(f"analytics: {sum(map(len, groups.values()))} eligible")
    for q in draw(groups, SIZE):
        print(f"    {q!r},  # {module_of(q)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
