"""Seeded inputs for the benchmark workloads.

``write_tables`` writes the ten catalog tables (``catalog.TABLES``) as one
parquet file each, with the schemas and value domains of the engine's
fixture tables: a TPC-H-ish star schema, an ``events`` stream, a small
text corpus and unit-norm embeddings.  Row counts scale with ``sf`` the
way the fixtures do (lineitem = 6M x sf); documents and embeddings stay
at 500 rows.  The same ``(seed, sf)`` always gives the same rows.

``make_tree`` / ``mutate_tree`` build the Firebase-shaped tree of the
ETL workload and a mutation of it whose added / removed / changed row
counts are known in advance.
"""

from __future__ import annotations

import copy
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_DOCS = 500
EMB_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _days_us(start: dt.date, days: np.ndarray) -> np.ndarray:
    base = int((dt.datetime.combine(start, dt.time()) - _EPOCH).total_seconds())
    return base * 1_000_000 + days.astype(np.int64) * _DAY_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_evt = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    partkeys = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(partkeys, i64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (partkeys % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(
                _days_us(dt.date(1995, 1, 1), rng.integers(0, 2404, n_ord))
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts(
                _days_us(dt.date(1995, 1, 2), rng.integers(0, 2498, n_line))
            ),
        }
    )
    ev_start = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_evt)) + ev_start
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), i64),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), i64),
            "event_type": rng.choice(EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50, n_evt), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup families'
            # positives
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, n)))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), i64),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    vecs = rng.normal(0, 1, (N_DOCS, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(N_DOCS), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_DOCS), i32),
        }
    )
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every catalog table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# ETL tree
# ---------------------------------------------------------------------------

#: Shape of the ETL tree at scale 1.0 (about 68k tree rows, 4 MB of JSON).
GIANT_CHILDREN = 60_000
USERS = 2_000
MEDIUM_COLLECTIONS = 6
MEDIUM_CHILDREN = 1_000
CHAIN_DEPTH = 400
#: The top CHAIN_PADDED levels of the chain carry a CHAIN_PAD-byte
#: string, so the chain's upper subtrees exceed a 64 KB page even two
#: keys at a time and the extractor must go deeper level by level
#: (two go-deepers with the default budget).  The chain has no random
#: content, so its request count is the same for every seed.
CHAIN_PADDED = 7
CHAIN_PAD = 12_000
#: Fraction of the mutable rows (the giant and medium collections) a
#: mutation touches, split 2:1:2 into changed, removed and added keys:
#: 528 / 264 / 528 at scale 1.0.
MUTATE_FRAC = 0.02


def _push_id(i: int) -> str:
    # fixed-width, sortable, Firebase push-id flavoured
    return f"-N{i:08d}"


def make_tree(seed: int, scale: float = 1.0) -> dict:
    """The ETL workload's tree: one giant collection of small records
    (the serial straggler), a users collection with variable-size
    records (pages of it get refused and AIMD halves), six medium
    collections, a CHAIN_DEPTH-deep single-child chain that forces
    go-deepers, and root scalars.  Collection sizes are fixed by
    ``scale``; the seed sets the contents."""
    rng = np.random.default_rng(seed)
    n_giant = max(10, round(GIANT_CHILDREN * scale))
    n_users = max(10, round(USERS * scale))
    n_medium = max(10, round(MEDIUM_CHILDREN * scale))

    # ~75-byte records: a 1000-key page is over the 64 KB budget, so the
    # extractor pages this collection with a halve-and-grow sawtooth
    giant = {
        _push_id(i): {"v": int(v), "t": int(t), "tag": str(w), "ok": bool(ok)}
        for i, (v, t, w, ok) in enumerate(
            zip(
                rng.integers(0, 10**6, n_giant),
                rng.integers(0, 10**9, n_giant),
                rng.choice(WORDS, n_giant),
                rng.random(n_giant) < 0.5,
            )
        )
    }
    users = {}
    for i in range(n_users):
        # log-normal record sizes: mostly a few hundred bytes, a tail of
        # records up to ~7 KB
        n_items = int(min(400, rng.lognormal(2.0, 1.0)))
        users[f"u{i:06d}"] = {
            "name": f"user {i}",
            "active": bool(rng.random() < 0.7),
            "score": round(float(rng.normal(100, 15)), 3),
            "items": {f"i{j:05d}": int(rng.integers(0, 10**6)) for j in range(n_items)},
        }
    tree: dict = {"giant": giant, "users": users}
    for c in range(MEDIUM_COLLECTIONS):
        tree[f"coll{c}"] = {
            f"k{i:06d}": {
                "label": " ".join(rng.choice(WORDS, int(rng.integers(1, 8)))),
                "n": int(rng.integers(0, 1000)),
                "ok": bool(rng.random() < 0.5),
                "x": None if rng.random() < 0.1 else round(float(rng.random()), 4),
            }
            for i in range(n_medium)
        }
    chain: dict = {"leaf": "bottom"}
    for d in range(CHAIN_DEPTH - 1, 0, -1):
        chain = {f"c{d:03d}": chain, "depth": d}
        if d <= CHAIN_PADDED:
            chain["pad"] = "p" * CHAIN_PAD
    tree["chain"] = chain
    tree["version"] = int(rng.integers(1, 100))
    tree["name"] = "benchmark tree"
    tree["enabled"] = True
    tree["ratio"] = 0.25
    return tree


def mutate_tree(tree: dict, seed: int) -> tuple[dict, dict[str, int]]:
    """Return a mutated deep copy and its known diff counts.

    Mutations touch only collections whose children always extract as
    one row each (``giant`` and the medium collections), so every
    changed / removed / added key is exactly one changed / removed /
    added tree row."""
    rng = np.random.default_rng(seed + 1_000_003)
    new = copy.deepcopy(tree)
    colls = ["giant"] + [k for k in tree if k.startswith("coll")]
    mutable = sum(len(tree[c]) for c in colls)
    n_removed = max(1, round(mutable * MUTATE_FRAC / 5))
    n_changed = n_added = 2 * n_removed
    picks = rng.choice(mutable, n_changed + n_removed, replace=False)
    flat = [(c, k) for c in colls for k in sorted(tree[c])]
    for j, idx in enumerate(picks):
        coll, key = flat[int(idx)]
        if j < n_changed:
            rec = dict(new[coll][key])
            rec["rev"] = int(rng.integers(1, 10**6))
            new[coll][key] = rec
        else:
            del new[coll][key]
    for j in range(n_added):
        coll = colls[int(rng.integers(0, len(colls)))]
        new[coll][f"~add{j:06d}"] = {"v": int(rng.integers(0, 10**6)), "new": True}
    return new, {"added": n_added, "removed": n_removed, "changed": n_changed}
