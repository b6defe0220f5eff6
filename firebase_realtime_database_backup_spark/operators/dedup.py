"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Four escalating strategies over `documents`:

1. exact         — hash group-by on the dedup key (one shuffle).
2. minhash LSH   — k=16 signature, 4 bands x 4 rows; docs sharing a band
                   key become candidate pairs; candidates verified with
                   exact Jaccard.  The LSH band join replaces the O(n²)
                   pair space with an equi join — THE scale move.
3. simhash       — 16-bit sign-of-weighted-sum fingerprint; equal
                   fingerprints → duplicate clusters, map-only + one agg.
4. n-gram Jaccard — exact pairwise verification via shingle-set join
                   (bounded subset; the all-pairs fallback LSH avoids).

The oracle-checked variants use deterministic dictionary shingle-ids and
explicit affine hash families ((a*sid + b) mod p) so DuckDB reproduces
them integer-for-integer.  The production-scale variant of (2) is
pyspark.ml's MinHashLSH (open vocabulary, hashingTF ids, no dictionary)
— registered rows-only since its hash family isn't reproducible in SQL.

Reference tie-in: the reference's only dedup is dropping the re-fetched
page-boundary cursor row, `array_slice($data, 1)`
(src/BackupProcessor.php:195-197) — generalized here to real content
dedup; its Spark analog `dropDuplicates` appears in dedup_exact.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from firebase_realtime_database_backup_spark.catalog import (
    read_parquet,
    read_table,
    spread,
)
from firebase_realtime_database_backup_spark.memo import session_memo
from firebase_realtime_database_backup_spark.functions.hashing import (
    knuth_bucket_sql,
    string_bucket_sql,
)
from firebase_realtime_database_backup_spark.operators.text import (
    SHINGLE_SQL_CTE,
    doc_shingle_ids,
)
from firebase_realtime_database_backup_spark.registry import Registry
from firebase_realtime_database_backup_spark.scratch import (
    is_published,
    publish_table,
)

REG = Registry()

# MinHash parameters (shared by Spark and oracle sides).
MINHASH_K = 16
MINHASH_P = 10007
BANDS = 4
ROWS_PER_BAND = 4
BAND_WEIGHTS = (1, 31, 961, 29791)  # 31^(i % 4)
JACCARD_THRESHOLD = 0.6
#: The xxhash family: shingle ids fold xxhash64 to XXHASH_ID_BITS bits,
#: and its signatures take them modulo XXHASH_P (2^31 - 1).
XXHASH_ID_BITS = 57
XXHASH_P = 2147483647

#: DuckDB CTE fragment turning `dshingle` into per-doc MinHash band
#: keys — the ks/hashes/bands chain every banded-LSH oracle shares
#: (twin of _minhash_signatures + _band_keys).  Defined ONCE so the
#: hash family and band fold can never silently diverge between the
#: four oracles that verify the same machinery.
MINHASH_BANDS_SQL_CTE = f"""
    ks AS (SELECT UNNEST(RANGE(0, {MINHASH_K})) AS i),
    hashes AS (
      SELECT doc_id, i,
             MIN(((2*i + 3) * CAST(sid AS BIGINT) + (5*i + 7)) % {MINHASH_P}) AS mh
      FROM dshingle, ks
      GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, i // {ROWS_PER_BAND} AS band,
             CAST(SUM(mh * CASE i % {ROWS_PER_BAND}
                             WHEN 0 THEN {BAND_WEIGHTS[0]}
                             WHEN 1 THEN {BAND_WEIGHTS[1]}
                             WHEN 2 THEN {BAND_WEIGHTS[2]}
                             ELSE {BAND_WEIGHTS[3]} END) AS BIGINT) AS band_key
      FROM hashes GROUP BY doc_id, i // {ROWS_PER_BAND}
    )"""


@REG.query(
    "dedup_exact",
    oracle="""
    SELECT lang, source,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           COUNT(*) AS group_size
    FROM documents
    GROUP BY lang, source
    """,
    headline=False,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by key: one hash aggregation picks a deterministic
    representative (min doc_id) per group and counts collapsed rows.
    Equivalent row-level form is dropDuplicates([key...]), which keeps
    an arbitrary row — min-per-group is the deterministic variant.  At
    100 TB this is a single key-shuffle with map-side partial agg."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("group_size"),
    )


def _signatures(dshingle: DataFrame, modulus: int) -> DataFrame:
    """(doc_id, mh0..mh15): k=16 affine minhashes over shingle-id sets,
    parameterized on the modulus so the dictionary family (MINHASH_P
    over dense vocab ids) and the xxhash family (2^31-1 over 57-bit
    hash ids) share ONE definition of the hash scheme — the affine
    coefficients (2i+3, 5i+7) must never diverge between them.

    All k hashes are aggregated in ONE groupBy(doc_id) pass — k min()
    columns, not a k-way row blowup — so the shingle relation is
    shuffled exactly once and map-side partial aggregation applies.
    """
    sid = F.col("sid").cast("long")
    return dshingle.groupBy("doc_id").agg(
        *[
            F.min(((2 * i + 3) * sid + (5 * i + 7)) % modulus).alias(f"mh{i}")
            for i in range(MINHASH_K)
        ]
    )


def _minhash_signatures(dshingle: DataFrame) -> DataFrame:
    return _signatures(dshingle, MINHASH_P)


def _band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): fold each 4-row band of the signature
    into one integer key — pure column arithmetic, no extra shuffle."""
    band_key = [
        sum(
            F.col(f"mh{b * ROWS_PER_BAND + r}") * F.lit(BAND_WEIGHTS[r])
            for r in range(ROWS_PER_BAND)
        ).cast("long")
        for b in range(BANDS)
    ]
    return sig.select(
        "doc_id",
        F.posexplode(F.array(*band_key)).alias("band", "band_key"),
    ).withColumn("band", F.col("band").cast("long"))




@session_memo(valid=is_published)
def ensure_band_index(spark: SparkSession, sf_dir: str, family: str) -> str:
    """Publish the banded-LSH (doc_id, band, band_key) index of one hash
    family ONCE per corpus version (scratch.publish_table, kind
    ``band_index_<family>``); returns the table directory.  The key
    covers every constant the build reads, so editing the hash scheme
    or the band fold moves the index to a new path instead of serving
    the old one.  The shingle relation is derived HERE from the family,
    so a caller cannot pair the wrong relation with a family key."""

    def build(tmp: str) -> None:
        if family == "xxhash":
            sig = _xxhash_signatures(_xxhash_shingle_ids(spark, sf_dir))
        else:
            sig = _minhash_signatures(doc_shingle_ids(spark, sf_dir))
        _band_keys(sig).write.mode("overwrite").parquet(tmp)

    params = (
        family,
        MINHASH_P,
        MINHASH_K,
        BANDS,
        ROWS_PER_BAND,
        BAND_WEIGHTS,
        XXHASH_P,
        XXHASH_ID_BITS,
    )
    return publish_table(
        f"band_index_{family}", sf_dir, ("documents",), build, params
    )


def _band_index(spark: SparkSession, sf_dir: str, family: str) -> DataFrame:
    """Banded-LSH index of one hash family — production's persisted
    (band, band_key) index, read back from its published table
    (ensure_band_index): minhash-pair emit / containment / audits /
    cross-corpus all probe it.  A new session computes no signature;
    the read is columnar and holds no cache."""
    return read_parquet(spark, ensure_band_index(spark, sf_dir, family))


def _candidate_pairs(a_bands, b_bands, a_name: str, b_name: str, ordered: bool):
    """LSH candidate generation: equi join on (band, band_key).

    `ordered=True` (self-join dedup) keeps doc_a < doc_b so each pair
    appears once; `ordered=False` (two-sided, e.g. new-batch vs corpus)
    keeps every cross pair.  Shared by all banded-LSH operators so the
    join shape — the scale-critical part — is defined exactly once."""
    a = a_bands.alias("a")
    b = b_bands.alias("b")
    cond = (F.col("a.band") == F.col("b.band")) & (
        F.col("a.band_key") == F.col("b.band_key")
    )
    if ordered:
        cond = cond & (F.col("a.doc_id") < F.col("b.doc_id"))
    return (
        a.join(b, cond)
        .select(F.col("a.doc_id").alias(a_name), F.col("b.doc_id").alias(b_name))
        .distinct()
    )


def _pair_overlap(cands, dshingle, a_name: str, b_name: str,
                  dshingle_a=None, dshingle_b=None):
    """Attach exact set-overlap stats to candidate pairs: fold each
    doc's shingle set into ONE sorted array row, broadcast both sides,
    and intersect map-side — no (doc_id, sid)-grain join, no per-pair
    shuffle.  Past broadcast range, drop the hints and these become
    doc_id-key shuffles AQE right-sizes; the array representation still
    avoids the row-grain intersection join.  Returns the pair columns
    plus (n_common, sz_a, sz_b) for the caller's metric of choice.

    Asymmetric callers (cross-corpus: small new batch vs standing
    corpus) pass ``dshingle_a``/``dshingle_b`` pre-filtered to the docs
    that can actually appear on that join side, so each broadcast
    carries only live rows instead of the full per-doc table twice."""
    def _sets(side):
        return side.groupBy("doc_id").agg(
            F.sort_array(F.collect_set("sid")).alias("sids")
        )

    if dshingle_a is None and dshingle_b is None:
        shared = _sets(dshingle)
        sets_a = sets_b = shared
    else:
        sets_a = _sets(dshingle if dshingle_a is None else dshingle_a)
        sets_b = _sets(dshingle if dshingle_b is None else dshingle_b)
    sa = sets_a.select(F.col("doc_id").alias(a_name), F.col("sids").alias("sids_a"))
    sb = sets_b.select(F.col("doc_id").alias(b_name), F.col("sids").alias("sids_b"))
    n_common = F.size(F.array_intersect(F.col("sids_a"), F.col("sids_b")))
    return (
        cands.join(F.broadcast(sa), a_name)
        .join(F.broadcast(sb), b_name)
        .select(
            a_name,
            b_name,
            n_common.cast("bigint").alias("n_common"),
            F.size("sids_a").cast("bigint").alias("sz_a"),
            F.size("sids_b").cast("bigint").alias("sz_b"),
        )
    )


@REG.query(
    "dedup_minhash_lsh",
    prod_twin="dedup_minhash_xxhash",
    oracle=f"""
    WITH {SHINGLE_SQL_CTE},
    {MINHASH_BANDS_SQL_CTE},
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cands c
      JOIN dshingle x ON x.doc_id = c.doc_a
      JOIN dshingle y ON y.doc_id = c.doc_b AND y.sid = x.sid
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b, i.n_common,
           sa.sz + sb.sz - i.n_common AS n_union,
           CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) AS jaccard
    FROM inter i
    JOIN doc_sizes sa ON sa.doc_id = i.doc_a
    JOIN doc_sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common)
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified with exact Jaccard.

    Pipeline: shingle sets → 16 affine minhashes → 4 band keys/doc →
    self-equi-join on (band, band_key) → candidate pairs → shingle-join
    verification.  Every step is a shuffle on a bounded key; the pair
    space never materializes beyond hash-collision candidates.  At
    100 TB, band keys are the partition keys and skewed bands (giant
    dup clusters) are exactly what AQE skew-join splits."""
    dshingle = doc_shingle_ids(spark, sf_dir)
    bands = _band_index(spark, sf_dir, "dict")
    cands = _candidate_pairs(bands, bands, "doc_a", "doc_b", ordered=True)
    overlap = _pair_overlap(cands, dshingle, "doc_a", "doc_b")
    n_union = F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    return (
        overlap.select(
            "doc_a",
            "doc_b",
            "n_common",
            n_union.alias("n_union"),
            (F.col("n_common").cast("double") / n_union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


@REG.query(
    "dedup_simhash",
    oracle=f"""
    WITH {SHINGLE_SQL_CTE},
    hashed AS (
      SELECT doc_id, sid,
             (CAST(sid AS BIGINT) * 2654435761) % 2147483648 AS h
      FROM dshingle
    ),
    bits AS (
      SELECT doc_id, j,
             SUM(CASE WHEN (h // POWER(2, j)::BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS s
      FROM hashed, (SELECT UNNEST(RANGE(0, 16)) AS j)
      GROUP BY doc_id, j
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN POWER(2, j)::BIGINT ELSE 0 END) AS BIGINT)
             AS simhash16
    FROM bits
    GROUP BY doc_id
    """,
    headline=False,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document: each bit is the sign of
    the ±1-weighted sum over the doc's shingle hashes.  Map-only + two
    bounded aggregations; near-dups then cluster by fingerprint equality
    (or small Hamming distance via bit_count(a XOR b)).  The cheapest
    scalable near-dup signal: no pair join at all."""
    dshingle = doc_shingle_ids(spark, sf_dir)
    hashed = dshingle.select(
        "doc_id",
        ((F.col("sid").cast("long") * F.lit(2654435761)) % F.lit(2147483648)).alias("h"),
    )
    # 16 ±1 bit-sums as 16 aggregate columns of ONE groupBy(doc_id) —
    # a single shuffle with map-side partials, not a 16-way row blowup.
    bit_w = [
        F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        for j in range(16)
    ]
    sums = hashed.groupBy("doc_id").agg(
        *[F.sum(bit_w[j]).alias(f"s{j}") for j in range(16)]
    )
    fingerprint = sum(
        F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(0) for j in range(16)
    )
    return sums.select("doc_id", fingerprint.cast("bigint").alias("simhash16"))


@REG.query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {SHINGLE_SQL_CTE}
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           COUNT(*) AS n_common,
           CAST(COUNT(*) AS DOUBLE)
             / (sa.sz + sb.sz - COUNT(*)) AS jaccard
    FROM dshingle x
    JOIN dshingle y ON x.sid = y.sid AND x.doc_id < y.doc_id
    JOIN doc_sizes sa ON sa.doc_id = x.doc_id
    JOIN doc_sizes sb ON sb.doc_id = y.doc_id
    WHERE x.doc_id <= 200 AND y.doc_id <= 200
    GROUP BY x.doc_id, y.doc_id, sa.sz, sb.sz
    HAVING CAST(COUNT(*) AS DOUBLE) / (sa.sz + sb.sz - COUNT(*)) >= 0.3
    """,
    headline=False,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard over all pairs sharing ≥1 shingle (bounded
    to doc_id ≤ 200 — the all-pairs fallback is what LSH exists to
    avoid; this operator is the ground-truth verifier)."""
    dshingle = doc_shingle_ids(spark, sf_dir).filter(F.col("doc_id") <= 200).cache()
    sizes = dshingle.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    x = dshingle.alias("x")
    y = dshingle.alias("y")
    pairs = (
        x.join(y, (F.col("x.sid") == F.col("y.sid")) & (F.col("x.doc_id") < F.col("y.doc_id")))
        .groupBy(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    out = (
        pairs.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= 0.3)


#: Rational form of JACCARD_THRESHOLD (3/5 = 0.6) — the prefix/length
#: pruning proofs below take integer ceilings of t*|d|, so the
#: threshold must be exactly representable as a fraction; the assert
#: keeps the two spellings from drifting apart.
PREFIX_T_NUM, PREFIX_T_DEN = 3, 5
assert PREFIX_T_NUM / PREFIX_T_DEN == JACCARD_THRESHOLD


def _doc_sizes(dsh: DataFrame) -> DataFrame:
    return dsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))


@session_memo
def _ranked_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(sid, doc_id, sz, rn): each doc's tokens ranked by the GLOBAL
    (df, sid) order, built once per (session, corpus) and cached.

    Both exact prefix joins consume it, and within one plan it is
    referenced from two join sides — Spark shares no subplans, so
    without the memo the df-rank window ran once per reference."""
    dsh = doc_shingle_ids(spark, sf_dir)
    freq = dsh.groupBy("sid").agg(F.count(F.lit(1)).alias("df"))
    rn = F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "sid"))
    return (
        dsh.join(freq, "sid")
        .join(_doc_sizes(dsh), "doc_id")
        .withColumn("rn", rn)
        .select("sid", "doc_id", "sz", "rn")
        .cache()
    )


def _df_ordered_tokens(spark: SparkSession, sf_dir: str):
    """Shared prefix-join machinery: the shingle dictionary, per-doc
    set sizes, and each doc's tokens ranked by the GLOBAL (df, sid)
    order (rarest first) — the order both exact similarity joins
    below take prefixes under.  Returns (dsh, sizes, ranked) where
    ranked carries (sid, doc_id, sz, rn) (see _ranked_tokens)."""
    dsh = doc_shingle_ids(spark, sf_dir)
    return dsh, _doc_sizes(dsh), _ranked_tokens(spark, sf_dir)


@session_memo
def _sid_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, arr, sz): each doc's sorted sid set as ONE array row —
    the in-row verification side of the prefix joins (array_intersect
    inside codegen instead of re-joining candidates against the
    dictionary; see dedup_jaccard_prefix's plan notes).  Built once
    per (session, corpus) and cached — both prefix joins reference it
    from two join sides each, and without the memo the collect_list
    re-aggregated per side."""
    return (
        doc_shingle_ids(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("sid")).alias("arr"),
            F.count(F.lit(1)).alias("sz"),
        )
        .cache()
    )


@REG.query(
    "dedup_jaccard_prefix",
    oracle=f"""
    WITH {SHINGLE_SQL_CTE}
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           COUNT(*) AS n_common,
           CAST(COUNT(*) AS DOUBLE)
             / (sa.sz + sb.sz - COUNT(*)) AS jaccard
    FROM dshingle x
    JOIN dshingle y ON x.sid = y.sid AND x.doc_id < y.doc_id
    JOIN doc_sizes sa ON sa.doc_id = x.doc_id
    JOIN doc_sizes sb ON sb.doc_id = y.doc_id
    GROUP BY x.doc_id, y.doc_id, sa.sz, sb.sz
    HAVING CAST(COUNT(*) AS DOUBLE) / (sa.sz + sb.sz - COUNT(*))
           >= {JACCARD_THRESHOLD}
    """,
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= t over the WHOLE corpus via prefix filtering
    (the SSJoin/PPJoin family) — the lossless-pruning answer to the
    bound dedup_ngram_jaccard carries (doc_id <= 200, because a raw
    all-pairs-sharing-a-shingle join explodes on hot shingles).
    MinHash LSH trades recall for scale; this operator keeps EXACT
    output and still scales: candidates must collide on a token of
    both docs' RARE-TOKEN PREFIXES, so the quadratic blowup a hot
    shingle causes in the naive join cannot happen — hot (high-df)
    tokens sort to the END of the global order and never enter a
    prefix unless the threshold demands nearly the whole set.

    Pruning is provably lossless: order every doc's shingle set by
    (df, sid); J(A,B) >= t implies |A∩B| >= ceil(t*|A|) (the union is
    at least |A|), so if the first |A| - ceil(t*|A|) + 1 tokens of A
    contain no common token, the remaining ceil(t*|A|) - 1 slots
    cannot reach the required overlap — the SMALLEST common token
    therefore sits inside BOTH prefixes and the prefix equi-join
    emits the pair.  A second exact filter drops pairs whose sizes
    alone bound Jaccard under t (t*max(|A|,|B|) <= min requires
    5*min >= 3*max in integers).  Survivors are verified with an
    exact intersection count — the output is bit-identical to the
    unbounded all-pairs join the oracle runs.

    Plan: sizes and document frequencies are two (key)-grain
    aggregates off the shared persisted shingle dictionary; the
    prefix pick is a per-doc window (distributed by doc_id); the
    candidate join is an equi-join on sid whose inputs are the
    PREFIXES (a t-controlled fraction of the dictionary, rare tokens
    only); verification joins candidates back to the dictionary by
    doc — every join keyed, no broadcast of anything vocabulary- or
    corpus-sized, no driver loop."""
    dsh, sizes, ranked = _df_ordered_tokens(spark, sf_dir)
    ceil_t = F.expr(
        f"({PREFIX_T_NUM} * sz + {PREFIX_T_DEN - 1}) div {PREFIX_T_DEN}"
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("sz") - ceil_t + 1
    ).select("sid", "doc_id", "sz")
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                PREFIX_T_NUM
                * F.greatest(F.col("a.sz"), F.col("b.sz"))
                <= PREFIX_T_DEN * F.least(F.col("a.sz"), F.col("b.sz"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # Verification: near-threshold pairs (a saturated corpus is full of
    # them) are irreducible exact work, so make the per-candidate cost
    # an in-row array_intersect over the two docs' sid SETS instead of
    # re-joining candidates against the (doc, sid) dictionary — the
    # row-explosion form shuffles |cands| x avg_set_size rows through
    # two hash joins + a count aggregate (measured 63 -> 16.5 s at the
    # 20x near-dup-saturated decade); the array form ships each doc's
    # ~set_size-int array once per candidate side and counts inside
    # whole-stage codegen.
    darr = _sid_arrays(spark, sf_dir)
    out = (
        cands.join(
            darr.select(
                F.col("doc_id").alias("doc_a"),
                F.col("arr").alias("arr_a"),
                F.col("sz").alias("sa"),
            ),
            "doc_a",
        )
        .join(
            darr.select(
                F.col("doc_id").alias("doc_b"),
                F.col("arr").alias("arr_b"),
                F.col("sz").alias("sb"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("arr_a", "arr_b"))
            .cast("bigint")
            .alias("n_common"),
            "sa",
            "sb",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("sa") + F.col("sb") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


@REG.query("dedup_minhash_ml", headline=False)  # rows-only: ml hash family not SQL-reproducible
def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-scale MinHashLSH via pyspark.ml: HashingTF shingles
    (open vocabulary — no dictionary, no global window) →
    MinHashLSH.approxSimilarityJoin.  Seeded and deterministic within
    Spark, but the hash family isn't reproducible in DuckDB SQL →
    rows-only check; dedup_minhash_lsh above is the oracle-checked
    twin."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from firebase_realtime_database_backup_spark.operators.text import doc_shingles

    sh = doc_shingles(spark, sf_dir)
    docs = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("shingles"))
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(docs).filter(F.expr("size(shingles) > 0"))
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.4, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.col("jaccard_dist"),
        )
    )


#: Edge count under which min_label_components runs the WHOLE closure
#: as one single-task union-find instead of the distributed fixpoint.
#: 1M symmetric edges ≈ tens of MB in one Arrow group — far inside a
#: task's memory — while the distributed loop pays (graph diameter) ×
#: (two-shuffle job overhead) regardless of size: the round-8 ER name
#: graph measured 21k edges but DIAMETER 31 (chains of serial ids one
#: substitution apart), i.e. 32 iterations × ~0.8 s of pure scheduling
#: — 25 s for milliseconds of actual union-find work.
MLC_LOCAL_EDGE_CAP = 1_000_000


def _local_components(edges: DataFrame) -> DataFrame:
    """Single-task exact union-find over a bounded symmetric edge list
    — union-by-min-root (the smaller root always stays root, so every
    final root IS its component's min id) + path halving; output is
    row-order-independent and identical to the distributed fixpoint's
    by construction."""
    id_type = dict(edges.dtypes)["doc_a"]

    def uf(pdf):
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(pdf["doc_a"], pdf["doc_b"]):
            ra, rb = find(a), find(b)
            if ra == rb:
                continue
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
        nodes = sorted(set(pdf["doc_a"]))  # symmetric: doc_a covers all
        return pd.DataFrame(
            {"doc_id": nodes, "cluster_id": [find(n) for n in nodes]}
        )

    return (
        edges.withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(uf, f"doc_id {id_type}, cluster_id {id_type}")
    )


def min_label_components(pairs: DataFrame, max_iter: int = 48) -> DataFrame:
    """Connected components of an undirected pair list `(doc_a, doc_b)`
    — the consumer of ANY pair-emitting dedup tier wants keep/drop
    decisions, i.e. cluster labels, not the quadratic pair list.
    Returns `(doc_id, cluster_id)` for every node that appears in
    `pairs`, where cluster_id is the component's min member id.

    TWO-REGIME plan (round 8): the pair graph after banding/
    thresholding is orders of magnitude smaller than the corpus, so
    when the symmetric edge list fits one task (≤ MLC_LOCAL_EDGE_CAP)
    the closure runs as a SINGLE-TASK union-find — linear work, one
    shuffle, no driver loop.  The distributed min-label fixpoint
    (every node repeatedly adopts the smallest label among itself and
    its neighbors; two shuffles per iteration; iterations = graph
    diameter) remains the large-graph path: it is the canonical Spark
    shape for iterative closure, but its cost is diameter × job
    overhead even when the graph is tiny — the round-8 ER name graph
    (21k edges, diameter 31: serial ids one substitution apart chain)
    paid 25 s of pure scheduling for milliseconds of union-find.  At
    100 TB a billions-of-edges dup graph takes the distributed branch;
    both branches produce the identical (doc_id, min-of-component)
    relation, and both are driver-attested through every closure
    consumer's oracle.

    Shared by dedup_clusters (text near-dup graph),
    multimodal_phash_cluster (pHash Hamming graph),
    graph_connected_components, and the entity-resolution closure."""
    # Symmetric edge list via a single explode pass: UNION with the
    # swapped projection would reference the (possibly expensive) pair
    # source twice — Spark shares no subplans, so a scored-candidate
    # lineage would execute twice and its plan would print twice
    # (tripping the BNL plan lint for the ER closure, whose scorer
    # carries two allowed 1-row probes).  explode(array(fwd, rev))
    # emits both orientations from ONE scan of `pairs`.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
                    ),
                    F.struct(
                        F.col("doc_b").alias("a"), F.col("doc_a").alias("b")
                    ),
                )
            ).alias("e")
        )
        .select(F.col("e.a").alias("doc_a"), F.col("e.b").alias("doc_b"))
        .distinct()
        .cache()
    )
    # the count also materializes the cache the loop would have built
    if edges.count() <= MLC_LOCAL_EDGE_CAP:
        return _local_components(edges)
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .withColumn("changed", F.lit(False))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["doc_b"] == labels["doc_id"])
            .groupBy("doc_a")
            .agg(F.min("label").alias("nbr_label"))
        )
        # localCheckpoint truncates lineage per iteration (plans would
        # otherwise grow linearly) and materializes once; the fixpoint
        # test reads the materialized `changed` flag — no second join.
        labels = (
            labels.join(neighbor_min, labels["doc_id"] == neighbor_min["doc_a"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("nbr_label"), F.col("label")) < F.col("label")).alias(
                    "changed"
                ),
            )
            .localCheckpoint(eager=True)
        )
        if labels.filter(F.col("changed")).limit(1).count() == 0:
            break
    else:
        # NEVER return silently-unconverged labels: a component of
        # diameter > max_iter (a long near-dup chain) would otherwise
        # split into several clusters, each with its own keep=true row
        # — duplicates surviving the dedup policy with no signal.
        raise RuntimeError(
            f"min-label propagation did not converge in {max_iter} "
            "iterations; the pair graph has a component of larger "
            "diameter — raise max_iter"
        )
    return labels.select(
        "doc_id", F.col("label").alias("cluster_id")
    )


@REG.query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {SHINGLE_SQL_CTE},
    {MINHASH_BANDS_SQL_CTE},
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cands c
      JOIN dshingle x ON x.doc_id = c.doc_a
      JOIN dshingle y ON y.doc_id = c.doc_b AND y.sid = x.sid
      GROUP BY c.doc_a, c.doc_b
    ),
    cpairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN doc_sizes sa ON sa.doc_id = i.doc_a
      JOIN doc_sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common)
            >= {JACCARD_THRESHOLD}
    ),
    cedges AS (
      SELECT doc_a, doc_b FROM cpairs
      UNION
      SELECT doc_b, doc_a FROM cpairs
    ),
    reach(doc_id, lbl) AS (
      SELECT doc_a, doc_a FROM cedges
      UNION
      SELECT e.doc_b, r.lbl FROM reach r JOIN cedges e ON e.doc_a = r.doc_id
    )
    SELECT doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
    FROM reach GROUP BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: connected components via
    iterative min-label propagation (see min_label_components) — the
    step that turns pairwise near-dup evidence into keep/drop
    decisions (keep = cluster min).

    Oracle: min-label propagation is a MONOTONE fixpoint, so the
    DuckDB twin is a recursive CTE computing transitive closure of
    (node, seed-label) pairs with MIN folded AFTER the recursion
    (aggregation is forbidden in the recursive arm; the closure's
    UNION-dedup bounds rows at Σ component_size², fine at oracle SF —
    the Spark side stays the linear-state label loop).  Engine parity
    is structural, not float-dependent: labels are bigint doc_ids.
    Also pytest-asserted against a brute-force union-find in
    tests/test_dedup_clusters.py."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return min_label_components(pairs).orderBy("doc_id")


@REG.query(
    "dedup_content_hash",
    oracle="""
    SELECT MD5(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY MD5(text)
    HAVING COUNT(*) >= 1
    """,
)
def dedup_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact CONTENT dedup: hash the full text (md5 — same digest
    function both engines), keep min doc_id per digest.  The zeroth
    stage of every dedup cascade: one map + one shuffle on a 128-bit
    key, collapses byte-identical copies before any shingling runs.
    (dedup_exact groups by metadata key; this groups by content.)"""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@REG.query(
    "dedup_decontaminate",
    oracle="""
    WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tok_arr FROM documents),
    grams AS (
      SELECT doc_id, ARRAY_TO_STRING(tok_arr[i:i+3], ' ') AS gram
      FROM toks, UNNEST(RANGE(1, LEN(tok_arr) - 2)) AS r(i)
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0)
    SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_matched_grams
    FROM grams g JOIN bench USING (gram)
    WHERE g.doc_id % 10 <> 0
    GROUP BY g.doc_id
    """,
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-4-gram with a held-out benchmark set (here: every 10th doc
    stands in for the eval suite).  The contamination check every
    LLM-corpus pipeline runs before training — the complement (an
    anti join on the flagged ids) is the clean corpus.

    Scale shape: real benchmark suites are fixed-size (MBs) while the
    corpus is the 100 TB side, so the distinct benchmark-gram set is
    BROADCAST and the corpus gram stream is probed map-side — the only
    shuffle is the per-doc distinct-count agg, keyed by doc_id, which
    the gram explode already carries.  For corpus-sized contamination
    sources drop the hint and let AQE pick the join side.  Tokenize
    once into a column; the per-position slice lambda is O(doc_len)
    per gram, never re-splitting (interpreted HOFs do no CSE)."""
    toks = spread(
        read_table(spark, sf_dir, "documents").select(
            "doc_id", F.split("text", " ").alias("toks")
        )
    ).filter(F.size("toks") >= 4)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 3),
                lambda i: F.concat_ws(" ", F.slice("toks", i, 4)),
            )
        ).alias("gram"),
    )
    bench = (
        grams.filter(F.col("doc_id") % 10 == 0).select("gram").distinct()
    )
    return (
        grams.filter(F.col("doc_id") % 10 != 0)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_matched_grams"))
    )


# --- embedding-cosine near-dup -------------------------------------------

EMB_DUP_THRESHOLD = 0.45    # tuned for the synthetic corpus (random
                            # vectors, max pairwise cosine ~0.6); use
                            # 0.95+ for real embedding near-dups
EMB_DUP_TARGET_OCCUPANCY = 32  # aim for ~32 vectors per LSH bucket


def _scaled_planes(n: int) -> int:
    """planes = max(4, ceil(log2(N / target))) — bucket count tracks
    corpus size so expected occupancy (and the quadratic in-bucket pair
    cost) stays ~constant as N grows."""
    import math

    return max(4, math.ceil(math.log2(max(2.0, n / EMB_DUP_TARGET_OCCUPANCY))))


def _emb_dup_scaled_oracle() -> str:
    from firebase_realtime_database_backup_spark.operators.similarity import (
        _DOT,
        _plane_sql,
    )

    dot = lambda a, b: _DOT.format(a=a, b=b)  # noqa: E731
    cos_ab = (
        f"{dot('a.emb', 'b.emb')} / (SQRT({dot('a.emb', 'a.emb')})"
        f" * SQRT({dot('b.emb', 'b.emb')}))"
    )
    n_planes = (
        f"(SELECT GREATEST(4, CAST(CEIL(LOG2(GREATEST(2.0, "
        f"COUNT(*) / {EMB_DUP_TARGET_OCCUPANCY}.0))) AS BIGINT)) FROM embeddings)"
    )
    return f"""
    WITH planes AS (
      SELECT p, {_plane_sql("p")} AS v
      FROM (SELECT UNNEST(RANGE(0, {n_planes})) AS p)
    ),
    buckets AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb,
             CAST(SUM(CASE WHEN {dot("pl.v", "e.embedding")} >= 0
                           THEN CAST(POWER(2, pl.p) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS bucket
      FROM embeddings e, planes pl
      GROUP BY e.vec_id, CAST(e.embedding AS DOUBLE[])
    )
    SELECT vec_id, nn_id, nn_cosine,
           nn_cosine >= {EMB_DUP_THRESHOLD} AS is_dup
    FROM (
      SELECT a.vec_id, b.vec_id AS nn_id, {cos_ab} AS nn_cosine,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY {cos_ab} DESC, b.vec_id) AS rk
      FROM buckets a JOIN buckets b
        ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ) WHERE rk = 1
    """


@REG.query("dedup_embedding_cosine_scaled", oracle=_emb_dup_scaled_oracle(),
           prod_twin="dedup_embedding_cosine_arrow")
def dedup_embedding_cosine_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: each vector's nearest neighbor among
    vectors sharing its random-hyperplane LSH bucket, flagged as a
    duplicate when cosine clears the threshold.  The bucket id is
    map-side column math (broadcast hyperplanes), the candidate space
    is an equi self-join on bucket — never all pairs — and the NN cut
    is a per-vector window.

    The plane count is DERIVED FROM CORPUS SIZE: planes =
    max(4, ceil(log2(N/32))), so expected bucket occupancy — and with
    it the quadratic in-bucket pair cost that made a fixed 4-plane
    form go 28x at 20x data (BASELINE.md scale table) — stays constant
    as N grows.  The count is one cheap driver-side job before plan
    build (a metadata count at parquet scale); the oracle derives the
    identical plane count from COUNT(*), so the SQL twin tracks every
    SF.  sf0.01 resolves to 4 planes, sf0.1 to 8, 20x to 12."""
    from pyspark.sql import Window

    from firebase_realtime_database_backup_spark.operators.similarity import (
        _dot,
        _norm,
        bucket_column,
    )

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    planes = _scaled_planes(emb.count())
    buckets = emb.select(
        "vec_id",
        "emb",
        bucket_column(F.col("emb"), planes).alias("bucket"),
        _norm(F.col("emb")).alias("nrm"),
    )
    a = buckets.select("vec_id", F.col("emb").alias("ae"), "bucket",
                       F.col("nrm").alias("an"))
    b = buckets.select(
        F.col("vec_id").alias("nn_id"),
        F.col("emb").alias("be"),
        F.col("bucket").alias("b_bucket"),
        F.col("nrm").alias("bn"),
    )
    pairs = a.join(
        b, (F.col("bucket") == F.col("b_bucket")) & (F.col("vec_id") != F.col("nn_id"))
    ).select(
        "vec_id",
        "nn_id",
        F.try_divide(
            _dot(F.col("ae"), F.col("be")), F.col("an") * F.col("bn")
        ).alias("nn_cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("nn_cosine"), F.col("nn_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "vec_id",
            "nn_id",
            "nn_cosine",
            (F.col("nn_cosine") >= EMB_DUP_THRESHOLD).alias("is_dup"),
        )
    )


@REG.query("dedup_embedding_cosine_arrow")  # rows-only: BLAS sum order isn't SQL-portable
def dedup_embedding_cosine_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-corpus embedding near-dup with the whole in-bucket stage
    collapsed to one BLAS tile per LSH bucket — the production form of
    dedup_embedding_cosine_scaled, whose measured 2.6 / 71 / 171 s at
    sf0.1 / 20x / 100x is the cost of MATERIALIZING the in-bucket pair
    relation (occupancy × N rows, each carrying two 64-dim arrays),
    folding a cosine per pair interpreted, and ranking pairs in a
    window.

    Here: hyperplane assignment is one ``X @ P.T`` per Arrow batch
    (mapInPandas, planes derived from corpus size exactly like the
    scaled twin), then ONE grouped map per bucket computes the full
    ``X @ X.T`` cosine tile, masks the diagonal, and row-argmaxes —
    every vector's nearest bucket-mate in a single kernel.  Rows sort
    by vec_id first so an argmax tie picks the lowest nn_id, the
    scaled twin's (DESC cosine, nn_id) order.  No pair relation, no
    window; the only shuffle is the bucket exchange of N rows.
    Occupancy is held ~flat by the derived plane count, so each tile
    is a bounded ~32x32 matmul at every corpus size.  Rows-only (BLAS
    pairwise summation vs the fold's left-to-right order drifts last
    ulps and can flip exact-zero plane signs); pinned in test_plans
    bit-identical in choices to the scaled twin."""
    import numpy as np

    from firebase_realtime_database_backup_spark.operators.similarity import (
        _plane_values,
    )

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    n_planes = _scaled_planes(emb.count())
    P = np.array([_plane_values(p) for p in range(n_planes)])
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue  # np.stack([]) raises on zero-row Arrow batches
            X = np.stack(pdf["emb"].values).astype(np.float64)
            sign = (X @ P.T) >= 0.0
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "emb": pdf["emb"].values,
                    "bucket": (sign * weights[None, :]).sum(axis=1),
                }
            )

    buckets = emb.mapInPandas(
        assign, "vec_id long, emb array<double>, bucket long"
    )

    def nearest(pdf):
        if len(pdf) < 2:  # a lone vector has no bucket-mate (the pair
            return pd.DataFrame(  # join emits nothing for it either)
                {
                    "vec_id": pd.Series(dtype="int64"),
                    "nn_id": pd.Series(dtype="int64"),
                    "nn_cosine": pd.Series(dtype="float64"),
                    "is_dup": pd.Series(dtype="bool"),
                }
            )
        pdf = pdf.sort_values("vec_id")  # argmax tie -> lowest nn_id
        X = np.stack(pdf["emb"].values)
        nrm = np.sqrt(np.einsum("ij,ij->i", X, X))
        cos = (X @ X.T) / np.outer(nrm, nrm)
        np.fill_diagonal(cos, -np.inf)
        j = cos.argmax(axis=1)
        best = cos[np.arange(len(j)), j]
        vids = pdf["vec_id"].values
        return pd.DataFrame(
            {
                "vec_id": vids,
                "nn_id": vids[j],
                "nn_cosine": best,
                "is_dup": best >= EMB_DUP_THRESHOLD,
            }
        )

    # single grouped map, not cogroup (see dedup_cross_corpus_cosine_arrow)
    return buckets.groupBy("bucket").applyInPandas(
        nearest, "vec_id long, nn_id long, nn_cosine double, is_dup boolean"
    )


def _emb_cross_oracle() -> str:
    from firebase_realtime_database_backup_spark.operators.similarity import (
        _DOT,
        _plane_sql,
    )

    dot = lambda a, b: _DOT.format(a=a, b=b)  # noqa: E731
    cos_ab = (
        f"{dot('a.emb', 'b.emb')} / (SQRT({dot('a.emb', 'a.emb')})"
        f" * SQRT({dot('b.emb', 'b.emb')}))"
    )
    # size-derived plane count (the dedup_embedding_cosine_scaled rule)
    # so the standing-corpus bucket occupancy stays flat at any scale
    n_planes = (
        f"(SELECT GREATEST(4, CAST(CEIL(LOG2(GREATEST(2.0, "
        f"COUNT(*) / {EMB_DUP_TARGET_OCCUPANCY}.0))) AS BIGINT)) FROM embeddings)"
    )
    return f"""
    WITH planes AS (
      SELECT p, {_plane_sql("p")} AS v
      FROM (SELECT UNNEST(RANGE(0, {n_planes})) AS p)
    ),
    buckets AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb,
             CAST(SUM(CASE WHEN {dot("pl.v", "e.embedding")} >= 0
                           THEN CAST(POWER(2, pl.p) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS bucket
      FROM embeddings e, planes pl
      GROUP BY e.vec_id, CAST(e.embedding AS DOUBLE[])
    )
    SELECT new_vec_id, nn_corpus_id, nn_cosine,
           nn_cosine >= {EMB_DUP_THRESHOLD} AS is_dup
    FROM (
      SELECT a.vec_id AS new_vec_id, b.vec_id AS nn_corpus_id,
             {cos_ab} AS nn_cosine,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY {cos_ab} DESC, b.vec_id) AS rk
      FROM buckets a JOIN buckets b ON a.bucket = b.bucket
      WHERE a.vec_id % 10 = 0 AND b.vec_id % 10 <> 0
    ) WHERE rk = 1
    """


@REG.query("dedup_cross_corpus_cosine", oracle=_emb_cross_oracle(),
           prod_twin="dedup_cross_corpus_cosine_arrow")
def dedup_cross_corpus_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus EMBEDDING near-dup: today's batch (vec_id % 10 == 0,
    the same stand-in convention as dedup_cross_corpus) probed against
    the standing corpus's hyperplane-LSH buckets — the semantic twin of
    the shingle-based incremental dedup, for the pipeline stage where
    near-duplicates share no surface n-grams (translations, paraphrase
    spam, re-encoded scrapes) but sit together in embedding space.

    Scale shape: the corpus side's (bucket, vec_id, emb) relation is
    computed once and PERSISTED bucketed by bucket id in production —
    per-day cost is O(batch) bucket probes, never O(corpus), exactly
    the dedup_cross_corpus bargain.  Here the batch side (10% of
    vectors) broadcasts into the corpus scan so the probe is map-side;
    past broadcast range it becomes a bucket-key equi shuffle.  Output
    is each batch vector's nearest STANDING-corpus neighbor among its
    bucket-mates plus the threshold flag (dedup_embedding_cosine_scaled's
    report shape restricted to cross-boundary pairs); every emitted
    cosine is exact — the LSH bucket only gated candidacy.

    The plane count derives from corpus size (the _scaled_planes rule)
    so bucket occupancy stays flat; measured 1.4 / 9.0 / 79 s at
    sf0.1 / 20x / 100x — the residual growth is the INTERPRETED
    per-element fold in bucket assignment (planes x dims x N lambda
    steps; higher-order functions don't codegen), the same profile as
    dedup_embedding_cosine_scaled.  Kept interpreted here because the
    fold order is what makes bucket signs — and hence the whole
    output — oracle-bit-exact; dedup_cross_corpus_cosine_arrow is the
    registered production twin (one X@P.T per Arrow batch + one BLAS
    tile per bucket group; 4.5 s at 100x, choices pinned identical),
    accepting sign divergence on exact-zero dot products."""
    from firebase_realtime_database_backup_spark.operators.similarity import (
        _dot,
        _norm,
        bucket_column,
    )

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    buckets = emb.select(
        "vec_id",
        "emb",
        bucket_column(F.col("emb"), _scaled_planes(emb.count())).alias("bucket"),
        _norm(F.col("emb")).alias("nrm"),
    )
    new = buckets.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("new_vec_id"),
        F.col("emb").alias("ae"),
        "bucket",
        F.col("nrm").alias("an"),
    )
    corpus = buckets.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("corpus_vec_id"),
        F.col("emb").alias("be"),
        "bucket",
        F.col("nrm").alias("bn"),
    )
    from pyspark.sql import Window

    pairs = corpus.join(F.broadcast(new), "bucket").select(
        "new_vec_id",
        F.col("corpus_vec_id").alias("nn_corpus_id"),
        F.try_divide(
            _dot(F.col("ae"), F.col("be")), F.col("an") * F.col("bn")
        ).alias("nn_cosine"),
    )
    w = Window.partitionBy("new_vec_id").orderBy(
        F.desc("nn_cosine"), F.col("nn_corpus_id")
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "new_vec_id",
            "nn_corpus_id",
            "nn_cosine",
            (F.col("nn_cosine") >= EMB_DUP_THRESHOLD).alias("is_dup"),
        )
    )



#: Deterministic per-bucket corpus-candidate cap for the Arrow
#: cross-corpus twin (round 9, VERDICT r8 item 7).  The 1000x decade
#: measured 82 s: ALL pair volume, from LSH buckets whose occupancy is
#: data-correlation-driven (the replica corpus holds ~100-wide near-dup
#: masses; the hottest bucket held 24k vectors = a 24k-wide matmul
#: tile), and more planes cannot split identical-content mass.  A
#: production probe bounds per-bucket work: when a bucket holds more
#: corpus candidates than the cap, a DETERMINISTIC hash-ordered sample
#: (splitmix64 of vec_id — the audit-sample discipline, unbiased by id
#: order/recency) of exactly the cap survives.  Row count is invariant
#: (a batch vector with bucket-mates keeps >= 1), choices below the
#: cap are untouched, and the recall floor is pinned in
#: tests/test_plans.py::test_cross_corpus_cap_determinism.
CROSS_ARROW_BUCKET_CAP = 1024


@REG.query("dedup_cross_corpus_cosine_arrow")  # rows-only: BLAS sum order isn't SQL-portable
def dedup_cross_corpus_cosine_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_cross_corpus_cosine with the two interpreted hot loops
    swapped for Arrow numpy kernels — the production form the teaching
    twin's docstring promises.  Semantics identical below the candidate
    cap: batch (vec_id%10 == 0) probed against the standing corpus's
    hyperplane buckets, nearest bucket-mate + threshold flag, every
    emitted cosine exact; buckets holding more corpus candidates than
    CROSS_ARROW_BUCKET_CAP keep a deterministic hash-ordered sample
    (see the constant's docstring — occupancy skew there is exact-dup
    mass, where any surviving candidate is an equally-good neighbor).

    What changes and why it's the 100 TB shape:

    * **Bucket assignment** (planes × dims × N lambda steps in the
      teaching twin — higher-order functions don't codegen, measured
      1.4/9.0/79 s at sf0.1/20x/100x) becomes ONE ``X @ P.T`` per
      Arrow batch in mapInPandas: the plane matrix is a broadcast
      constant (planes × 64 doubles), signs pack to the bucket id with
      a vectorized shift-sum.  Map-side only, zero shuffle.
    * **The candidate join + per-pair cosine fold + nearest window**
      collapse into one bucket-cogrouped matmul: single-table LSH puts
      every vector in EXACTLY one bucket, so a per-bucket argmax IS the
      global nearest — batch and corpus sides shuffle once on bucket
      (N rows, no pair materialization: the teaching twin's pair
      relation carries two 64-dim arrays per candidate ≈ occupancy ×
      batch × 128 doubles through the exchange), then one BLAS
      ``A @ B.T`` per bucket group emits one row per batch vector.  No
      window, no broadcast of the batch side.

    The cost: BLAS pairwise summation vs the fold's left-to-right
    order can flip the sign of an EXACT-ZERO plane dot and drift the
    last ulp of a cosine — so this twin is rows-only, pinned in
    test_plans against the oracle-exact teaching form (identical
    neighbor choice on the synthetic corpus; cosines within 1e-12).
    Planes derive from corpus size (the _scaled_planes rule), so
    bucket occupancy — each cogroup task's matmul tile — stays flat at
    any scale; a pathological boilerplate bucket splits under the same
    salting discipline as every other hot key in the family."""
    import numpy as np

    from firebase_realtime_database_backup_spark.operators.similarity import (
        _plane_values,
    )

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    n_planes = _scaled_planes(emb.count())
    P = np.array([_plane_values(p) for p in range(n_planes)])  # planes x 64
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue  # np.stack([]) raises on zero-row Arrow batches
            X = np.stack(pdf["emb"].values).astype(np.float64)
            sign = (X @ P.T) >= 0.0  # one BLAS call per Arrow batch
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "emb": pdf["emb"].values,
                    "bucket": (sign * weights[None, :]).sum(axis=1),
                }
            )

    # batch rows tagged is_new: ONE grouped map over a side-tagged
    # relation, not groupBy().cogroup() — Spark 4.1's column pruning,
    # given any plan above FlatMapCoGroupsInPandas that doesn't consume
    # every output column (a count(), a projection), strips the RIGHT
    # cogroup child down to its grouping key, so the kernel sees a
    # corpus frame of just `bucket` (minimal repro verified).
    # FlatMapGroupsInPandas prunes correctly, and the union ships the
    # same bytes through the same bucket-keyed exchange.
    buckets = emb.mapInPandas(
        assign, "vec_id long, emb array<double>, bucket long"
    ).withColumn("is_new", F.col("vec_id") % 10 == 0)

    def nearest(pdf):
        new_pdf = pdf[pdf["is_new"]]
        corpus_pdf = pdf[~pdf["is_new"]]
        if new_pdf.empty or corpus_pdf.empty:
            return pd.DataFrame(
                {
                    "new_vec_id": pd.Series(dtype="int64"),
                    "nn_corpus_id": pd.Series(dtype="int64"),
                    "nn_cosine": pd.Series(dtype="float64"),
                    "is_dup": pd.Series(dtype="bool"),
                }
            )
        if len(corpus_pdf) > CROSS_ARROW_BUCKET_CAP:
            # deterministic hash-ordered candidate sample: splitmix64
            # finalizer over vec_id (uint64 wraps are the mix), ties
            # impossible (vec_ids unique), row order irrelevant
            ids = corpus_pdf["vec_id"].to_numpy(np.uint64)
            z = ids + np.uint64(0x9E3779B97F4A7C15)
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            z = z ^ (z >> np.uint64(31))
            keep = np.lexsort((ids, z))[:CROSS_ARROW_BUCKET_CAP]
            corpus_pdf = corpus_pdf.iloc[keep]
        corpus_pdf = corpus_pdf.sort_values("vec_id")  # argmax tie -> lowest id
        A = np.stack(new_pdf["emb"].values)
        B = np.stack(corpus_pdf["emb"].values)
        cos = (A @ B.T) / np.outer(
            np.sqrt(np.einsum("ij,ij->i", A, A)),
            np.sqrt(np.einsum("ij,ij->i", B, B)),
        )
        j = cos.argmax(axis=1)
        best = cos[np.arange(len(j)), j]
        return pd.DataFrame(
            {
                "new_vec_id": new_pdf["vec_id"].values,
                "nn_corpus_id": corpus_pdf["vec_id"].values[j],
                "nn_cosine": best,
                "is_dup": best >= EMB_DUP_THRESHOLD,
            }
        )

    return buckets.groupBy("bucket").applyInPandas(
        nearest,
        "new_vec_id long, nn_corpus_id long, nn_cosine double, is_dup boolean",
    )


@REG.query(
    "dedup_fuzzy_names",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    blocked AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b
      FROM names a JOIN names b
        ON SPLIT_PART(a.p_name, ' ', -1) = SPLIT_PART(b.p_name, ' ', -1)
       AND a.p_name < b.p_name
    )
    SELECT name_a, name_b, levenshtein(name_a, name_b) AS dist
    FROM blocked
    WHERE levenshtein(name_a, name_b) <= 3
    """,
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy string matching (record linkage): near-identical
    part names by edit distance, with candidate pairs generated by a
    cheap blocking key (the name's last token) instead of an all-pairs
    cross join.

    This is the third candidate-generation pattern in the dedup family
    — MinHash bands for set similarity, hyperplane buckets for vectors,
    and here a deterministic blocking key for edit distance.  The
    quadratic compare only ever runs inside a block, so cost is
    sum(block^2), not N^2; at 100 TB the blocking key is the shuffle
    key, skewed blocks split under AQE, and a second key (e.g. first
    char + length band) multiplies recall the same way LSH adds tables.
    levenshtein() is the classic DP edit distance in both engines —
    integer-exact."""
    names = (
        read_table(spark, sf_dir, "part").select("p_name").distinct()
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.substring_index("p_name", " ", -1).alias("block"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.substring_index("p_name", " ", -1).alias("b_block"),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(
            b,
            (F.col("block") == F.col("b_block"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .select("name_a", "name_b", dist.alias("dist"))
        .filter(F.col("dist") <= 3)
    )


#: Cross-corpus split: doc_id % 10 == 0 plays the "newly ingested batch",
#: the rest the standing corpus (a deterministic 10% batch at any SF).
CROSS_THRESHOLD = 0.5


@REG.query(
    "dedup_cross_corpus",
    prod_twin="dedup_cross_corpus_xxhash",
    oracle=f"""
    WITH {SHINGLE_SQL_CTE},
    {MINHASH_BANDS_SQL_CTE},
    cands AS (
      SELECT DISTINCT a.doc_id AS new_doc_id, b.doc_id AS corpus_doc_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    ),
    inter AS (
      SELECT c.new_doc_id, c.corpus_doc_id, COUNT(*) AS n_common
      FROM cands c
      JOIN dshingle x ON x.doc_id = c.new_doc_id
      JOIN dshingle y ON y.doc_id = c.corpus_doc_id AND y.sid = x.sid
      GROUP BY c.new_doc_id, c.corpus_doc_id
    )
    SELECT i.new_doc_id, i.corpus_doc_id, i.n_common,
           CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) AS jaccard
    FROM inter i
    JOIN doc_sizes sa ON sa.doc_id = i.new_doc_id
    JOIN doc_sizes sb ON sb.doc_id = i.corpus_doc_id
    WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common)
          >= {CROSS_THRESHOLD}
    """,
)
def dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup: match a newly-ingested batch (doc_id % 10
    == 0 stands in for "today's crawl") against the standing corpus via
    the same banded MinHash, WITHOUT re-pairing the corpus against
    itself — the incremental-ingest shape every continuously-updated
    training corpus runs daily.

    The asymmetry is the scale win: band keys for the standing corpus
    are computed once per corpus version and persisted
    (ensure_band_index; production would also bucket them by
    (band, band_key)), and each new batch only shuffles ITS band keys
    into the corpus index — cost O(batch) per day, not O(corpus).
    Candidate verification is the same broadcast array-intersect as
    dedup_minhash_lsh; the threshold is looser (0.5) because cross-batch
    dups drift more than same-crawl dups."""
    dshingle = doc_shingle_ids(spark, sf_dir)
    bands = _band_index(spark, sf_dir, "dict")
    cands = _candidate_pairs(
        bands.filter(F.col("doc_id") % 10 == 0),
        bands.filter(F.col("doc_id") % 10 != 0),
        "new_doc_id",
        "corpus_doc_id",
        ordered=False,
    )
    overlap = _pair_overlap(
        cands,
        dshingle,
        "new_doc_id",
        "corpus_doc_id",
        dshingle_a=dshingle.filter(F.col("doc_id") % 10 == 0),
        dshingle_b=dshingle.filter(F.col("doc_id") % 10 != 0),
    )
    n_union = F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    return (
        overlap.select(
            "new_doc_id",
            "corpus_doc_id",
            "n_common",
            (F.col("n_common").cast("double") / n_union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= CROSS_THRESHOLD)
    )


#: Containment threshold: |A∩B| / min(|A|,|B|) — catches a short doc
#: quoted inside a long one, which symmetric Jaccard dilutes below any
#: usable threshold.
CONTAINMENT_THRESHOLD = 0.8


@REG.query(
    "dedup_containment",
    oracle=f"""
    WITH {SHINGLE_SQL_CTE},
    {MINHASH_BANDS_SQL_CTE},
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cands c
      JOIN dshingle x ON x.doc_id = c.doc_a
      JOIN dshingle y ON y.doc_id = c.doc_b AND y.sid = x.sid
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b, i.n_common,
           sa.sz AS sz_a, sb.sz AS sz_b,
           CAST(i.n_common AS DOUBLE) / LEAST(sa.sz, sb.sz) AS containment
    FROM inter i
    JOIN doc_sizes sa ON sa.doc_id = i.doc_a
    JOIN doc_sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / LEAST(sa.sz, sb.sz)
          >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup: candidate pairs from the same MinHash
    bands, scored by |A∩B| / min(|A|,|B|) instead of Jaccard — the
    asymmetric measure that flags a short document quoted or embedded
    inside a longer one (license blocks, boilerplate, excerpt spam),
    where Jaccard = |∩|/|∪| is diluted by the long side's size and
    misses the pair entirely.

    Identical plan shape and cost to dedup_minhash_lsh (the candidate
    generation and verification stages are shared machinery); only the
    final scoring expression differs, so the scale analysis there
    carries over verbatim."""
    dshingle = doc_shingle_ids(spark, sf_dir)
    bands = _band_index(spark, sf_dir, "dict")
    cands = _candidate_pairs(bands, bands, "doc_a", "doc_b", ordered=True)
    overlap = _pair_overlap(cands, dshingle, "doc_a", "doc_b")
    containment = F.col("n_common").cast("double") / F.least(
        F.col("sz_a"), F.col("sz_b")
    )
    return (
        overlap.select(
            "doc_a",
            "doc_b",
            "n_common",
            "sz_a",
            "sz_b",
            containment.alias("containment"),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


#: Rational form of CONTAINMENT_THRESHOLD (4/5 = 0.8) — same contract
#: as PREFIX_T_NUM/DEN: integer ceilings in the pruning proof.
CONT_T_NUM, CONT_T_DEN = 4, 5
assert CONT_T_NUM / CONT_T_DEN == CONTAINMENT_THRESHOLD


@REG.query(
    "dedup_containment_prefix",
    oracle=f"""
    WITH {SHINGLE_SQL_CTE}
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           COUNT(*) AS n_common,
           sa.sz AS sz_a, sb.sz AS sz_b,
           CAST(COUNT(*) AS DOUBLE) / LEAST(sa.sz, sb.sz) AS containment
    FROM dshingle x
    JOIN dshingle y ON x.sid = y.sid AND x.doc_id < y.doc_id
    JOIN doc_sizes sa ON sa.doc_id = x.doc_id
    JOIN doc_sizes sb ON sb.doc_id = y.doc_id
    GROUP BY x.doc_id, y.doc_id, sa.sz, sb.sz
    HAVING CAST(COUNT(*) AS DOUBLE) / LEAST(sa.sz, sb.sz)
           >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT containment >= t over the WHOLE corpus — the lossless
    counterpart of dedup_containment, whose MinHash-band candidates
    carry LSH recall (a quoted short doc whose bands all miss is
    silently lost).  Exact containment is the measure that CANNOT be
    LSH'd well: C = |A∩B| / min(|A|,|B|) is asymmetric, and a short
    doc fully quoted inside a long one has tiny Jaccard, so minhash
    signatures (which estimate Jaccard) systematically under-sample
    exactly the pairs this operator exists for.

    Pruning is the ASYMMETRIC prefix rule: under the global (df, sid)
    order, if C(A,B) >= t with |B| <= |A| then |A∩B| >= ceil(t*|B|),
    so B's first |B| - ceil(t*|B|) + 1 tokens must contain a common
    token (else the remaining ceil(t*|B|) - 1 slots cannot reach the
    required overlap) — the SHORT side probes with its rare-token
    prefix against the FULL dictionary (the long side cannot prune:
    min(|A|,|B|) may be far below t*|A|, so its own-size prefix bound
    is vacuous).  Probe prefixes hold only rare (low-df) tokens, and
    a rare token by definition occurs in few full sets, so candidate
    volume is bounded by the prefix tokens' document frequencies —
    no hot-token blowup.  Equal-size pairs probe from both sides and
    canonicalize by id; verification is the shared in-row
    array_intersect (see dedup_jaccard_prefix).

    Oracle: the UNBOUNDED all-pairs containment join — pruning
    losslessness is hash-verified, and the asymmetric lemma is
    hypothesis-pinned in tests/test_property.py."""
    dsh, sizes, ranked = _df_ordered_tokens(spark, sf_dir)
    ceil_t = F.expr(
        f"({CONT_T_NUM} * sz + {CONT_T_DEN - 1}) div {CONT_T_DEN}"
    )
    probe = ranked.filter(
        F.col("rn") <= F.col("sz") - ceil_t + 1
    ).select("sid", "doc_id", "sz")
    index = dsh.join(sizes, "doc_id").select("sid", "doc_id", "sz")
    b, a = probe.alias("b"), index.alias("a")
    cands = (
        b.join(
            a,
            (F.col("b.sid") == F.col("a.sid"))
            & (
                (F.col("a.sz") > F.col("b.sz"))
                | (
                    (F.col("a.sz") == F.col("b.sz"))
                    & (F.col("a.doc_id") != F.col("b.doc_id"))
                )
            ),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias(
                "doc_b"
            ),
        )
        .distinct()
    )
    darr = _sid_arrays(spark, sf_dir)
    out = (
        cands.join(
            darr.select(
                F.col("doc_id").alias("doc_a"),
                F.col("arr").alias("arr_a"),
                F.col("sz").alias("sz_a"),
            ),
            "doc_a",
        )
        .join(
            darr.select(
                F.col("doc_id").alias("doc_b"),
                F.col("arr").alias("arr_b"),
                F.col("sz").alias("sz_b"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("arr_a", "arr_b"))
            .cast("bigint")
            .alias("n_common"),
            "sz_a",
            "sz_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "sz_a",
            "sz_b",
            (
                F.col("n_common").cast("double")
                / F.least(F.col("sz_a"), F.col("sz_b"))
            ).alias("containment"),
        )
    )
    return out.filter(F.col("containment") >= CONTAINMENT_THRESHOLD)


#: Hamming radius for simhash near-dup: fingerprints within 3 differing
#: bits of 16.  Banding guarantee: 4 bands of 4 bits catch every pair
#: with <= 3 flipped bits (pigeonhole — 3 flips cannot touch all 4 bands).
SIMHASH_HAMMING_MAX = 3


@REG.query(
    "dedup_simhash_hamming",
    oracle=f"""
    WITH {SHINGLE_SQL_CTE},
    hashed AS (
      SELECT doc_id, sid,
             (CAST(sid AS BIGINT) * 2654435761) % 2147483648 AS h
      FROM dshingle
    ),
    bits AS (
      SELECT doc_id, j,
             SUM(CASE WHEN (h // POWER(2, j)::BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS s
      FROM hashed, (SELECT UNNEST(RANGE(0, 16)) AS j)
      GROUP BY doc_id, j
    ),
    fp AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN POWER(2, j)::BIGINT ELSE 0 END) AS BIGINT)
               AS simhash16
      FROM bits GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, simhash16, b,
             (simhash16 // POWER(2, b * 4)::BIGINT) % 16 AS band_val
      FROM fp, (SELECT UNNEST(RANGE(0, 4)) AS b)
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.simhash16 AS fp_a,
                      c.doc_id AS doc_b, c.simhash16 AS fp_b
      FROM banded a JOIN banded c
        ON a.b = c.b AND a.band_val = c.band_val AND a.doc_id < c.doc_id
    )
    SELECT doc_a, doc_b, fp_a, fp_b,
           BIT_COUNT(XOR(fp_a, fp_b)) AS hamming
    FROM cands
    WHERE BIT_COUNT(XOR(fp_a, fp_b)) <= {SIMHASH_HAMMING_MAX}
    """,
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS within Hamming distance 3: band the
    16-bit fingerprint into 4 nibbles; any pair differing in <= 3 bits
    must agree on at least one whole nibble (pigeonhole), so the
    nibble-equality equi join is a LOSSLESS candidate generator at this
    radius — unlike MinHash banding, which is probabilistic.  Popcount
    of the XOR then verifies exactly.

    Same scale shape as every LSH op here: candidate space is governed
    by band-bucket occupancy (16 values x 4 bands over the fingerprint
    distribution), never the n² pair space, and the verify step is pure
    bit arithmetic — no shingle-set join at all, which is what makes
    simhash the cheapest near-dup tier in the cascade."""
    fp = dedup_simhash(spark, sf_dir)
    banded = fp.select(
        "doc_id",
        "simhash16",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright("simhash16", b * 4)
                        .bitwiseAND(F.lit(15))
                        .alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash16", "band.b", "band.band_val")
    a = banded.alias("a")
    c = banded.alias("c")
    cands = (
        a.join(
            c,
            (F.col("a.b") == F.col("c.b"))
            & (F.col("a.band_val") == F.col("c.band_val"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.simhash16").alias("fp_a"),
            F.col("c.doc_id").alias("doc_b"),
            F.col("c.simhash16").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cands.select(
        "doc_a", "doc_b", "fp_a", "fp_b", hamming.cast("bigint").alias("hamming")
    ).filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)


@session_memo
def _sampled_shingle_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAMPLED shingle relation for the audit's doc-grain Knuth
    sample, memoized per session — re-invoking
    dedup_minhash_audit_sampled in a long-lived session must reuse one
    cached relation instead of accumulating a new cached DataFrame per
    call (each .cache() on a fresh plan pins fresh partitions forever)."""
    from firebase_realtime_database_backup_spark.functions.hashing import (
        knuth_bucket,
    )
    from firebase_realtime_database_backup_spark.operators.text import (
        doc_shingle_ids,
    )

    sampled = knuth_bucket(F.col("doc_id"), AUDIT_DOC_SAMPLE_MOD) == 0
    return doc_shingle_ids(spark, sf_dir).filter(sampled).cache()


@session_memo
def _xxhash_shingle_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sid) over xxhash shingle ids, memoized per session —
    the dictionary-free twin of text.doc_shingle_ids, shared by
    dedup_minhash_xxhash and the production corpus pipeline so the
    shingle pass over the corpus runs once per session, not per
    caller."""
    from firebase_realtime_database_backup_spark.operators.text import doc_shingles

    return (
        doc_shingles(spark, sf_dir)
        .select(
            "doc_id",
            F.pmod(F.xxhash64("shingle"), F.lit(1 << XXHASH_ID_BITS)).alias(
                "sid"
            ),
        )
        .distinct()
        .cache()
    )


def _xxhash_signatures(dshingle: DataFrame) -> DataFrame:
    """MinHash signatures over 57-bit xxhash shingle ids — the
    dictionary-free twin of _minhash_signatures (same _signatures
    scheme, 2^31-1 modulus).  Affine multipliers are ≤ 33 < 2^6, so
    33·2^57 + 87 fits int64 under ANSI."""
    return _signatures(dshingle, XXHASH_P)


@REG.query("dedup_minhash_xxhash")  # rows-only: xxhash64 isn't SQL-portable
def dedup_minhash_xxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, PRODUCTION form: shingle ids come
    straight from xxhash64 (JVM intrinsic) instead of the dictionary
    join — no distinct-vocab build, no single-partition row_number
    window, no broadcast.  The dictionary variant (dedup_minhash_lsh)
    exists because an affine hash over dense ids is reproducible in
    DuckDB; THIS is what you run at 100 TB, where the vocabulary
    itself is billions of shingles and any global id assignment is a
    bottleneck (measured: the vocab window dominates the dictionary
    variant's scaling; see BASELINE.md scale tables).

    Same banding and verification as the oracle-checked twin; the
    signature arithmetic folds the 64-bit hash to 57 bits — the affine
    multipliers are ≤ 33 < 2^6, so 33·2^57 + 87 still fits int64 under
    ANSI, and a 2^57 id space keeps the birthday-collision probability
    below 1e-4 even at a billion distinct shingles (a 2^30 fold would
    hit 50% collision odds at only ~40k shingles).  Correctness is
    pinned by pytest against brute-force ground truth: every
    exact-duplicate pair MUST appear (identical shingle sets →
    identical signatures under any hash family) and every emitted pair
    is Jaccard-verified on the folded ids, so precision is 1.0 up to
    57-bit hash collisions."""
    dshingle = _xxhash_shingle_ids(spark, sf_dir)
    bands = _band_index(spark, sf_dir, "xxhash")
    cands = _candidate_pairs(bands, bands, "doc_a", "doc_b", ordered=True)
    overlap = _pair_overlap(cands, dshingle, "doc_a", "doc_b")
    n_union = F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    return (
        overlap.select(
            "doc_a",
            "doc_b",
            "n_common",
            (F.col("n_common").cast("double") / n_union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


@REG.query("dedup_cross_corpus_xxhash")  # rows-only: xxhash64 isn't SQL-portable
def dedup_cross_corpus_xxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus incremental near-dup, PRODUCTION form: the
    asymmetric batch-vs-standing-corpus match of dedup_cross_corpus,
    but shingle ids come straight from xxhash64 (2^57 fold, shared
    session cache) instead of the dictionary vocab window — the
    dictionary form's 20× ratio was 8.8× BECAUSE of that vocab build
    (BASELINE.md round-2 scale table); this twin inherits the
    minhash-family scaling (~4× at 20×) since candidate generation is
    the same banded equi-join.

    Production deployment note: the standing corpus's band keys are
    computed ONCE and persisted (ensure_band_index; production would
    also bucket them by (band, band_key)) — each daily batch shuffles
    only ITS band keys into that index, cost O(batch), never
    O(corpus).  Here both sides filter the one published index.
    Correctness is pinned by pytest against the oracle-checked
    dictionary twin: identical candidate semantics up to 57-bit hash
    collisions, verified pairs Jaccard-exact."""
    dshingle = _xxhash_shingle_ids(spark, sf_dir)
    bands = _band_index(spark, sf_dir, "xxhash")
    cands = _candidate_pairs(
        bands.filter(F.col("doc_id") % 10 == 0),
        bands.filter(F.col("doc_id") % 10 != 0),
        "new_doc_id",
        "corpus_doc_id",
        ordered=False,
    )
    overlap = _pair_overlap(
        cands,
        dshingle,
        "new_doc_id",
        "corpus_doc_id",
        dshingle_a=dshingle.filter(F.col("doc_id") % 10 == 0),
        dshingle_b=dshingle.filter(F.col("doc_id") % 10 != 0),
    )
    n_union = F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    return (
        overlap.select(
            "new_doc_id",
            "corpus_doc_id",
            "n_common",
            (F.col("n_common").cast("double") / n_union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= CROSS_THRESHOLD)
    )


@REG.query(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH {SHINGLE_SQL_CTE},
    {MINHASH_BANDS_SQL_CTE},
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cands c
      JOIN dshingle x ON x.doc_id = c.doc_a
      JOIN dshingle y ON y.doc_id = c.doc_b AND y.sid = x.sid
      GROUP BY c.doc_a, c.doc_b
    ),
    near_pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN doc_sizes sa ON sa.doc_id = i.doc_a
      JOIN doc_sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common)
            >= {JACCARD_THRESHOLD}
    ),
    uniq AS (
      SELECT doc_id,
             CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT)
               AS n_unique
      FROM documents
    ),
    losers AS (
      SELECT DISTINCT
             CASE WHEN ub.n_unique > ua.n_unique
                  THEN p.doc_a ELSE p.doc_b END AS doc_id
      FROM near_pairs p
      JOIN uniq ua ON ua.doc_id = p.doc_a
      JOIN uniq ub ON ub.doc_id = p.doc_b
    )
    SELECT u.doc_id, u.n_unique
    FROM uniq u
    WHERE u.doc_id NOT IN (SELECT doc_id FROM losers)
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup survivor selection: instead of the
    keep-smallest-id greedy every other dedup op uses, each verified
    near-dup pair is lost by the LOWER-quality side (fewer unique
    tokens; on a tie the larger doc_id loses, since pairs are ordered
    doc_a < doc_b) — the policy a training
    corpus actually wants, since the min-id copy may be the truncated
    or boilerplate-padded one.

    A doc survives iff it wins (or ties-and-is-smaller in) EVERY pair
    it appears in — pairwise greedy, no cluster materialization needed.
    Plan shape: the banded-LSH pair table (shared machinery) joins the
    vocabulary-free per-doc unique-token counts twice (both joins are
    doc_id-key hash joins), losers reduce by doc_id, and the survivor
    set is one anti-join — nothing quadratic, nothing single-partition.
    At 100 TB the quality signal swaps for the full Gopher-style score;
    the integer unique-token count keeps this oracle engine-exact."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    docs = read_table(spark, sf_dir, "documents")
    uniq = docs.select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " ")))
        .cast("bigint")
        .alias("n_unique"),
    )
    ua = uniq.select(F.col("doc_id").alias("doc_a"), F.col("n_unique").alias("ua"))
    ub = uniq.select(F.col("doc_id").alias("doc_b"), F.col("n_unique").alias("ub"))
    # pairs guarantee doc_a < doc_b, so a tie always drops doc_b (the
    # larger id) — the smaller id survives, matching the other dedup ops
    loser = F.when(F.col("ub") > F.col("ua"), F.col("doc_a")).otherwise(
        F.col("doc_b")
    )
    losers = (
        pairs.join(ua, "doc_a").join(ub, "doc_b").select(loser.alias("doc_id")).distinct()
    )
    return uniq.join(losers, "doc_id", "left_anti")


SEMDEDUP_K = 8        # k-means cells (SemDeDup partitions the space first)
SEMDEDUP_ITERS = 3    # fixed Lloyd's iterations, deterministic init
SEMDEDUP_TAU = 0.45   # within-cell cosine dup threshold (matches
                      # EMB_DUP_THRESHOLD's tuning for the synthetic corpus)


def _semantic_kmeans(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Shared SemDeDup core, parametrized by the cell count K — see
    dedup_semantic_kmeans (fixed K teaching form) and
    dedup_semantic_kmeans_scaled (K ∝ N production form)."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    from firebase_realtime_database_backup_spark.operators.similarity import (
        _dot,
        _norm,
    )

    cents = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("emb").alias("ce"))
    )

    def assign(centroids):
        # In-row argmin against the ONE-ROW broadcast centroid array
        # (the registered BNL probe shape): the K-row centroid relation
        # collapses to a single collect_list row, and each vector picks
        # its cell with per-row column math — ZERO shuffle, vs the old
        # crossJoin + groupBy(vec_id) min-of-struct form which paid an
        # N-row exchange per iteration AND forced a second N-row join
        # to get emb back next to the cell id.  d2 is the identical
        # zip_with/aggregate fold; array_sort over (d2, cid) structs is
        # lexicographic — the same ORDER BY d2, cid tie-break as
        # min(struct(d2, cid)).  Keeps the no-collect teaching contract.
        carr = centroids.agg(F.collect_list(F.struct("cid", "ce")).alias("cs"))
        scored = F.array_sort(
            F.transform(
                F.col("cs"),
                lambda c: F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("emb"), c["ce"], lambda x, y: (x - y) * (x - y)
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("d2"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        return emb.crossJoin(F.broadcast(carr)).select(
            "vec_id", "emb", scored[0]["cid"].alias("cid")
        )

    for _ in range(SEMDEDUP_ITERS):
        assigned = assign(cents)
        means = (
            assigned.select("cid", F.posexplode("emb").alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg(F.avg("x").alias("mu"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mu"))),
                    lambda s: s["mu"],
                ).alias("ce_new")
            )
        )
        # a cell that captured no vectors this round KEEPS its stale
        # centroid (standard Lloyd's; also what the numpy replay and
        # the scaled twin do) — the left join + coalesce is what stops
        # empty cells from silently shrinking K
        #
        # localCheckpoint per iteration (the graph_pagerank cadence
        # discipline): the centroid relation is K rows, but without the
        # eager materialization each Lloyd's round re-derives EVERY
        # previous round's assign+mean subtree (Spark shares no
        # subplans — the unrolled round-7 plan held 258 Exchanges /
        # 144 scans and re-ran the whole lineage per reference).
        cents = (
            cents.join(means, "cid", "left")
            .select("cid", F.coalesce("ce_new", "ce").alias("ce"))
            .localCheckpoint(eager=True)
        )
    # the final assignment is referenced three times below (both pair
    # sides + the output) — materialize it once; the in-row assign
    # already carries emb, so the old join back to the corpus is gone
    final = assign(cents).localCheckpoint(eager=True)
    a = final.select(
        "cid", F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("ae"), _norm(F.col("emb")).alias("an"),
    )
    b = final.select(
        F.col("cid").alias("b_cid"), F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("be"), _norm(F.col("emb")).alias("bn"),
    )
    dup_pairs = (
        a.join(b, (F.col("cid") == F.col("b_cid")) & (F.col("vec_a") < F.col("vec_b")))
        .filter(
            F.try_divide(_dot(F.col("ae"), F.col("be")), F.col("an") * F.col("bn"))
            >= SEMDEDUP_TAU
        )
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        final.join(dup_pairs, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cid").alias("cluster"),
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )


@REG.query("dedup_semantic_kmeans",  # rows-only: parallel float means
           # aren't bit-portable across engines (summation order), so
           # there is no exact SQL twin; structural parity is pinned by
           # a full numpy replay in tests/test_dedup_clusters.py
           prod_twin="dedup_semantic_kmeans_scaled")
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
    2303.09540): partition the embedding space with k-means FIRST, then
    search for cosine near-duplicates only WITHIN each cell — the
    cluster-then-compare move that cuts the candidate space from O(n²)
    to Σ|cell|² without any LSH hash family, and catches *semantic*
    duplicates (same content, different words) that shingle MinHash
    can't see.

    Spark-first shape, fully declarative — no .collect(), no pyspark.ml
    RNG: init centroids are the K smallest vec_ids (deterministic);
    each Lloyd's iteration is (a) a ONE-ROW broadcast of the collected
    centroid array with the argmin computed in-row (array_sort over
    (d2, cid) structs — zero shuffle, same cid tie-break as the old
    min-of-struct form it replaced in round 8), then (b) a per-(cell,
    dim) partial-agg mean via posexplode — the mean's keyed shuffles
    are now the ONLY exchanges per iteration.  The final within-cell
    pair scan is an equi self-join on the cell id.
    Tie-breaks (equidistant centroids → lower cid; dup pair → lower
    vec_id survives) follow the repo-wide smaller-id-wins rule.

    TEACHING FORM: K is pinned, so mean cell occupancy N/K grows
    linearly with the corpus and the within-cell pair scan grows
    QUADRATICALLY — measured 52x at 20x data (BASELINE.md).  The
    production twin derives K from N so occupancy stays constant."""
    return _semantic_kmeans(spark, sf_dir, SEMDEDUP_K)


SEMDEDUP_CELL_TARGET = 256  # scaled form: expected vectors per cell


def _arrow_assign(cids, C_mat):
    """mapInPandas kernel assigning each vector to its nearest centroid
    via one numpy matmul per Arrow batch (tie → lowest index == lowest
    cid, because centroid rows are ordered by cid).  Shared by the
    scaled and hierarchical SemDeDup twins."""
    import numpy as np
    import pandas as pd

    c_sq = (C_mat**2).sum(axis=1)

    def assign_batches(batches):
        for pdf in batches:
            if pdf.empty:
                continue  # np.stack([]) raises on zero-row Arrow batches
            X = np.stack(pdf["emb"].values).astype(np.float64)
            d2 = (
                (X**2).sum(axis=1)[:, None]
                - 2.0 * (X @ C_mat.T)
                + c_sq[None, :]
            )
            j = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].values, "cid": cids[j]}
            )

    return assign_batches


def _lloyd_iterations(emb: DataFrame, cids, C):
    """SEMDEDUP_ITERS distributed Lloyd's rounds: Arrow-batch assign,
    (cell, dim)-grain mean partial-agg, centroid matrix round-tripped
    through the driver (len(cids) × dim doubles — THE driver-state
    bound; the hierarchical twin keeps len(cids) ~ sqrt(K)).  Empty
    cells keep their stale centroid."""
    import numpy as np

    for _ in range(SEMDEDUP_ITERS):
        assigned = emb.mapInPandas(_arrow_assign(cids, C), "vec_id long, cid long")
        mu_rows = (
            emb.join(assigned, "vec_id")
            .select("cid", F.posexplode("emb").alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in mu_rows:
            by_cid.setdefault(r.cid, {})[r.dim] = r.mu
        C = C.copy()
        pos = {int(c): i for i, c in enumerate(cids)}
        for cid, dims in by_cid.items():
            C[pos[cid]] = [dims[d] for d in sorted(dims)]
    return C


@REG.query("dedup_semantic_kmeans_scaled",  # rows-only (same replay gate)
           prod_twin="dedup_semantic_kmeans_hier")
def dedup_semantic_kmeans_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_semantic_kmeans with BOTH scale fixes the measured 52x-at-
    20x cliff demands (BASELINE.md):

    1. **K ∝ N** — cell count = max(8, ceil(N / SEMDEDUP_CELL_TARGET)),
       so expected cell occupancy (and the quadratic within-cell pair
       cost) stays constant as the corpus grows.  The count is one
       cheap driver-side job before plan build, the same knob
       derivation as dedup_embedding_cosine_scaled.
    2. **Arrow-vectorized dense kernels** — the two dense-numeric inner
       loops (N×K distance assign; within-cell cosine pair scan) are
       exactly the case where built-in column functions genuinely can't
       express the computation efficiently: a 64-dim fold per pair runs
       as an interpreted per-element lambda, measured 35x at 20x even
       with K ∝ N.  They run here as numpy matmuls inside
       mapInPandas / applyInPandas (Arrow batches, one BLAS call per
       batch/cell); centroids round-trip through the driver between
       iterations (K×dim doubles — the same bounded driver state every
       k-means implementation keeps, cf. pyspark.ml and the
       graph_pagerank loop precedent).

    Partitioning story at 100 TB: assign is embarrassingly map-side
    (broadcast K×dim matrix into each Arrow batch); the mean recompute
    is a (cell, dim)-grain partial agg; the pair scan shuffles once on
    cell id with ~CELL_TARGET-row groups.  Past ~10^8 vectors the
    assign's N×K flops and the K×dim driver round-trip need the
    HIERARCHICAL form — implemented as dedup_semantic_kmeans_hier
    (assign to ~sqrt(K) coarse cells, refine within each cell
    executor-side; IVF-style two-level quantization).

    Same deterministic semantics as the teaching form (K-smallest-ids
    init, lower-cid / lower-vec_id tie-breaks); float summation order
    differs (BLAS vs left fold), which is inside the replay test's
    margin guard — the reason this family is rows-only."""
    import math

    import numpy as np
    import pandas as pd

    # cached: the Lloyd's loop re-scans emb 2x per iteration plus the
    # count/init/final passes (round-2 ADVICE) — one parquet read total
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).cache()
    n = emb.count()
    k = max(SEMDEDUP_K, math.ceil(n / SEMDEDUP_CELL_TARGET))

    cent_rows = (
        emb.orderBy("vec_id").limit(k).select("vec_id", "emb").collect()
    )
    if not cent_rows:  # degenerate empty corpus: nothing to cluster
        return spark.createDataFrame(
            [], "vec_id long, cluster long, is_dup boolean"
        )
    cids = np.array([r.vec_id for r in cent_rows], dtype=np.int64)
    C = np.array([r.emb for r in cent_rows], dtype=np.float64)

    C = _lloyd_iterations(emb, cids, C)

    final = emb.mapInPandas(_arrow_assign(cids, C), "vec_id long, cid long").join(
        emb, "vec_id"
    )

    def cell_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].values)
        ids = pdf["vec_id"].values[order]
        X = np.stack(pdf["emb"].values[order]).astype(np.float64)
        nrm = np.sqrt((X**2).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = (X @ X.T) / np.outer(nrm, nrm)
        # a vec is a dup iff some LOWER-id cell-mate clears the
        # threshold (NaN from zero norms compares False → never dup)
        above = np.tril(cos >= SEMDEDUP_TAU, k=-1)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": pdf["cid"].values[order],
                "is_dup": above.any(axis=1),
            }
        )

    return final.groupBy("cid").applyInPandas(
        cell_dups, "vec_id long, cluster long, is_dup boolean"
    )


#: Fine-cluster id stride: cluster = coarse_cid * STRIDE + fine_idx.
#: 2^20 fine cells per coarse cell is ~10^3x headroom over the
#: ceil(|cell| / CELL_TARGET) fine count at any sane occupancy, and
#: coarse ids up to ~10^12 still fit int64 under the multiply.
SEMDEDUP_FINE_STRIDE = 1 << 20

#: Floor on the coarse cell count of the hierarchical form.
SEMDEDUP_COARSE_MIN = 4


@REG.query("dedup_semantic_kmeans_hier")  # rows-only (same replay gate)
def dedup_semantic_kmeans_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup, HIERARCHICAL (two-level / IVF-style) form — the
    documented successor of dedup_semantic_kmeans_scaled for corpora
    past ~10^8 vectors, where the scaled twin's K ∝ N centroid matrix
    round-trips ~2 GB of driver state at 10^9 vectors (K ≈ 4M × 64
    dims × 8 B).  Here the driver only ever holds the COARSE matrix:

    * Level 1: K1 = max(4, ceil(sqrt(K))) coarse centroids (K = the
      scaled twin's ceil(N / CELL_TARGET)), trained with the same
      Arrow-assign + (cell, dim) mean Lloyd's machinery
      (_lloyd_iterations).  Driver state = K1 × dim doubles — at 10^9
      vectors K1 ≈ 2.0k → ~1 MB, vs ~2 GB flat (measured at sf0.1:
      see BASELINE.md round-3 note).
    * Level 2: one shuffle on the coarse cell id, then EVERYTHING
      else happens inside applyInPandas per coarse cell: a local
      deterministic Lloyd's (K2 = ceil(|cell| / CELL_TARGET) fine
      centroids, init = K2 smallest vec_ids in the cell, same
      iteration count and lowest-index tie-break), fine assignment,
      and the within-fine-cell cosine dup scan.  Fine centroids are
      NEVER collected — they live and die in the executor.

    Emitted cluster id = coarse_cid * 2^20 + fine_idx (deterministic:
    fine_idx is the rank of the fine centroid's init vector within the
    cell).  N×K1 + N×K2 assign flops replace the flat form's N×K —
    at K = 4M that is ~4000 + ~500 vs 4M per vector, the classic IVF
    probe saving; per-coarse-cell memory is |cell| × dim × 8 B ≈
    N/K1 · 512 B, which at 10^9 vectors and K1 = 2k is ~256 MB — tune
    K1 upward (it is a free knob ≥ sqrt(K)) to shrink cells on smaller
    executors.  Same replay gate as the other two forms:
    tests/test_dedup_clusters.py replays both levels in numpy."""
    import math

    import numpy as np
    import pandas as pd

    # cached for the same multi-scan reason as the scaled twin
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).cache()
    n = emb.count()
    k_fine = max(SEMDEDUP_K, math.ceil(n / SEMDEDUP_CELL_TARGET))
    k1 = max(SEMDEDUP_COARSE_MIN, math.ceil(math.sqrt(k_fine)))

    cent_rows = (
        emb.orderBy("vec_id").limit(k1).select("vec_id", "emb").collect()
    )
    if not cent_rows:  # degenerate empty corpus: nothing to cluster
        return spark.createDataFrame(
            [], "vec_id long, cluster long, is_dup boolean"
        )
    cids = np.array([r.vec_id for r in cent_rows], dtype=np.int64)
    C = _lloyd_iterations(
        emb, cids, np.array([r.emb for r in cent_rows], dtype=np.float64)
    )

    final = emb.mapInPandas(_arrow_assign(cids, C), "vec_id long, cid long").join(
        emb, "vec_id"
    )

    def cell_refine(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].values)
        ids = pdf["vec_id"].values[order]
        X = np.stack(pdf["emb"].values[order]).astype(np.float64)
        m = len(ids)
        k2 = max(1, math.ceil(m / SEMDEDUP_CELL_TARGET))
        Cf = X[:k2].copy()  # init: K2 smallest vec_ids in the cell
        for _ in range(SEMDEDUP_ITERS):
            d2 = (
                (X**2).sum(axis=1)[:, None]
                - 2.0 * (X @ Cf.T)
                + (Cf**2).sum(axis=1)[None, :]
            )
            a = d2.argmin(axis=1)  # tie → lowest fine_idx (init-id rank)
            Cf = np.array(
                [
                    X[a == j].mean(axis=0) if (a == j).any() else Cf[j]
                    for j in range(k2)
                ]
            )
        d2 = (
            (X**2).sum(axis=1)[:, None]
            - 2.0 * (X @ Cf.T)
            + (Cf**2).sum(axis=1)[None, :]
        )
        a = d2.argmin(axis=1)
        coarse = int(pdf["cid"].iloc[0])
        nrm = np.sqrt((X**2).sum(axis=1))
        is_dup = np.zeros(m, dtype=bool)
        for j in range(k2):
            mask = a == j
            if mask.sum() < 2:
                continue
            Xs = X[mask]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (Xs @ Xs.T) / np.outer(nrm[mask], nrm[mask])
            # dup iff some LOWER-id fine-cell mate clears the threshold
            is_dup[mask] = np.tril(cos >= SEMDEDUP_TAU, k=-1).any(axis=1)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": coarse * SEMDEDUP_FINE_STRIDE + a,
                "is_dup": is_dup,
            }
        )

    return final.groupBy("cid").applyInPandas(
        cell_refine, "vec_id long, cluster long, is_dup boolean"
    )


@REG.query(
    "dedup_minhash_estimate_audit",
    oracle=f"""
    WITH {SHINGLE_SQL_CTE},
    {MINHASH_BANDS_SQL_CTE},
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(y.sid) AS n_common
      FROM cands c
      LEFT JOIN dshingle x ON x.doc_id = c.doc_a
      LEFT JOIN dshingle y ON y.doc_id = c.doc_b AND y.sid = x.sid
      GROUP BY c.doc_a, c.doc_b
    ),
    exact AS (
      SELECT i.doc_a, i.doc_b,
             CAST(i.n_common AS DOUBLE)
               / (sa.sz + sb.sz - i.n_common) AS jaccard
      FROM inter i
      JOIN doc_sizes sa ON sa.doc_id = i.doc_a
      JOIN doc_sizes sb ON sb.doc_id = i.doc_b
    ),
    est AS (
      SELECT e.doc_a, e.doc_b,
             CAST(SUM(CASE WHEN ha.mh = hb.mh THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_eq
      FROM exact e
      JOIN hashes ha ON ha.doc_id = e.doc_a
      JOIN hashes hb ON hb.doc_id = e.doc_b AND hb.i = ha.i
      GROUP BY e.doc_a, e.doc_b
    )
    SELECT e.doc_a, e.doc_b, e.jaccard,
           CAST(n_eq AS DOUBLE) / {MINHASH_K} AS minhash_est,
           ABS(e.jaccard - CAST(n_eq AS DOUBLE) / {MINHASH_K}) AS abs_err
    FROM exact e JOIN est USING (doc_a, doc_b)
    """,
    prod_twin="dedup_minhash_audit_sampled",
)
def dedup_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimation-error audit over the pairs the banded LSH
    ACTUALLY EMITS: for every candidate pair, the k=16 signature's
    match-fraction estimate next to the exact shingle Jaccard and the
    absolute error.  Auditing the candidate stream (not an all-pairs
    sample) measures both failure modes that matter in production —
    estimator variance on true near-dups (E[est]=J, sigma =
    sqrt(J(1-J)/k) ~ 0.12 at k=16) AND the band join's false
    positives, which show up here as candidates whose exact Jaccard
    sits far below their estimate's implied threshold.  This closes
    the dedup family's measurement loop the way
    sim_dim_truncation_recall closes ANN's: the audit that justifies
    (or indicts) k and the band/row split before anyone re-runs a
    corpus-scale dedup with different knobs.

    Exactness: the estimate is an integer hash-match count over the
    SAME affine signature scheme both engines (_signatures <->
    MINHASH_BANDS_SQL_CTE), divided by constant k; exact Jaccard is
    the shared set-intersect verifier; the error is one |a-b| of two
    identically-derived doubles.

    Plan: reuses the published band index (one equi-join emits
    candidates — never all pairs), the broadcast sorted-set intersect
    for exact overlap, and one broadcast join of the wide k-column
    signature per side.  Scale cost tracks dedup_minhash_lsh plus one
    map-side 16-column compare per candidate.  The oracle's overlap
    count uses LEFT joins on purpose: a candidate pair with ZERO
    common shingles (a pure band-key collision — an LSH false
    positive) must stay in the audit with n_common = 0, where the
    verifying dedup ops are free to inner-join it away."""
    dshingle = doc_shingle_ids(spark, sf_dir)
    bands = _band_index(spark, sf_dir, "dict")
    cands = _candidate_pairs(bands, bands, "doc_a", "doc_b", ordered=True)
    overlap = _pair_overlap(cands, dshingle, "doc_a", "doc_b")
    exact = overlap.select(
        "doc_a",
        "doc_b",
        (
            F.col("n_common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
        ).alias("jaccard"),
    )
    sig = _minhash_signatures(dshingle)
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(MINHASH_K)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(MINHASH_K)],
    )
    n_eq = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        for i in range(MINHASH_K)
    ).cast("bigint")
    return (
        exact.join(F.broadcast(sig_a), "doc_a")
        .join(F.broadcast(sig_b), "doc_b")
        .withColumn("minhash_est", n_eq.cast("double") / MINHASH_K)
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            "minhash_est",
            F.abs(F.col("jaccard") - F.col("minhash_est")).alias("abs_err"),
        )
    )


#: Doc-level sampling modulus for the SAMPLED estimate audit: keep docs
#: whose Knuth bucket is 0 (1/MOD of the corpus), so candidate PAIRS
#: survive at ~1/MOD² — production tunes this to whatever audit budget
#: it has (e.g. MOD=32 ≈ 0.1% of pairs).  2 here so the test corpora
#: keep enough sampled pairs to exercise the whole estimate pipeline.
AUDIT_DOC_SAMPLE_MOD = 2


@REG.query(
    "dedup_minhash_audit_sampled",
    oracle=f"""
    WITH {SHINGLE_SQL_CTE},
    {MINHASH_BANDS_SQL_CTE},
    sbands AS (
      SELECT * FROM bands
      WHERE {knuth_bucket_sql("doc_id", AUDIT_DOC_SAMPLE_MOD)} = 0
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sbands a JOIN sbands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(y.sid) AS n_common
      FROM cands c
      LEFT JOIN dshingle x ON x.doc_id = c.doc_a
      LEFT JOIN dshingle y ON y.doc_id = c.doc_b AND y.sid = x.sid
      GROUP BY c.doc_a, c.doc_b
    ),
    exact AS (
      SELECT i.doc_a, i.doc_b,
             CAST(i.n_common AS DOUBLE)
               / (sa.sz + sb.sz - i.n_common) AS jaccard
      FROM inter i
      JOIN doc_sizes sa ON sa.doc_id = i.doc_a
      JOIN doc_sizes sb ON sb.doc_id = i.doc_b
    ),
    est AS (
      SELECT e.doc_a, e.doc_b,
             CAST(SUM(CASE WHEN ha.mh = hb.mh THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_eq
      FROM exact e
      JOIN hashes ha ON ha.doc_id = e.doc_a
      JOIN hashes hb ON hb.doc_id = e.doc_b AND hb.i = ha.i
      GROUP BY e.doc_a, e.doc_b
    )
    SELECT e.doc_a, e.doc_b, e.jaccard,
           CAST(n_eq AS DOUBLE) / {MINHASH_K} AS minhash_est,
           ABS(e.jaccard - CAST(n_eq AS DOUBLE) / {MINHASH_K}) AS abs_err
    FROM exact e JOIN est USING (doc_a, doc_b)
    """,
)
def dedup_minhash_audit_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The estimate audit's PRODUCTION twin: identical per-pair output
    (exact Jaccard, signature estimate, absolute error) over a
    deterministic doc-level sample — the form whose cost is DECOUPLED
    from candidate-pair volume.  dedup_minhash_estimate_audit audits
    every pair the band join emits, which on a near-dup-heavy corpus
    is quadratic in cluster width (129 s at 100× in BASELINE.md, all
    pair emission); an audit only needs enough pairs to bound the
    estimator's error distribution, so production samples.

    Sampling is at the DOC grain, BEFORE the band self-join: keeping
    docs with Knuth bucket 0 (functions/hashing.py — the shared
    overflow-safe hash every deterministic sampler uses) shrinks the
    band index by 1/MOD and the join's pair output by ~1/MOD², and the
    downstream shingle-set broadcast and signature joins see only
    sampled docs.  Every audited pair is a REAL candidate pair with
    exact stats — the sample restricts to the subgraph induced by
    sampled docs, which leaves the per-pair error distribution
    untouched (pair inclusion is independent of its Jaccard).
    Engine-reproducible: both sides compute the identical bucket, so
    the sampled audit is oracle-exact, not statistically compared."""
    from firebase_realtime_database_backup_spark.functions.hashing import (
        knuth_bucket,
    )

    sampled = knuth_bucket(F.col("doc_id"), AUDIT_DOC_SAMPLE_MOD) == 0
    dshingle = _sampled_shingle_ids(spark, sf_dir)
    bands = _band_index(spark, sf_dir, "dict").filter(sampled)
    cands = _candidate_pairs(bands, bands, "doc_a", "doc_b", ordered=True)
    overlap = _pair_overlap(cands, dshingle, "doc_a", "doc_b")
    exact = overlap.select(
        "doc_a",
        "doc_b",
        (
            F.col("n_common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
        ).alias("jaccard"),
    )
    sig = _minhash_signatures(dshingle)
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(MINHASH_K)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(MINHASH_K)],
    )
    n_eq = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        for i in range(MINHASH_K)
    ).cast("bigint")
    return (
        exact.join(F.broadcast(sig_a), "doc_a")
        .join(F.broadcast(sig_b), "doc_b")
        .withColumn("minhash_est", n_eq.cast("double") / MINHASH_K)
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            "minhash_est",
            F.abs(F.col("jaccard") - F.col("minhash_est")).alias("abs_err"),
        )
    )


@REG.query(
    "quality_dup_rate_by_source",
    oracle="""
    WITH hashes AS (SELECT source, MD5(text) AS h FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_dup_rows,
           1.0 - CAST(COUNT(DISTINCT h) AS DOUBLE) / COUNT(*) AS dup_rate
    FROM hashes GROUP BY source
    """,
)
def quality_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication rate PER SOURCE — the curation question that sits
    between the dedup family and the governance family: which feeds
    are mostly copies?  A crawler re-ingesting the same pages shows up
    here as a source whose dup_rate climbs release over release, which
    is the signal to fix the feed rather than pay dedup_exact to keep
    collapsing it.  (The corpus datasheet reports corpus-wide
    uniqueness; this is its per-source drill-down, the actionable
    grain.)

    Plan: one map-side md5 + one (source, hash)-grain distinct
    aggregation — Spark plans COUNT(*) + COUNT(DISTINCT h) per group
    as a two-level partial agg (no Expand: single distinct column),
    so the shuffle carries the hash grain once.  At 100 TB this is
    the cheapest dedup telemetry there is: no pairs, no bands, no
    joins — run it on every ingest batch."""
    docs = read_table(spark, sf_dir, "documents")
    h = F.md5(F.col("text"))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(h).alias("n_unique"),
        (F.count(F.lit(1)) - F.count_distinct(h)).alias("n_dup_rows"),
        (
            F.lit(1.0)
            - F.count_distinct(h).cast("double") / F.count(F.lit(1))
        ).alias("dup_rate"),
    )


def _fastss_pairs_plan(names: DataFrame) -> DataFrame:
    """The FastSS deletion-neighborhood enumerator over a distinct name
    relation: position-tagged substitution join + asymmetric indel
    join + levenshtein verify (see dedup_editdist_neighborhood for the
    full derivation).  Shared by the full and sampled variants."""
    nonempty = names.filter(F.length("c_name") > 0)
    deletions = F.expr(
        "transform(sequence(1, length(c_name)), i -> "
        "concat(substring(c_name, 1, i - 1), substring(c_name, i + 1)))"
    )
    va = nonempty.select(
        F.col("c_name").alias("name_a"),
        F.posexplode(deletions).alias("pos", "variant"),
    )
    vb = nonempty.select(
        F.col("c_name").alias("name_b"),
        F.posexplode(deletions).alias("pos", "variant"),
    )
    subs = (
        va.join(vb, ["variant", "pos"])
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
    )
    indels = (
        va.select("name_a", "variant")
        .join(
            names.select(F.col("c_name").alias("name_b")),
            F.col("variant") == F.col("name_b"),
        )
        .select(
            F.least("name_a", "name_b").alias("name_a"),
            F.greatest("name_a", "name_b").alias("name_b"),
        )
        .filter(F.col("name_a") < F.col("name_b"))
    )
    cands = subs.unionByName(indels).distinct()
    dist = F.levenshtein("name_a", "name_b").cast("int")
    return cands.select("name_a", "name_b", dist.alias("dist")).filter(
        F.col("dist") <= 1
    )


@session_memo
def _ensure_fastss_pairs(
    spark: SparkSession, sf_dir: str, variant: str
) -> DataFrame:
    """Build the verified edit-distance-1 pair relation ONCE per
    (session, corpus, variant) and hand the same cached DataFrame to
    every cascade tier.  variant: 'full' | 'sampled'.

    The ensure_item_edges discipline applied to the entity-resolution
    cascade's shared candidate tier: the enumerator output is consumed
    verbatim by the pair query itself, the Fellegi-Sunter scorer, the
    EM fit, and the transitive closure (each tier previously re-planned
    the full deletion-variant joins from cold — the dominant stage of
    all four queries).  At 100 TB the verified pair table is exactly
    what a production cascade would materialize once per corpus and
    hand to every downstream tier."""
    names = (
        read_table(spark, sf_dir, "customer").select("c_name").distinct()
    )
    if variant == "sampled":
        from firebase_realtime_database_backup_spark.functions.hashing import (
            string_bucket,
        )

        names = names.filter(
            string_bucket(F.col("c_name"), EDITDIST_SAMPLE_MOD) == 0
        )
    return _fastss_pairs_plan(names).cache()


@REG.query(
    "dedup_editdist_neighborhood",
    oracle="""
    WITH names AS (SELECT DISTINCT c_name FROM customer)
    SELECT a.c_name AS name_a, b.c_name AS name_b,
           CAST(LEVENSHTEIN(a.c_name, b.c_name) AS INT) AS dist
    FROM names a JOIN names b ON a.c_name < b.c_name
    WHERE LEVENSHTEIN(a.c_name, b.c_name) <= 1
    """,
    prod_twin="dedup_editdist_sampled",
)
def dedup_editdist_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance-1 pair enumeration via the DELETION
    NEIGHBORHOOD (FastSS): every string emits itself plus each
    single-character deletion as an index key; two strings within edit
    distance 1 — one substitution, insertion, or deletion — are
    GUARANTEED to share a key (substitution at position i: deleting i
    from both yields the same string; insertion/deletion: the shorter
    string equals one deletion variant of the longer), so unlike the
    blocking key in `dedup_fuzzy_names` (recall-lossy by construction:
    a typo in the block token hides the pair forever) this candidate
    generator has EXACT recall for k=1.

    Plan — the POSITION-TAGGED refinement, which matters at scale: the
    naive index joins bare variants, but for k=1 two equal-length
    strings are one substitution apart iff deleting the SAME position
    from both yields the same string, so the substitution join keys on
    (variant, pos) — exactly ONE candidate row per true pair and hot
    variant groups split by the position tag (measured on the
    saturated sequential-id name corpus: the bare-variant join emitted
    ~20x the true pairs and cost 126 s at 300k names; this form is
    linear, BASELINE.md round-6).  Insert/delete pairs are a second,
    asymmetric join — deletion variants of A against FULL names of B —
    whose right side is just the name list.  Everything is JVM-side
    (`transform(sequence(...))` + posexplode, no UDF); both joins are
    equi-joins whose keys shuffle-balance, and a residual hot key
    splits under AQE like any join key.  Generalizes to k=2 by
    indexing depth-2 deletions (L^2/2 variants per string) — the
    classic recall/index trade, same axis as adding LSH tables.

    Oracle: DuckDB verifies the FULL quadratic space (cross join +
    LEVENSHTEIN <= 1), so a hash match here proves the candidate
    generator misses nothing — the recall claim is checked, not
    asserted.  Output dist is 0/1 only (INT): distinct names make
    dist=0 impossible, so every row is exactly 1 edit apart; the
    final LEVENSHTEIN runs only on true-pair-sized input (candidates
    are distance-1 by construction — it is the belt-and-braces
    verify, not a filter doing real work).

    Served from _ensure_fastss_pairs: the verified pair relation is
    built once per (session, corpus) and shared with the scorer, EM,
    and closure tiers of the entity-resolution cascade."""
    return _ensure_fastss_pairs(spark, sf_dir, "full")


#: Name-grain sampling modulus for the SAMPLED edit-distance audit:
#: keep names whose string bucket is 0 (1/MOD of the names), so typo
#: PAIRS survive at ~1/MOD² — production tunes this to its audit
#: budget (MOD=8 ≈ 1.6% of pairs).  4 here so the test corpora keep
#: enough sampled pairs to exercise the whole enumerate+verify
#: pipeline (the AUDIT_DOC_SAMPLE_MOD discipline, at the name grain).
EDITDIST_SAMPLE_MOD = 4


@REG.query(
    "dedup_editdist_sampled",
    oracle=f"""
    WITH names AS (
      SELECT DISTINCT c_name FROM customer
      WHERE {string_bucket_sql("c_name", EDITDIST_SAMPLE_MOD)} = 0
    )
    SELECT a.c_name AS name_a, b.c_name AS name_b,
           CAST(LEVENSHTEIN(a.c_name, b.c_name) AS INT) AS dist
    FROM names a JOIN names b ON a.c_name < b.c_name
    WHERE LEVENSHTEIN(a.c_name, b.c_name) <= 1
    """,
)
def dedup_editdist_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_editdist_neighborhood's AUDIT-BUDGET production twin: the
    same exact-recall FastSS enumerator over a deterministic 1/MOD
    name sample (both endpoints sampled, so pairs survive at ~1/MOD²)
    — the dedup_minhash_audit_sampled discipline at the name grain.

    Why this exists: the full enumerator is OUTPUT-BOUND — ~7 µs per
    verified pair, flat across three corpus decades, which is 288 s on
    the adversarial saturated-id corpus (1.5M names, 39.75M true
    pairs).  When the corpus saturates its id space, most of that
    output is the answer "yes, sequential ids are 1 edit apart" — the
    production question ("how dense are REAL typo pairs? do we need
    the full pass?") is a RATE, and a rate needs a sample, not the
    enumeration.  Sampling NAMES (not pairs) keeps recall exact within
    the sample — the oracle still verifies the full quadratic space of
    the sampled set — and the pair-density estimate scales back up by
    MOD² exactly like the minhash audit's MOD².

    The sample predicate is string_bucket (base-31 tail polynomial +
    Knuth mix) — bit-identical in both engines, name-deterministic
    across runs/partitions/growth, and independent of the id space
    (names have no ids; hashing the tail beats hashing the head
    because serial corpora share constant prefixes).

    Scale: the variant join shrinks by MOD on each side and its
    output by MOD²; everything else is the base plan — position-tagged
    substitution join, asymmetric indel join, JVM-side throughout.
    Measured vs the base enumerator on the 1.5M-name saturated corpus:
    see BASELINE.md round-7 (the <60 s budget row).

    Served from _ensure_fastss_pairs (variant='sampled'): built once
    per (session, corpus), shared with the sampled scorer / EM /
    sampled closure tiers."""
    return _ensure_fastss_pairs(spark, sf_dir, "sampled")


ER_M = 0.95  #: P(field agrees | records are a true match) — the
#: standard Fellegi-Sunter m-probability prior; u is estimated from
#: the data (see dedup_entity_resolution).

#: Log-likelihood-ratio threshold above which a scored pair is treated
#: as "same entity" by the transitive-closure stage: 0 = the point
#: where the match hypothesis overtakes the non-match hypothesis.
ER_CLUSTER_THRESHOLD = 0.0

#: EM initial match prevalence P(match) for the label-free parameter
#: fit (dedup_entity_resolution_em); m starts at the ER_M prior and u
#: at the corpus collision rates, so EM refines data-grounded values.
ER_EM_P0 = 0.2

ER_EM_ITERS = 2  #: EM iterations — each is pure scalar arithmetic on
#: the 1-row pattern-count pivot, so iterations are free; 2 suffices
#: for the 2-field model to move m/u off their priors measurably.


#: Shared oracle CTEs for the ER cascade.  `names_where` narrows the
#: candidate name set (the sampled production twin); everything else —
#: attributes, u-statistics — always comes from the FULL corpus so
#: sampled scores stay on the same scale as full scores.
def _er_base_ctes(names_where: str = "") -> str:
    return f"""names AS (SELECT DISTINCT c_name FROM customer{names_where}),
    cand AS (
      SELECT a.c_name AS name_a, b.c_name AS name_b
      FROM names a JOIN names b ON a.c_name < b.c_name
      WHERE LEVENSHTEIN(a.c_name, b.c_name) <= 1
    ),
    attr AS (
      SELECT c_name, MIN(c_nationkey) AS nat, MIN(c_mktsegment) AS seg
      FROM customer GROUP BY c_name
    ),
    un AS (
      SELECT CAST(SUM(n * n) AS DOUBLE) / (SUM(n) * SUM(n)) AS u
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n
            FROM customer GROUP BY c_nationkey)
    ),
    us AS (
      SELECT CAST(SUM(n * n) AS DOUBLE) / (SUM(n) * SUM(n)) AS u
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n
            FROM customer GROUP BY c_mktsegment)
    )"""


#: The scored-pair SELECT shared by the full and sampled score oracles
#: (and re-used as a CTE by the closure oracles).
_ER_SCORE_SELECT = f"""SELECT c.name_a, c.name_b,
           CAST(a.nat = b.nat AS INT) AS agree_nation,
           CAST(a.seg = b.seg AS INT) AS agree_segment,
           ROUND(
             (CASE WHEN a.nat = b.nat THEN LN({ER_M} / un.u)
                   ELSE LN({1 - ER_M} / NULLIF(1 - un.u, 0)) END)
             + (CASE WHEN a.seg = b.seg THEN LN({ER_M} / us.u)
                     ELSE LN({1 - ER_M} / NULLIF(1 - us.u, 0)) END),
             6) AS match_score
    FROM cand c
    JOIN attr a ON a.c_name = c.name_a
    JOIN attr b ON b.c_name = c.name_b, un, us"""


def _er_u_stats(cust: DataFrame) -> DataFrame:
    """1-row (u_nat, u_seg): per-field P(agree | non-match) estimated
    as the collision probability of the field's empirical value
    distribution, sum_v (n_v/N)^2 — exact integer counts, one double
    division per field (the round-7 derivation)."""

    def u_of(col, alias):
        counts = cust.groupBy(col).agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        return counts.agg(
            (
                F.sum(F.col("n") * F.col("n")).cast("double")
                / (F.sum("n") * F.sum("n"))
            ).alias(alias)
        )

    return u_of("c_nationkey", "u_nat").crossJoin(
        F.broadcast(u_of("c_mktsegment", "u_seg"))
    )


@session_memo
def _er_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_name, nat, seg) attributes, memoized per session: every tier
    of the entity-resolution cascade (full/sampled scorer, EM, both
    closure forms) joins candidates against this name-grain aggregate
    from TWO sides — the memo pays the customer groupBy once per
    (session, corpus) instead of once per reference."""
    return (
        read_table(spark, sf_dir, "customer")
        .groupBy("c_name")
        .agg(
            F.min("c_nationkey").alias("nat"),
            F.min("c_mktsegment").alias("seg"),
        )
        .cache()
    )


def _er_agreements(
    spark: SparkSession, sf_dir: str, cands: DataFrame
) -> DataFrame:
    """Per-candidate field-agreement flags: (name_a, name_b,
    agree_nation, agree_segment) — the γ vectors every Fellegi-Sunter
    stage (scoring, EM fitting) consumes."""
    attr = _er_attr(spark, sf_dir)
    a = attr.select(
        F.col("c_name").alias("name_a"),
        F.col("nat").alias("nat_a"),
        F.col("seg").alias("seg_a"),
    )
    b = attr.select(
        F.col("c_name").alias("name_b"),
        F.col("nat").alias("nat_b"),
        F.col("seg").alias("seg_b"),
    )
    return (
        cands.join(a, "name_a")
        .join(b, "name_b")
        .select(
            "name_a",
            "name_b",
            (F.col("nat_a") == F.col("nat_b")).cast("int")
            .alias("agree_nation"),
            (F.col("seg_a") == F.col("seg_b")).cast("int")
            .alias("agree_segment"),
        )
    )


def _fs_score_pairs(
    spark: SparkSession, sf_dir: str, cands: DataFrame
) -> DataFrame:
    """Fellegi-Sunter log-likelihood-ratio scoring of candidate pairs
    (the shared engine behind the full and sampled score queries)."""
    cust = read_table(spark, sf_dir, "customer")
    agr = _er_agreements(spark, sf_dir, cands)
    u = _er_u_stats(cust)
    agree_nat = F.col("agree_nation") == 1
    agree_seg = F.col("agree_segment") == 1
    w_nat = F.when(agree_nat, F.log(F.lit(ER_M) / F.col("u_nat"))).otherwise(
        F.log(F.lit(1 - ER_M) / F.nullif(F.lit(1.0) - F.col("u_nat"),
                                         F.lit(0.0)))
    )
    w_seg = F.when(agree_seg, F.log(F.lit(ER_M) / F.col("u_seg"))).otherwise(
        F.log(F.lit(1 - ER_M) / F.nullif(F.lit(1.0) - F.col("u_seg"),
                                         F.lit(0.0)))
    )
    return agr.crossJoin(F.broadcast(u)).select(
        "name_a",
        "name_b",
        "agree_nation",
        "agree_segment",
        F.round(w_nat + w_seg, 6).alias("match_score"),
    )


@REG.query(
    "dedup_entity_resolution",
    oracle=f"""
    WITH {_er_base_ctes()}
    {_ER_SCORE_SELECT}
    """,
    prod_twin="dedup_entity_resolution_sampled",
)
def dedup_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record-linkage scoring over the FastSS candidate
    pairs — the SCORE-AND-THRESHOLD stage every entity-resolution
    pipeline runs after candidate generation, completing the cascade
    (block: fuzzy_names -> enumerate: editdist_neighborhood -> score:
    here).  A near-identical name alone is weak evidence; agreement on
    the pair's OTHER fields is what separates "same entity, typo'd"
    from "different entities with adjacent serial ids".

    Per candidate pair and field f: weight = ln(m/u_f) on agreement,
    ln((1-m)/(1-u_f)) on disagreement, where m = {ER_M} is the standard
    prior for P(agree | match) and u_f — P(agree | NON-match) — is
    ESTIMATED FROM THE CORPUS as the collision probability of f's
    empirical value distribution, sum_v (n_v/N)^2: rare-valued fields
    (24 nations) earn bigger agreement weights than coarse ones
    (5 segments), with no labeled data needed.  The match score is the
    log-likelihood ratio = sum of field weights.

    Exactness: u is one exact-integer division (sum n_v^2 / N^2 over
    exact counts), the weights are single lns of identical doubles,
    and the final ROUND(,6) absorbs libm drift (the tfidf precedent).
    The NULLIF guards the structurally-unreachable disagreement branch
    when a field is constant (u = 1 means disagreement cannot occur;
    DuckDB CASE is lazy but the guard keeps the expression total).

    Plan: candidates come from the REGISTERED FastSS enumerator (same
    plan, exact recall); attributes join back per side on the name key
    (MIN-deduped per name, deterministic both engines); the two
    u-statistics are 1-row aggregates attached by broadcast cross join
    (bounded probes, BNL-lint-allowlisted).  Nothing beyond the
    enumerator is data-sized: two value-grain counts + candidate-grain
    arithmetic.

    Scale: this teaching form inherits the full enumerator's
    output-bound cost on saturated corpora (288 s at 1.5M sequential
    names) — dedup_entity_resolution_sampled is the registered
    production twin, the same scorer over the 1/MOD²-pair sample
    (ADVICE r7)."""
    cands = dedup_editdist_neighborhood(spark, sf_dir).select(
        "name_a", "name_b"
    )
    return _fs_score_pairs(spark, sf_dir, cands)


@REG.query(
    "dedup_entity_resolution_sampled",
    oracle=f"""
    WITH {_er_base_ctes(
        " WHERE " + string_bucket_sql("c_name", EDITDIST_SAMPLE_MOD) + " = 0"
    )}
    {_ER_SCORE_SELECT}
    """,
)
def dedup_entity_resolution_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dedup_entity_resolution's AUDIT-BUDGET production twin: the
    identical Fellegi-Sunter scorer over dedup_editdist_sampled's
    1/MOD name sample (pairs survive at ~1/MOD²) — the sampling tier
    and the scoring tier compose, so the whole cascade now has a
    registered scale-safe route (block → enumerate-sampled → score).

    The u-statistics and attribute relation deliberately come from the
    FULL corpus, not the sample: u_f is a property of field f's value
    distribution (the collision probability a random NON-match pair
    agrees by chance), so estimating it corpus-wide keeps the sampled
    scores on EXACTLY the same log-likelihood-ratio scale as the full
    form — a threshold tuned on the sample transfers unchanged, which
    is the point of an audit sample.  Costs that stay full-corpus are
    two value-grain counts (|nations|-, |segments|-sized) — noise next
    to the MOD²-fold candidate reduction.

    Oracle: DuckDB re-verifies the full quadratic space of the sampled
    name set AND recomputes the corpus-wide u — recall-within-sample
    and score-scale are both checked, not asserted."""
    cands = dedup_editdist_sampled(spark, sf_dir).select("name_a", "name_b")
    return _fs_score_pairs(spark, sf_dir, cands)


# --- EM fit of the Fellegi-Sunter parameters ------------------------------
#
# The EM expressions are SHARED SQL STRINGS evaluated verbatim by both
# engines (Spark selectExpr / DuckDB stacked CTEs): only +,*,/ and CASE
# over identical doubles, so IEEE-754 fixes every intermediate bit —
# the fit itself is hash-verified, not just its inputs.  NULLIF guards
# every denominator (Spark non-ANSI /0 yields NULL but DuckDB yields
# inf — the NULLIF makes both engines produce NULL).

#: E-step: posterior match weight per agreement pattern (i, j) under
#: the current (p, mn, ms, unv, usv) — column-name contract: p =
#: P(match), mn/ms = per-field m, unv/usv = per-field u.
_EM_E_EXPRS = (
    "(p * mn * ms) / NULLIF("
    "p * mn * ms + (1.0 - p) * unv * usv, 0.0) AS wm11",
    "(p * mn * (1.0 - ms)) / NULLIF("
    "p * mn * (1.0 - ms) + (1.0 - p) * unv * (1.0 - usv), 0.0) AS wm10",
    "(p * (1.0 - mn) * ms) / NULLIF("
    "p * (1.0 - mn) * ms + (1.0 - p) * (1.0 - unv) * usv, 0.0) AS wm01",
    "(p * (1.0 - mn) * (1.0 - ms)) / NULLIF("
    "p * (1.0 - mn) * (1.0 - ms)"
    " + (1.0 - p) * (1.0 - unv) * (1.0 - usv), 0.0) AS wm00",
)
_EM_W = "(n11 * wm11 + n10 * wm10 + n01 * wm01 + n00 * wm00)"
_EM_N = "CAST(n11 + n10 + n01 + n00 AS DOUBLE)"
#: M-step: re-estimate the five parameters from the weighted pattern
#: counts (fixed-order 4-term sums — no aggregation, no sum-order
#: ambiguity).
_EM_M_EXPRS = (
    f"{_EM_W} / NULLIF({_EM_N}, 0.0) AS p",
    f"(n11 * wm11 + n10 * wm10) / NULLIF({_EM_W}, 0.0) AS mn",
    f"(n11 * wm11 + n01 * wm01) / NULLIF({_EM_W}, 0.0) AS ms",
    f"(n11 * (1.0 - wm11) + n10 * (1.0 - wm10))"
    f" / NULLIF({_EM_N} - {_EM_W}, 0.0) AS unv",
    f"(n11 * (1.0 - wm11) + n01 * (1.0 - wm01))"
    f" / NULLIF({_EM_N} - {_EM_W}, 0.0) AS usv",
)
_EM_COUNTS = ("n11", "n10", "n01", "n00")
_EM_PARAMS = ("p", "mn", "ms", "unv", "usv")
#: Final per-pattern posterior under the fitted parameters.
_EM_W_CASE = (
    "CASE WHEN agree_nation = 1 AND agree_segment = 1 THEN wm11"
    " WHEN agree_nation = 1 THEN wm10"
    " WHEN agree_segment = 1 THEN wm01"
    " ELSE wm00 END"
)
#: Pattern-count pivot: 4 exact integers, the ENTIRE sufficient
#: statistic of the 2-field EM — iterations cost nothing data-sized.
_EM_PIV_SQL = tuple(
    f"CAST(COALESCE(SUM(CASE WHEN agree_nation = {i}"
    f" AND agree_segment = {j} THEN n_pairs END), 0) AS BIGINT)"
    f" AS n{i}{j}"
    for i, j in ((1, 1), (1, 0), (0, 1), (0, 0))
)
_EM_INIT_EXPRS = (
    f"CAST({ER_EM_P0} AS DOUBLE) AS p",
    f"CAST({ER_M} AS DOUBLE) AS mn",
    f"CAST({ER_M} AS DOUBLE) AS ms",
    "u_nat AS unv",
    "u_seg AS usv",
)


def _em_oracle() -> str:
    sampled_where = (
        " WHERE " + string_bucket_sql("c_name", EDITDIST_SAMPLE_MOD) + " = 0"
    )
    ctes = [
        _er_base_ctes(sampled_where),
        """agr AS (
      SELECT CAST(a.nat = b.nat AS INT) AS agree_nation,
             CAST(a.seg = b.seg AS INT) AS agree_segment
      FROM cand c
      JOIN attr a ON a.c_name = c.name_a
      JOIN attr b ON b.c_name = c.name_b
    )""",
        """pat AS (
      SELECT agree_nation, agree_segment,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM agr GROUP BY agree_nation, agree_segment
    )""",
        f"piv AS (SELECT {', '.join(_EM_PIV_SQL)} FROM pat)",
        f"""e0 AS (
      SELECT n11, n10, n01, n00,
             {', '.join(_EM_INIT_EXPRS).replace('u_nat', 'un.u')
                                       .replace('u_seg', 'us.u')}
      FROM piv, un, us
    )""",
    ]
    cols = ", ".join(_EM_COUNTS)
    prev = "e0"
    for k in range(ER_EM_ITERS):
        ctes.append(
            f"e{k}e AS (SELECT {cols}, {', '.join(_EM_PARAMS)},"
            f" {', '.join(_EM_E_EXPRS)} FROM {prev})"
        )
        ctes.append(
            f"e{k + 1} AS (SELECT {cols},"
            f" {', '.join(_EM_M_EXPRS)} FROM e{k}e)"
        )
        prev = f"e{k + 1}"
    ctes.append(
        f"ef AS (SELECT {cols}, {', '.join(_EM_PARAMS)},"
        f" {', '.join(_EM_E_EXPRS)} FROM {prev})"
    )
    return f"""
    WITH {', '.join(ctes)}
    SELECT pat.agree_nation, pat.agree_segment, pat.n_pairs,
           ROUND({_EM_W_CASE}, 6) AS w_match,
           ROUND(p, 6) AS em_p,
           ROUND(mn, 6) AS em_m_nation,
           ROUND(ms, 6) AS em_m_segment,
           ROUND(unv, 6) AS em_u_nation,
           ROUND(usv, 6) AS em_u_segment
    FROM pat, ef
    """


@REG.query("dedup_entity_resolution_em", oracle=_em_oracle())
def dedup_entity_resolution_em(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LABEL-FREE EM fit of the Fellegi-Sunter parameters — m_f, u_f,
    and the match prevalence p are ESTIMATED from the candidate
    agreement patterns instead of fixed priors, making the linkage
    weights end-to-end data-derived (round-7's scorer used m = ER_M as
    a prior; this is the verdict-r7 #6 completion).  Returns one row
    per observed agreement pattern with its pair count, fitted
    posterior P(match | pattern), and the fitted parameters.

    The SUFFICIENT-STATISTIC trick is the 100 TB design: for F binary
    agreement fields the EM likelihood depends on the data only
    through the 2^F pattern COUNTS, so the candidate relation is
    aggregated ONCE (one shuffle at candidate grain → 4 rows → a 1-row
    pivot) and every EM iteration is pure scalar arithmetic on that
    single row — zero additional jobs, zero driver round-trips of
    data, iterations literally free (contrast kmeans, whose E-step
    must re-scan the vectors).  The driver never sees a row at all:
    the iterations are unrolled into the PLAN (chained selectExpr),
    the pagerank/BPE trick without even needing checkpoints.

    Candidates ride dedup_editdist_sampled (the production enumerator):
    EM consumes the pattern DISTRIBUTION, which the deterministic
    1/MOD² pair sample preserves in expectation, so the fit is
    production-shaped from the start — no prod_twin needed.  Init:
    p = ER_EM_P0, m = the ER_M prior, u = the corpus collision rates
    (_er_u_stats), so iteration 0's E-step is exactly the round-7
    scorer's implied posterior.

    Cross-engine exactness: every E/M-step expression is a SHARED SQL
    string (only +,*,/, CASE on doubles — IEEE-754-identical in any
    engine) evaluated by Spark selectExpr and by DuckDB as stacked
    CTEs; NULLIF guards each denominator so degenerate corpora (zero
    candidates, all-match) yield NULL parameters identically in both
    engines rather than inf on one side.  ROUND(,6) on output only."""
    cands = dedup_editdist_sampled(spark, sf_dir).select("name_a", "name_b")
    agr = _er_agreements(spark, sf_dir, cands)
    pat = agr.groupBy("agree_nation", "agree_segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    piv = pat.agg(
        *[F.expr(e) for e in _EM_PIV_SQL]
    )
    u = _er_u_stats(read_table(spark, sf_dir, "customer"))
    st = piv.crossJoin(F.broadcast(u)).selectExpr(
        *_EM_COUNTS, *_EM_INIT_EXPRS
    )
    for _ in range(ER_EM_ITERS):
        st = st.selectExpr(*_EM_COUNTS, *_EM_PARAMS, *_EM_E_EXPRS)
        st = st.selectExpr(*_EM_COUNTS, *_EM_M_EXPRS)
    st = st.selectExpr(*_EM_COUNTS, *_EM_PARAMS, *_EM_E_EXPRS)
    return pat.crossJoin(F.broadcast(st)).selectExpr(
        "agree_nation",
        "agree_segment",
        "n_pairs",
        f"ROUND({_EM_W_CASE}, 6) AS w_match",
        "ROUND(p, 6) AS em_p",
        "ROUND(mn, 6) AS em_m_nation",
        "ROUND(ms, 6) AS em_m_segment",
        "ROUND(unv, 6) AS em_u_nation",
        "ROUND(usv, 6) AS em_u_segment",
    )


def _er_clusters_oracle(names_where: str = "") -> str:
    return f"""
    WITH RECURSIVE {_er_base_ctes(names_where)},
    scored AS (
      {_ER_SCORE_SELECT}
    ),
    pairs AS (
      SELECT name_a, name_b FROM scored
      WHERE match_score > {ER_CLUSTER_THRESHOLD}
    ),
    cedges AS (
      SELECT name_a AS a, name_b AS b FROM pairs
      UNION
      SELECT name_b, name_a FROM pairs
    ),
    reach(nm, lbl) AS (
      SELECT a, a FROM cedges
      UNION
      SELECT e.b, r.lbl FROM reach r JOIN cedges e ON e.a = r.nm
    ),
    comp AS (SELECT nm AS name, MIN(lbl) AS entity_id
             FROM reach GROUP BY nm)
    SELECT name, entity_id,
           CAST(COUNT(*) OVER (PARTITION BY entity_id) AS BIGINT)
             AS n_members
    FROM comp
    """


def _er_closure(scored: DataFrame) -> DataFrame:
    pairs = scored.filter(
        F.col("match_score") > ER_CLUSTER_THRESHOLD
    ).select(
        F.col("name_a").alias("doc_a"), F.col("name_b").alias("doc_b")
    )
    comp = min_label_components(pairs).select(
        F.col("doc_id").alias("name"),
        F.col("cluster_id").alias("entity_id"),
    )
    return comp.withColumn(
        "n_members",
        F.count(F.lit(1)).over(Window.partitionBy("entity_id"))
        .cast("bigint"),
    )


@REG.query(
    "dedup_entity_clusters",
    oracle=_er_clusters_oracle(),
    prod_twin="dedup_entity_clusters_sampled",
)
def dedup_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the scored pairs above
    ER_CLUSTER_THRESHOLD into IDENTITY CLUSTERS — the RESOLVE step
    that completes the entity-resolution cascade (block → enumerate →
    score → fit → resolve): every name maps to its entity (the
    lexicographic-min member, the same canonical label
    graph_connected_components uses) plus the cluster size a survivor-
    selection policy consumes.  Linkage is transitive by construction
    (A≈B, B≈C implies A,B,C are one entity even when A,C were never a
    candidate pair) — exactly what pairwise thresholding alone cannot
    express.

    Plan: the scored pairs come from the registered scorer; closure is
    the shared min-label fixpoint (min_label_components — two
    shuffles per iteration, iterations = component diameter, driver
    loops but data never leaves executors); the size column is one
    window over the closed labels.  Inherits the full enumerator's
    output-bound teaching cost — dedup_entity_clusters_sampled is the
    registered production twin.

    Oracle: the closure itself is re-derived in DuckDB as a recursive
    CTE (min-label reachability fixpoint, the
    graph_connected_components pattern) — cluster membership is
    hash-verified end to end, not spot-checked."""
    return _er_closure(dedup_entity_resolution(spark, sf_dir))


@REG.query(
    "dedup_entity_clusters_sampled",
    oracle=_er_clusters_oracle(
        " WHERE " + string_bucket_sql("c_name", EDITDIST_SAMPLE_MOD) + " = 0"
    ),
)
def dedup_entity_clusters_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dedup_entity_clusters over the SAMPLED scorer — the
    audit-budget production route for the closure tier: cluster-size
    distribution and duplication-rate estimates from 1/MOD² of the
    pairs (a cluster of the sampled subgraph is a subset of a true
    cluster, so sampled sizes lower-bound true sizes — the right
    direction for a dup-rate floor).  Same recursive-CTE oracle over
    the sampled name set; same min-label fixpoint."""
    return _er_closure(dedup_entity_resolution_sampled(spark, sf_dir))


@REG.query(
    "dedup_cluster_size_profile",
    oracle="""
    WITH h AS (
      SELECT MD5(text) AS hh, CAST(COUNT(*) AS BIGINT) AS sz
      FROM documents GROUP BY hh
    )
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(sz * COUNT(*) AS BIGINT) AS n_docs
    FROM h GROUP BY sz
    """,
)
def dedup_cluster_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The duplication PROFILE: how many exact-dup clusters exist at
    each size — the distribution behind quality_dup_rate_by_source's
    single rate.  Shape matters operationally: a corpus at 20% dup
    made of millions of size-2 clusters (boilerplate drift) needs
    different treatment than one whale cluster duplicated 10^6 times
    (a crawler loop), and the dedup SAVINGS estimate (n_docs -
    n_clusters per size) falls straight out of this table.

    Plan: one map-side md5, one (hash)-grain count, one (size)-grain
    count — two shuffles whose second input is already collapsed to
    cluster grain.  The 100 TB cost is dedup_exact's stage 1 verbatim;
    at that scale this profile is what you run FIRST to size the real
    dedup job."""
    docs = read_table(spark, sf_dir, "documents")
    clusters = docs.groupBy(F.md5("text").alias("hh")).agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return clusters.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_docs"),
    )


@REG.query(
    "dedup_source_overlap",
    oracle=f"""
    WITH {SHINGLE_SQL_CTE},
    ssid AS (
      SELECT DISTINCT doc.source, d.sid
      FROM dshingle d JOIN documents doc USING (doc_id)
    ),
    sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS sz
      FROM ssid GROUP BY source
    ),
    common AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM ssid a JOIN ssid b
        ON a.sid = b.sid AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT c.source_a, c.source_b, c.n_common,
           sa.sz AS sz_a, sb.sz AS sz_b,
           CAST(c.n_common AS DOUBLE)
             / (sa.sz + sb.sz - c.n_common) AS jaccard,
           CAST(c.n_common AS DOUBLE)
             / LEAST(sa.sz, sb.sz) AS containment
    FROM common c
    JOIN sizes sa ON sa.source = c.source_a
    JOIN sizes sb ON sb.source = c.source_b
    """,
    headline=False,
)
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE shingle overlap: which feeds duplicate each other —
    the source-grain rollup of the dedup family, and the curation
    signal that decides "drop feed B, it's 80% contained in feed A"
    BEFORE paying document-level dedup.  Containment (n_common /
    min size) catches the strict-subset feed that Jaccard's
    union-denominator hides.

    Plan — the source-SET BITMASK route (the oracle's sid-grain
    self-join is the spec, not the plan: it was measured at 44-52 s at
    100× because Σ C(sources_per_sid, 2) candidate rows is
    near-corpus-sized).  |sources| fits in a machine word, so each
    shingle's source set is ONE long: the session-cached (doc_id, sid)
    relation joins the broadcast doc->source-index map and collapses
    by BIT_OR to a single mask per sid — the OR is idempotent, so no
    DISTINCT pass is needed and duplicates cost nothing.  Everything
    after runs at the DISTINCT-MASK grain (thousands of rows): explode
    each mask's set-bit pairs (JVM transform over bit positions),
    weight by the mask's sid count, and every (a, b) common count
    falls out of one tiny aggregate — the agg_bitmap_distinct
    discipline applied to set-intersection counting.  Measured 44.6 →
    ~3 s at 100×.  Beyond 64 sources the set splits into ceil(n/64)
    word columns (one conditional BIT_OR each, same single sid-grain
    exchange — Spark's shiftleft wraps the shift amount mod 64, so a
    single-word mask would silently alias source 64 onto source 0);
    the word count is a bounded driver scalar (#feeds, the src_idx
    broadcast's own size)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    srcs = docs.select("source").distinct()
    src_idx = srcs.select(
        "source",
        (
            F.row_number().over(Window.orderBy("source")) - 1
        ).alias("idx"),
    )
    n_src = src_idx.count()  # bounded: the number of distinct feeds
    n_words = max(1, (n_src + 63) // 64)
    word_cols = [
        F.coalesce(
            F.bit_or(
                F.when(
                    F.col("idx").between(w * 64, w * 64 + 63),
                    F.expr(f"shiftleft(1L, idx - {w * 64})"),
                )
            ),
            F.lit(0).cast("long"),
        ).alias(f"m{w}")
        for w in range(n_words)
    ]
    sid_mask = (
        doc_shingle_ids(spark, sf_dir)
        .join(F.broadcast(docs.join(F.broadcast(src_idx), "source")
                          .select("doc_id", "idx")),
              "doc_id")
        .groupBy("sid")
        .agg(*word_cols)
    )
    mask_counts = sid_mask.groupBy(
        *[f"m{w}" for w in range(n_words)]
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_sids"))
    # global source index per set bit: word w bit i -> idx = w*64 + i
    bits = F.expr(
        "concat(" + ", ".join(
            f"transform(filter(sequence(0, 63),"
            f" i -> (m{w} & shiftleft(1L, i)) != 0),"
            f" i -> i + {w * 64})"
            for w in range(n_words)
        ) + ")"
    )
    # per-source sizes: one row per set bit
    sizes = (
        mask_counts.select(F.explode(bits).alias("idx"), "n_sids")
        .groupBy("idx")
        .agg(F.sum("n_sids").cast("bigint").alias("sz"))
        .join(F.broadcast(src_idx), "idx")
        .select("source", "sz")
    )
    # per-pair commons: one row per set-bit PAIR (i < j)
    pair_arr = F.expr(
        "flatten(transform(bits_arr, (x, xi) -> "
        "transform(slice(bits_arr, xi + 2, size(bits_arr)), "
        "y -> struct(x AS ia, y AS ib))))"
    )
    common = (
        mask_counts.select(bits.alias("bits_arr"), "n_sids")
        .select(F.explode(pair_arr).alias("p"), "n_sids")
        .groupBy(F.col("p.ia").alias("ia"), F.col("p.ib").alias("ib"))
        .agg(F.sum("n_sids").cast("bigint").alias("n_common"))
    )
    ia_name = src_idx.select(
        F.col("idx").alias("ia"), F.col("source").alias("source_a")
    )
    ib_name = src_idx.select(
        F.col("idx").alias("ib"), F.col("source").alias("source_b")
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("sz").alias("sz_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("sz").alias("sz_b")
    )
    return (
        common.join(F.broadcast(ia_name), ["ia"])
        .join(F.broadcast(ib_name), ["ib"])
        .join(F.broadcast(sa), ["source_a"])
        .join(F.broadcast(sb), ["source_b"])
        .select(
            "source_a",
            "source_b",
            "n_common",
            "sz_a",
            "sz_b",
            (
                F.col("n_common").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
            ).alias("jaccard"),
            (
                F.col("n_common").cast("double")
                / F.least("sz_a", "sz_b")
            ).alias("containment"),
        )
    )
