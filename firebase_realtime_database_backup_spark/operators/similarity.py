"""Similarity search over embedding columns (`array<float>`, dim 64).

Four tiers (plus the IVF / multi-table / incremental / PQ variants
further down):

1. `sim_cosine_topk`  — exact brute-force cosine top-k: broadcast the
   (small) query set against the full corpus scan; per-query top-k via
   window.  The O(corpus x queries) baseline — map-only over the corpus,
   no corpus shuffle, so it scales to 100 TB of vectors provided the
   query set stays broadcast-sized.
2. `sim_lsh_buckets`  — deterministic random-hyperplane LSH: 8 signs →
   8-bit bucket id per vector.  Map-only; the bucket id becomes the
   partition/join key for ANN.
3. `sim_ann_lsh`      — ANN top-k: join queries to candidates on bucket
   equality, exact cosine only within buckets.  Replaces the all-pairs
   space with an equi join (same move as dedup's banded MinHash).
4. `sim_pq_topk`      — product-quantization ANN: vectors stored as
   8 subspace codes (~100x index compression), ADC table-lookup
   shortlist, exact re-rank.  The MEMORY axis of billion-vector
   search, complementing the candidate-pruning tiers above.

Everything is computed in float64 with identical left-to-right fold
order in Spark (`zip_with` + `aggregate`) and DuckDB
(`list_dot_product` over `DOUBLE[]`), which makes cosine scores
bit-identical across engines — verified — so even the top-k cut is
deterministic and oracle-checkable with no rounding at all.

The hyperplanes are a deterministic LCG keyed by (plane, dim):
v[p][d] = ((1103515245*(p*64+d) + 12345) mod 2^31)/2^31 - 0.5 —
reproducible integer arithmetic in both engines, no RNG state.

pyspark.ml's BucketedRandomProjectionLSH is the packaged alternative;
it is registered rows-only (`sim_brp_lsh_ml`) since its internal RNG
isn't SQL-reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from firebase_realtime_database_backup_spark.catalog import (
    read_parquet,
    read_table,
    spread,
)
from firebase_realtime_database_backup_spark.memo import session_memo
from firebase_realtime_database_backup_spark.registry import Registry
from firebase_realtime_database_backup_spark.scratch import (
    is_published,
    publish_table,
)

REG = Registry()

DIM = 64
N_PLANES = 8
N_QUERIES = 5  # queries = vec_id < 5
TOP_K = 5

#: SQL expression for the deterministic hyperplane p as a DOUBLE[] list
#: (1-based d to match DuckDB list indexing; Spark uses the same d).
def _plane_sql(p: str) -> str:
    return (
        f"[(( (1103515245 * (({p}) * {DIM} + d) + 12345) % 2147483648) "
        f"/ 2147483648.0 - 0.5) FOR d IN RANGE(1, {DIM + 1})]"
    )


_DOT = "LIST_DOT_PRODUCT(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


def _dot(a, b) -> "F.Column":
    """Left-to-right fold dot product in float64 (matches DuckDB's
    list_dot_product exactly)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _plane_values(p: int) -> list[float]:
    """Hyperplane p as Python floats — the LCG is pure integer math and
    the /2^31 - 0.5 is exact IEEE-754, so these equal the engine-side
    computed values bit-for-bit."""
    return [
        ((1103515245 * (p * DIM + d) + 12345) % 2147483648) / 2147483648.0 - 0.5
        for d in range(1, DIM + 1)
    ]


def bucket_column(emb_col, n_planes: int) -> "F.Column":
    """LSH bucket id as PURE column arithmetic: the planes are
    deterministic constants, so each sign bit is a dot against a literal
    array — map-side only, no plane crossJoin, no groupBy, nothing
    shuffled.  This is the form that runs inside the 100 TB scan."""
    bits = [
        F.when(
            _dot(F.array(*[F.lit(v) for v in _plane_values(p)]), emb_col) >= 0,
            F.lit(1 << p).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for p in range(n_planes)
    ]
    return sum(bits[1:], bits[0]).cast("bigint")


def _cosine(a, b) -> "F.Column":
    return F.try_divide(_dot(a, b), F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _norm(a) -> "F.Column":
    """sqrt(dot(a, a)) — precompute ONCE per vector before a pair join.
    cosine = dot(a,b)/(norm_a*norm_b) then costs one fold per pair
    instead of three; the doubles are bit-identical to the inline form
    (same fold, same order), so oracle hashes are unaffected."""
    return F.sqrt(_dot(a, a))


@REG.query(
    "sim_cosine_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (
      SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings
    ),
    scored AS (
      SELECT q.q_id, c.c_id,
             {_DOT.format(a="q.qe", b="c.ce")}
               / (SQRT({_DOT.format(a="q.qe", b="q.qe")})
                  * SQRT({_DOT.format(a="c.ce", b="c.ce")})) AS cosine
      FROM q, c
      WHERE q.q_id <> c.c_id
    )
    SELECT q_id, c_id, cosine, CAST(rk AS INT) AS rk FROM (
      SELECT q_id, c_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, c_id) AS rk
      FROM scored
    ) WHERE rk <= {TOP_K}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k (tier 1; see module docstring).
    The corpus side is a straight scan — broadcast(queries) keeps it
    shuffle-free until the tiny per-query top-k window."""
    emb = read_table(spark, sf_dir, "embeddings")
    scored = _score_against_queries(_query_side(emb), emb)
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("c_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "c_id", "cosine", "rk")
    )


def _query_side(emb: DataFrame) -> DataFrame:
    """(q_id, qe, qn): the fixed query set with precomputed norms —
    shared by the exact top-k and its incremental-maintenance twin so
    the scored expression (and with it the oracle hash) is defined
    once."""
    return (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").cast("array<double>").alias("qe"),
        )
        .withColumn("qn", _norm(F.col("qe")))
    )


def _score_against_queries(q: DataFrame, side: DataFrame) -> DataFrame:
    """(q_id, c_id, cosine) for every (query, corpus-row) pair: the
    corpus side scans map-side with the query set broadcast."""
    c = side.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").cast("array<double>").alias("ce"),
    ).withColumn("cn", _norm(F.col("ce")))
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.try_divide(
                _dot(F.col("qe"), F.col("ce")), F.col("qn") * F.col("cn")
            ).alias("cosine"),
        )
    )


@REG.query(
    "sim_lsh_buckets",
    oracle=f"""
    WITH planes AS (
      SELECT p, {_plane_sql("p")} AS v
      FROM (SELECT UNNEST(RANGE(0, {N_PLANES})) AS p)
    ),
    signs AS (
      SELECT e.vec_id, pl.p,
             CASE WHEN {_DOT.format(a="pl.v", b="e.embedding")} >= 0
                  THEN CAST(POWER(2, pl.p) AS BIGINT) ELSE 0 END AS bit
      FROM embeddings e, planes pl
    )
    SELECT vec_id, CAST(SUM(bit) AS BIGINT) AS bucket
    FROM signs GROUP BY vec_id
    """,
    headline=False,
)
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (tier 2): 8 dot-product
    signs packed into an 8-bit bucket.  Pure map + one per-vector agg —
    at 100 TB this runs in the scan with no shuffle of vector data."""
    emb = read_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        bucket_column(F.col("embedding").cast("array<double>"), N_PLANES).alias(
            "bucket"
        ),
    )


@REG.query(
    "sim_ann_lsh",
    oracle=f"""
    WITH planes AS (
      SELECT p, {_plane_sql("p")} AS v
      FROM (SELECT UNNEST(RANGE(0, {N_PLANES})) AS p)
    ),
    buckets AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb,
             CAST(SUM(CASE WHEN {_DOT.format(a="pl.v", b="e.embedding")} >= 0
                           THEN CAST(POWER(2, pl.p) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS bucket
      FROM embeddings e, planes pl
      GROUP BY e.vec_id, CAST(e.embedding AS DOUBLE[])
    ),
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.bucket,
             {_DOT.format(a="q.emb", b="c.emb")}
               / (SQRT({_DOT.format(a="q.emb", b="q.emb")})
                  * SQRT({_DOT.format(a="c.emb", b="c.emb")})) AS cosine
      FROM buckets q JOIN buckets c
        ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    )
    SELECT q_id, c_id, bucket, cosine, CAST(rk AS INT) AS rk FROM (
      SELECT q_id, c_id, bucket, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, c_id) AS rk
      FROM scored
    ) WHERE rk <= {TOP_K}
    """,
    headline=False,
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via LSH buckets (tier 3): exact cosine evaluated only
    for candidates sharing the query's bucket — the all-pairs space
    becomes an equi join on bucket id.  Recall < 1 by construction
    (vectors in other buckets are invisible); with 8 AND-ed sign bits
    and weakly-clustered data recall collapses toward 0 — measured ~0
    on this corpus — which is the classic single-table LSH failure.
    sim_ann_multitable is the production fix (OR over 8 independent
    4-bit tables); this operator stays as the single-table baseline."""
    buckets = sim_lsh_buckets(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    be = buckets.join(emb, "vec_id").withColumn("nrm", _norm(F.col("emb")))
    q = be.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("bucket"), F.col("emb").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    c = be.select(
        F.col("vec_id").alias("c_id"), F.col("bucket").alias("c_bucket"),
        F.col("emb").alias("ce"), F.col("nrm").alias("cn"),
    )
    scored = (
        q.join(c, (F.col("bucket") == F.col("c_bucket")) & (F.col("q_id") != F.col("c_id")))
        .select(
            "q_id",
            "c_id",
            "bucket",
            F.try_divide(_dot(F.col("qe"), F.col("ce")), F.col("qn") * F.col("cn")).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("c_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "c_id", "bucket", "cosine", "rk")
    )


@REG.query("sim_brp_lsh_ml", headline=False)  # rows-only: ml RNG not SQL-reproducible
def sim_brp_lsh_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packaged alternative: pyspark.ml BucketedRandomProjectionLSH
    approx nearest neighbors (Euclidean buckets).  Seeded/deterministic
    inside Spark; rows-only check."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    # Corpus pairwise L2 is ~N(1.4, ..) with min ~1.02 (unit-ish random
    # vectors): threshold at the ~0.1st percentile keeps the join output
    # a sparse near-neighbor set — a loose threshold here degenerates to
    # an all-pairs materialization, the exact failure ANN exists to
    # avoid.  bucketLength ~ threshold/2 keeps buckets discriminative.
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5,
        numHashTables=4, seed=42,
    )
    model = lsh.fit(emb)
    pairs = model.approxSimilarityJoin(emb, emb, 1.15, distCol="dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            F.col("dist"),
        )
    )


N_CENTROIDS = 16
N_PROBE = 2

def _nearest_cells(emb_col, ee_col, cents: list) -> "F.Column":
    """Cells sorted by (d2, cid) as an array of structs — PURE column
    math against the LITERAL centroid list: d2 = (ee - 2*dot(e, c)) +
    cc with the same fold and the same arithmetic order as the window
    form it replaced, so the doubles (and the tie order) are
    bit-identical; array_sort on struct(d2, cid) is lexicographic,
    exactly ORDER BY d2, cid."""
    entries = [
        F.struct(
            (
                ee_col
                - 2 * _dot(F.array(*[F.lit(v) for v in ce]), emb_col)
                + F.lit(cc)
            ).alias("d2"),
            F.lit(cid).cast("bigint").alias("cid"),
        )
        for cid, ce, cc in cents
    ]
    return F.array_sort(F.array(*entries))



@REG.query(
    "sim_ivf_topk",
    prod_twin="sim_ivfpq_persisted",  # flat IVF re-scores raw vectors
    # in probed cells with the interpreted oracle-exact fold (48 s at
    # 2M vectors, CPU-bound in the HOF dot); the persisted IVF x PQ
    # index probes Arrow-encoded codes off a cell-partitioned table —
    # the production route at the decade where the index must persist
    oracle=f"""
    WITH cents AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
      FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    assign AS (
      SELECT vec_id, emb, cid, rn FROM (
        SELECT v.vec_id, v.emb, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_DOT.format(a="v.emb", b="v.emb")}
                          - 2*{_DOT.format(a="v.emb", b="c.ce")}
                          + {_DOT.format(a="c.ce", b="c.ce")}, c.cid) AS rn
        FROM vecs v, cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS q_id, emb AS qe, cid FROM (
        SELECT v.vec_id, v.emb, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {_DOT.format(a="v.emb", b="v.emb")}
                          - 2*{_DOT.format(a="v.emb", b="c.ce")}
                          + {_DOT.format(a="c.ce", b="c.ce")}, c.cid) AS rn
        FROM vecs v, cents c
        WHERE v.vec_id < {N_QUERIES}
      ) WHERE rn <= {N_PROBE}
    ),
    scored AS (
      SELECT p.q_id, a.vec_id AS c_id,
             {_DOT.format(a="p.qe", b="a.emb")}
               / (SQRT({_DOT.format(a="p.qe", b="p.qe")})
                  * SQRT({_DOT.format(a="a.emb", b="a.emb")})) AS cosine
      FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.q_id
    )
    SELECT q_id, c_id, cosine, CAST(rk AS INT) AS rk FROM (
      SELECT q_id, c_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, c_id) AS rk
      FROM scored
    ) WHERE rk <= {TOP_K}
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN top-k: a deterministic coarse quantizer (centroids
    = the first N_CENTROIDS vectors, standing in for trained k-means)
    assigns every vector to its nearest cell; queries probe their
    N_PROBE nearest cells and run exact cosine only within them.

    Scale shape — round 8 rewrite: the original form ranked the
    corpus × centroids cross join through a row_number window, which
    SHUFFLES corpus×K rows carrying the full embedding payload (~20 GB
    at the 2M-vector decade — measured >9 min, the round-8 1000×
    cliff).  But the centroid table is BOUNDED by construction (it is
    the whole point of a coarse quantizer), so assignment belongs at
    SCAN SPEED: fetch the K centroids to the driver (the bounded
    panel-fetch pattern kmeans/MMR already use), inline them as
    literal arrays, and pick each vector's cell with per-row column
    math (array_sort over the K (d2, cid) structs — bit-identical
    d2 arithmetic and tie order to the window form).  Assignment now
    costs ZERO shuffle — the only remaining exchanges are the ≤
    (queries × N_PROBE)-row probe broadcast and the per-query top-k
    window over probed cells.  cc (centroid self-dot) rides the
    literal, computed driver-side from the same fold order.

    Swap the first-N centroid stand-in for KMeans.fit centers at
    deployment; the dataflow is identical."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn("ee", _dot(F.col("emb"), F.col("emb")))
    # bounded panel fetch: K centroid rows (vec_id < N_CENTROIDS is a
    # pushed-down scan predicate), never corpus-sized
    cent_rows = (
        emb.filter(F.col("vec_id") < N_CENTROIDS)
        .select("vec_id", "emb", "ee")
        .collect()
    )

    def _fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    cents = [(r.vec_id, list(r.emb), _fold_dot(r.emb, r.emb)) for r in cent_rows]
    if not cents:
        return spark.createDataFrame(
            [], "q_id bigint, c_id bigint, cosine double, rk int"
        )
    sorted_cells = _nearest_cells(F.col("emb"), F.col("ee"), cents)
    assign = emb.select(
        "vec_id",
        "emb",
        F.sqrt("ee").alias("cn"),
        sorted_cells[0]["cid"].alias("cid"),
    )
    probes = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("emb").alias("qe"),
            F.sqrt("ee").alias("qn"),
            F.posexplode(
                F.slice(sorted_cells, 1, N_PROBE)
            ).alias("pos", "cell"),
        )
        .select("q_id", "qe", "qn", F.col("cell")["cid"].alias("cid"))
    )
    scored = (
        F.broadcast(probes)
        .join(assign, "cid")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("c_id"),
            F.try_divide(
                _dot(F.col("qe"), F.col("emb")), F.col("qn") * F.col("cn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("c_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "c_id", "cosine", "rk")
    )


def _centroid_oracle() -> str:
    from firebase_realtime_database_backup_spark.operators.relational import oround

    return f"""
    SELECT label, r.dim AS dim,
           {oround("AVG(CAST(embedding[r.dim + 1] AS DOUBLE))", 6)} AS centroid,
           COUNT(*) AS n_vectors
    FROM embeddings, (SELECT UNNEST(RANGE(0, {DIM})) AS dim) r
    GROUP BY label, r.dim
    """


@REG.query("sim_label_centroids", oracle=_centroid_oracle())
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors — the k-means/IVF "train" step (one
    Lloyd update with labels as fixed assignments) as a first-class
    distributed op.  posexplode fans each vector into (label, dim, v)
    rows; the groupBy(label, dim) average partial-aggregates map-side,
    so the shuffle moves exactly n_labels x dim partial sums per task —
    independent of corpus size, the shape that survives 100 TB.  Output
    stays at (label, dim) grain: downstream consumers (sim_ivf_topk's
    assignment join) re-broadcast it, and the row grain is what the
    byte-exact oracle compare wants (array rebuild is a collect_list
    away)."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    return emb.groupBy("label", "dim").agg(
        F.round(F.avg("v"), 6).alias("centroid"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


@REG.query(
    "sim_vector_quantize",
    oracle=f"""
    SELECT vec_id, r.dim AS dim,
           CAST(FLOOR(
             CAST(embedding[r.dim + 1] AS DOUBLE)
             / SQRT({_DOT.format(a="embedding", b="embedding")})
             * 127 + 0.5) AS INT) AS q8
    FROM embeddings, (SELECT UNNEST(RANGE(0, {DIM})) AS dim) r
    """,
)
def sim_vector_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize + symmetric int8 quantization (q = round(127·v/‖v‖))
    — the standard ANN memory move: 64 float32 (256 B) → 64 int8 (64 B),
    4x more vectors per executor and per shuffle block, with cosine
    preserved to ~1e-2.  Map-only column math over the corpus scan (the
    norm folds once per vector BEFORE the posexplode fan-out), so at
    100 TB it runs at scan speed with zero shuffle.  round-half-up is
    spelled floor(x + 0.5) in BOTH engines — identical on negatives —
    and the norm reuses the bit-exact left-to-right fold, so the int8
    codes are engine-identical with no tolerance.  Output at (vec_id,
    dim) grain for the byte-exact compare; array rebuild is a
    collect_list away."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    emb = emb.select("vec_id", "e", _norm(F.col("e")).alias("nrm"))
    return emb.select(
        "vec_id",
        F.posexplode("e").alias("dim", "v"),
        "nrm",
    ).select(
        "vec_id",
        "dim",
        F.floor(F.try_divide(F.col("v"), F.col("nrm")) * 127 + 0.5)
        .cast("int")
        .alias("q8"),
    )


N_TABLES = 8  # OR-amplification: a pair is a candidate if ANY table agrees
TABLE_BITS = 4  # AND-amplification within a table: all 4 signs must match


def _table_bucket(emb_col, t: int) -> "F.Column":
    """4-bit bucket id for LSH table t (planes 4t..4t+3) — literal-plane
    column math like bucket_column, map-side only."""
    bits = [
        F.when(
            _dot(
                F.array(*[F.lit(v) for v in _plane_values(t * TABLE_BITS + b)]),
                emb_col,
            )
            >= 0,
            F.lit(1 << b).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for b in range(TABLE_BITS)
    ]
    return sum(bits[1:], bits[0]).cast("bigint")


@REG.query(
    "sim_ann_multitable",
    oracle=f"""
    WITH buckets AS (
      SELECT e.vec_id, t.t,
             CAST(SUM(CASE WHEN {_DOT.format(a=_plane_sql("t.t * 4 + b.b"), b="e.embedding")} >= 0
                           THEN CAST(POWER(2, b.b) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS bucket
      FROM embeddings e,
           (SELECT UNNEST(RANGE(0, {N_TABLES})) AS t) t,
           (SELECT UNNEST(RANGE(0, {TABLE_BITS})) AS b) b
      GROUP BY e.vec_id, t.t
    ),
    pairs AS (
      SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
      FROM buckets q
      JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
                    AND q.vec_id <> c.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT p.q_id, p.c_id,
             {_DOT.format(a="eq.embedding", b="ec.embedding")}
               / (SQRT({_DOT.format(a="eq.embedding", b="eq.embedding")})
                  * SQRT({_DOT.format(a="ec.embedding", b="ec.embedding")})) AS cosine
      FROM pairs p
      JOIN embeddings eq ON eq.vec_id = p.q_id
      JOIN embeddings ec ON ec.vec_id = p.c_id
    )
    SELECT q_id, c_id, cosine, CAST(rk AS INT) AS rk FROM (
      SELECT q_id, c_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, c_id) AS rk
      FROM scored
    ) WHERE rk <= {TOP_K}
    """,
)
def sim_ann_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN — the OR-of-ANDs construction production ANN
    uses: 8 independent 4-bit tables; a candidate needs ALL 4 sign bits
    equal in ANY one table.  Fixes single-table LSH's vanishing recall
    on weakly-clustered data (sim_ann_lsh's 8-AND-bits catch almost
    nothing at mean neighbor cosine ~0.33; this config measures ~50%
    recall scoring ~35% of the pair space — test_ann_recall pins it).

    Dataflow: bucket ids for all 8 tables are literal-plane column math
    in the scan, fanned out by posexplode to (vec_id, tab, bucket);
    candidates come from an equi join on (tab, bucket); pairs are
    DEDUPED ON IDS ONLY (never shuffling vectors through the distinct),
    then re-joined to the broadcast query vectors and the corpus for
    one cosine per surviving pair."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # The bucket table is referenced from BOTH join sides (query probe
    # + corpus index) and Spark shares no subplans: without the eager
    # materialization each side re-evaluated the 32 literal-plane dot
    # products per vector (the dominant map-side cost).  Materialized
    # it is 3 ints x 8 rows per vector — exactly the index table a
    # production multi-table LSH persists.
    tb = emb.select(
        "vec_id",
        F.posexplode(
            F.array(*[_table_bucket(F.col("emb"), t) for t in range(N_TABLES)])
        ).alias("tab", "bucket"),
    ).localCheckpoint(eager=True)
    q = tb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "tab", "bucket"
    )
    c = tb.select(
        F.col("vec_id").alias("c_id"),
        F.col("tab").alias("c_tab"),
        F.col("bucket").alias("c_bucket"),
    )
    pairs = (
        q.join(
            c,
            (F.col("tab") == F.col("c_tab"))
            & (F.col("bucket") == F.col("c_bucket"))
            & (F.col("q_id") != F.col("c_id")),
        )
        .select("q_id", "c_id")
        .distinct()
    )
    qe = emb.select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("qe"),
        _norm(F.col("emb")).alias("qn"),
    ).filter(F.col("q_id") < N_QUERIES)
    ce = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("emb").alias("ce"),
        _norm(F.col("emb")).alias("cn"),
    )
    scored = (
        pairs.join(F.broadcast(qe), "q_id")
        .join(ce, "c_id")
        .select(
            "q_id",
            "c_id",
            F.try_divide(_dot(F.col("qe"), F.col("ce")), F.col("qn") * F.col("cn")).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("c_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "c_id", "cosine", "rk")
    )


@REG.query(
    "sim_dim_stats",
    oracle="""
    SELECT dim,
           COUNT(*) AS n_vecs,
           CAST(ROUND(SUM(CAST(CAST(CAST(v AS DOUBLE) AS VARCHAR)
                              AS DECIMAL(38,25))), 6) AS DOUBLE) AS sum_v,
           CAST(ROUND(SUM(CAST(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)
                              AS VARCHAR) AS DECIMAL(38,25))), 6) AS DOUBLE)
             AS sum_sq,
           CAST(MIN(CAST(v AS DOUBLE)) AS DOUBLE) AS min_v,
           CAST(MAX(CAST(v AS DOUBLE)) AS DOUBLE) AS max_v
    FROM (
      SELECT UNNEST(GENERATE_SERIES(0, LEN(embedding) - 1)) AS dim,
             UNNEST(embedding) AS v
      FROM embeddings
    )
    GROUP BY dim
    """,
)
def sim_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (the monitoring op that
    catches dead/collapsed/exploding dimensions before they poison ANN
    recall): posexplode to (dim, value) grain — one (dim)-key shuffle
    whose reduce side is |dims| rows regardless of corpus size — then
    n/sum/sum-of-squares/min/max per dimension.  Mean and variance
    derive from (sum, sum_sq, n) downstream.

    Sums accumulate in exact DECIMAL (per-element double value via its
    shortest decimal repr, the flagship_revenue_bucketed technique) so
    the result is partitioning-order-invariant and matches DuckDB
    digit-for-digit — a float SUM here would flip last digits with
    every repartition."""
    emb = read_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    dec = lambda c: c.cast("decimal(38,25)")  # noqa: E731
    return exploded.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum(dec(F.col("v"))), 6).cast("double").alias("sum_v"),
        F.round(F.sum(dec(F.col("v") * F.col("v"))), 6).cast("double").alias(
            "sum_sq"
        ),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


@REG.query(
    "sim_topk_incremental",
    # the oracle is the NON-incremental ground truth: exact top-k over
    # the full (base ∪ batch) corpus — what the incremental merge must
    # reproduce
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (
      SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings
    ),
    scored AS (
      SELECT q.q_id, c.c_id,
             {_DOT.format(a="q.qe", b="c.ce")}
               / (SQRT({_DOT.format(a="q.qe", b="q.qe")})
                  * SQRT({_DOT.format(a="c.ce", b="c.ce")})) AS cosine
      FROM q, c
      WHERE q.q_id <> c.c_id
    )
    SELECT q_id, c_id, cosine, CAST(rk AS INT) AS rk FROM (
      SELECT q_id, c_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cosine DESC, c_id) AS rk
      FROM scored
    ) WHERE rk <= {TOP_K}
    """,
)
def sim_topk_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance (the continuously-adaptive /
    interactive-session pattern from the similarity-search literature):
    a standing per-query top-k index over the BASE corpus is merged
    with fresh scores for only the NEW batch (vec_id % 10 == 0, the
    same daily-arrival convention as dedup_cross_corpus), then
    re-ranked — the day's work is O(batch × queries) plus a K-row
    merge, never a rescan of the standing corpus.

    Correct because top-k is a mergeable summary: full-corpus top-k ==
    top-k of (base top-k ∪ batch scores) — the oracle checks exactly
    that equivalence against a flat full-corpus scan, which is the
    judge of incremental-view correctness at any scale.  Plan: the
    standing index side enters the final window as K rows per query
    (not |base| rows); the batch side is a broadcast-queries map-side
    score of the arrivals only."""
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings")
    q = _query_side(emb)
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("c_id"))
    base_topk = (
        _score_against_queries(q, emb.filter(F.col("vec_id") % 10 != 0))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .drop("rk")
    )
    merged = base_topk.unionByName(
        _score_against_queries(q, emb.filter(F.col("vec_id") % 10 == 0))
    )
    return (
        merged.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "c_id", "cosine", "rk")
    )


# ---- tier 4: product quantization (code-compressed ANN) ----------------

PQ_M = 8                     # subspaces (DIM/PQ_M dims each)
PQ_DSUB = DIM // PQ_M
PQ_K = 32                    # codes per subspace (5-bit codes)
PQ_ITERS = 3                 # deterministic per-subspace Lloyd's rounds
PQ_TRAIN = 512               # codebook training set: PQ_TRAIN smallest vec_ids
PQ_SHORTLIST = 16            # ADC shortlist factor x TOP_K before re-rank


def _np_l2_normalize(X):
    """Row-normalize, zero rows preserved as zero (shared by the PQ tiers)."""
    import numpy as np

    n = np.linalg.norm(X, axis=1)
    safe = np.where(n == 0, 1.0, n)
    return np.where(n[:, None] > 0, X / safe[:, None], 0.0)


def _train_pq_codebooks(Xt):
    """PQ_M independent deterministic Lloyd's k-means over the subspaces
    of the (already normalized / residualized) training rows Xt.

    Smallest-id inits, lowest-index tie-breaks; a training set smaller
    than PQ_K is padded by tiling (duplicate centroids become degenerate
    never-winning cells instead of an IndexError)."""
    import numpy as np

    if len(Xt) < PQ_K:
        Xt = np.tile(Xt, (-(-PQ_K // len(Xt)), 1))[:PQ_K]
    codebooks = np.empty((PQ_M, PQ_K, PQ_DSUB))
    for m in range(PQ_M):
        sub = Xt[:, m * PQ_DSUB : (m + 1) * PQ_DSUB]
        C = sub[:PQ_K].copy()
        for _ in range(PQ_ITERS):
            d2 = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            C = np.array(
                [
                    sub[a == j].mean(axis=0) if (a == j).any() else C[j]
                    for j in range(PQ_K)
                ]
            )
        codebooks[m] = C
    return codebooks


def _np_encode_subspaces(X, codebooks):
    """(N, PQ_M) argmin code matrix for rows X against the codebooks."""
    import numpy as np

    sub = X.reshape(len(X), PQ_M, PQ_DSUB)
    codes = np.empty((len(X), PQ_M), dtype=np.int64)
    for m in range(PQ_M):
        d2 = ((sub[:, m, None, :] - codebooks[m][None, :, :]) ** 2).sum(axis=2)
        codes[:, m] = d2.argmin(axis=1)
    return codes


@REG.query(  # rows-only: float k-means codebooks aren't SQL-portable
    "sim_pq_topk",
    prod_twin="sim_ivfpq_topk",  # fixed shortlist + flat ADC: recall
    # decays with corpus size (0.80 -> 0.20 at sf0.1 -> 20x); the
    # IVF x PQ twin (residual codes + sqrt(N) shortlist) is the scale path
)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the Jégou et al. 2011 ADC family) —
    the MEMORY side of billion-vector search that the LSH/IVF tiers
    don't address: each normalized vector is stored as PQ_M=8 5-bit
    codes (5 B packed) instead of 64 float64 dims (512 bytes), a ~100x
    index compression, and queries scan codes, not vectors.

    Stages (all deterministic; smallest-id inits, lowest-index
    tie-breaks, per-subspace Lloyd's — the SemDeDup conventions):

    1. TRAIN (driver, bounded): codebooks are PQ_M independent k-means
       over the PQ_TRAIN smallest-id vectors' subspaces — an
       (M·K·DSUB)-double broadcast state (8 KB), trained once; at
       100 TB this trains on a fixed sample and is persisted with the
       index.
    2. ENCODE (map-only Arrow kernel): one argmin matmul per subspace
       per batch → the (vec_id, c0..c7) code table — the stored index.
    3. ADC SHORTLIST (map-only over codes): each query precomputes a
       (M x K) inner-product table against the codebooks (broadcast;
       Q·M·K doubles), so a candidate's approximate cosine is 8 table
       lookups + a sum — no vector math on the scan side.  Each Arrow
       batch keeps only its local top-(PQ_SHORTLIST·TOP_K) per query
       (local-topk-then-merge: output is bounded by
       partitions·Q·shortlist, and the global shortlist equals the
       true ADC top because every global winner is a batch winner).
    4. EXACT RE-RANK: the tiny shortlist joins back to the real
       vectors (broadcast of the shortlist ids into the scan) and the
       final TOP_K uses the exact shared cosine expression — so every
       emitted score is exact; PQ only decided WHO got scored.

    Recall is pinned in tests/test_plans.py alongside the other ANN
    tiers (same exact-top-k ground truth).  Rows-only registration:
    the codebooks are float k-means, not SQL-portable."""
    import numpy as np
    import pandas as pd

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    train_rows = emb.orderBy("vec_id").limit(PQ_TRAIN).collect()
    if not train_rows:
        return spark.createDataFrame(
            [], "q_id long, c_id long, cosine double, rk int"
        )

    Xt = _np_l2_normalize(np.array([r.emb for r in train_rows], dtype=np.float64))
    codebooks = _train_pq_codebooks(Xt)

    q_rows = emb.filter(F.col("vec_id") < N_QUERIES).collect()
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    Qn = _np_l2_normalize(np.array([r.emb for r in q_rows], dtype=np.float64))
    # ADC tables: adc[q, m, k] = <q_sub_m, codebook[m, k]>
    adc = np.einsum(
        "qmd,mkd->qmk", Qn.reshape(len(Qn), PQ_M, PQ_DSUB), codebooks
    )
    keep = PQ_SHORTLIST * TOP_K

    code_schema = "vec_id long, " + ", ".join(f"c{m} long" for m in range(PQ_M))

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue  # np.stack([]) raises on zero-row Arrow batches
            X = _np_l2_normalize(np.stack(pdf["emb"].values).astype(np.float64))
            codes = _np_encode_subspaces(X, codebooks)
            out = {"vec_id": pdf["vec_id"].values}
            for m in range(PQ_M):
                out[f"c{m}"] = codes[:, m]
            yield pd.DataFrame(out)

    def adc_shortlist(batches):
        for pdf in batches:
            if pdf.empty:
                continue  # np.stack([]) raises on zero-row Arrow batches
            ids = pdf["vec_id"].values
            codes = np.stack([pdf[f"c{m}"].values for m in range(PQ_M)], axis=1)
            # approx[q, row] = sum_m adc[q, m, codes[row, m]]
            approx = adc[:, np.arange(PQ_M)[None, :], codes].sum(axis=2)
            rows = []
            for qi, qid in enumerate(q_ids):
                s = approx[qi].copy()
                s[ids == qid] = -np.inf  # never shortlist self
                # Tie-break by (-approx, c_id) — the SAME order the
                # global shortlist window uses — so equal approx scores
                # straddling the local keep boundary resolve identically
                # regardless of partition/batch layout (determinism).
                top = np.lexsort((ids, -s))[:keep]
                top = top[np.isfinite(s[top])]  # masked self rows must
                # not survive a keep >= batch-size cut (tiny corpora)
                rows.append(
                    pd.DataFrame(
                        {"q_id": qid, "c_id": ids[top], "approx": s[top]}
                    )
                )
            yield pd.concat(rows, ignore_index=True)

    codes = emb.mapInPandas(encode, code_schema)
    local_top = codes.mapInPandas(adc_shortlist, "q_id long, c_id long, approx double")
    w_s = Window.partitionBy("q_id").orderBy(F.desc("approx"), F.col("c_id"))
    shortlist = (
        local_top.withColumn("srk", F.row_number().over(w_s))
        .filter(F.col("srk") <= keep)
        .select("q_id", "c_id")
    )

    raw = read_table(spark, sf_dir, "embeddings")
    q = _query_side(raw)
    c = raw.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").cast("array<double>").alias("ce"),
    ).withColumn("cn", _norm(F.col("ce")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("c_id"))
    return (
        c.join(F.broadcast(shortlist), "c_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            "c_id",
            F.try_divide(
                _dot(F.col("qe"), F.col("ce")), F.col("qn") * F.col("cn")
            ).alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "c_id", "cosine", "rk")
    )


# ---- tier 5: IVF x PQ (inverted file over residual PQ codes) -----------

IVFPQ_CELLS = N_CENTROIDS    # coarse cells (first-N deterministic centroids)
IVFPQ_PROBE = 4              # cells probed per query (of IVFPQ_CELLS)


def _ivfpq_coarse(spark: SparkSession, sf_dir: str):
    """(centroids, emb) for the IVF-PQ tiers: the deterministic coarse
    quantizer — L2-normalized first-IVFPQ_CELLS vectors — plus the raw
    embedding scan.  Centroids are an (IVFPQ_CELLS x DIM) numpy array,
    bounded driver state (8 KB), standing in for trained k-means
    centers exactly as in sim_ivf_topk."""
    import numpy as np

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    cent_rows = emb.orderBy("vec_id").limit(IVFPQ_CELLS).collect()
    if not cent_rows:
        return None, emb
    cents = _np_l2_normalize(
        np.array([r.emb for r in cent_rows], dtype=np.float64)
    )
    return cents, emb


def _np_assign_cells(Xn, cents):
    """argmin-L2 cell per normalized row; lowest cell id wins ties
    (np.argmin is first-index on ties, cells are ordered by id).

    Both sides are unit-norm, so ||x-c||^2 = 2 - 2<x,c> — one (N x D)
    @ (D x C) matmul instead of the (N x C x D) broadcast expansion
    (~D x less memory traffic in the per-batch encode hot path)."""
    d2 = 2.0 - 2.0 * (Xn @ cents.T)
    return d2.argmin(axis=1), d2


def ivfpq_cell_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cell) coarse assignment table — exposed so tests can
    measure cell occupancy / fraction-of-corpus-probed without
    re-deriving the quantizer."""
    import pandas as pd

    cents, emb = _ivfpq_coarse(spark, sf_dir)
    if cents is None:
        return spark.createDataFrame([], "vec_id long, cell long")

    def assign(batches):
        import numpy as np

        for pdf in batches:
            if pdf.empty:
                continue  # np.stack([]) raises on zero-row Arrow batches
            Xn = _np_l2_normalize(np.stack(pdf["emb"].values).astype(np.float64))
            cell, _ = _np_assign_cells(Xn, cents)
            yield pd.DataFrame({"vec_id": pdf["vec_id"].values, "cell": cell})

    return emb.mapInPandas(assign, "vec_id long, cell long")


@REG.query("sim_ivfpq_topk")  # rows-only: float k-means codebooks aren't SQL-portable
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x PQ — the production billion-vector ANN layout (FAISS
    IVFADC; Jégou et al. 2011 §IV): a coarse inverted file prunes WHERE
    to look, PQ codes on the RESIDUAL (x - centroid) compress what is
    scanned.  Composes the two existing tiers: sim_ivf_topk's coarse
    cell machinery and sim_pq_topk's codebook trainer / ADC scan.

    Why residuals: within a cell, vectors share the centroid, so the
    residual distribution is tighter than the raw corpus — the same
    PQ_K codes quantize it with less error, which is why this composite
    beats the flat PQ's recall (measured: flat 0.80 at sf0.1, drifting
    down with corpus size; composed form holds at/above it while
    scanning only ~IVFPQ_PROBE/IVFPQ_CELLS of the code table — floors
    pinned in tests/test_plans.py).

    Stages (all deterministic — smallest-id coarse centroids, lowest
    cell id / lowest c_id tie-breaks):

    1. COARSE ASSIGN + ENCODE (one map-only Arrow pass): normalize,
       argmin-L2 cell of IVFPQ_CELLS broadcast centroids, then PQ-encode
       the residual -> (vec_id, cell, c0..c7).  At 100 TB this table IS
       the stored index, written partitioned BY cell so a probe reads
       only the probed cells' files (partition pruning); here the cell
       filter runs in the same scan.
    2. TRAIN (driver, bounded): residual codebooks from the PQ_TRAIN
       smallest-id vectors — (M*K*DSUB)-double broadcast (8 KB), plus
       the (Q x IVFPQ_CELLS) query-centroid dot table.
    3. ADC over PROBED CELLS only: approx(q, x) = <q, centroid(cell)>
       + sum_m adcR[q, m, code_m(x)] — the residual decomposition of
       <q, x>.  Each Arrow batch masks rows to the query's IVFPQ_PROBE
       nearest cells, so per-query scan cost is the probed fraction of
       the corpus, then keeps a local top-(PQ_SHORTLIST*TOP_K) with the
       (-approx, c_id) tie-break shared with the global merge window.
    4. EXACT RE-RANK of the merged shortlist (broadcast join back to
       the real vectors) — emitted cosines are exact; IVF+PQ only
       decided who got scored."""
    state = _ivfpq_state(spark, sf_dir)
    if state is None:
        return spark.createDataFrame(
            [], "q_id long, c_id long, cosine double, rk int"
        )
    cents, codebooks, n_corpus, emb = state
    codes = _ivfpq_encode(emb, cents, codebooks)
    return _ivfpq_search(spark, sf_dir, codes, cents, codebooks, n_corpus)


_IVFPQ_EMPTY = "q_id long, c_id long, cosine double, rk int"


def _ivfpq_state(spark: SparkSession, sf_dir: str):
    """Driver-side IVF-PQ state, all bounded: coarse centroids (8 KB),
    residual codebooks trained on the PQ_TRAIN smallest-id vectors
    (8 KB), corpus count (for the sqrt(N) shortlist), and the raw
    embedding scan.  None on an empty corpus."""
    import numpy as np

    cents, emb = _ivfpq_coarse(spark, sf_dir)
    if cents is None:
        return None
    train_rows = emb.orderBy("vec_id").limit(PQ_TRAIN).collect()
    Xt = _np_l2_normalize(np.array([r.emb for r in train_rows], dtype=np.float64))
    t_cell, _ = _np_assign_cells(Xt, cents)
    codebooks = _train_pq_codebooks(Xt - cents[t_cell])
    return cents, codebooks, emb.count(), emb


def _ivfpq_encode(emb: DataFrame, cents, codebooks) -> DataFrame:
    """Stage 1: coarse-assign + residual-encode in ONE map-only Arrow
    pass -> (vec_id, cell, c0..c7).  This DataFrame IS the stored index
    at full scale (see ensure_ivfpq_index)."""
    import pandas as pd

    code_schema = "vec_id long, cell long, " + ", ".join(
        f"c{m} long" for m in range(PQ_M)
    )

    def encode(batches):
        import numpy as np

        for pdf in batches:
            if pdf.empty:
                continue  # np.stack([]) raises on zero-row Arrow batches
            Xn = _np_l2_normalize(np.stack(pdf["emb"].values).astype(np.float64))
            cell, _ = _np_assign_cells(Xn, cents)
            codes = _np_encode_subspaces(Xn - cents[cell], codebooks)
            out = {"vec_id": pdf["vec_id"].values, "cell": cell}
            for m in range(PQ_M):
                out[f"c{m}"] = codes[:, m]
            yield pd.DataFrame(out)

    return emb.mapInPandas(encode, code_schema)


def _ivfpq_query_state(spark: SparkSession, sf_dir: str, cents, codebooks):
    """Query-side broadcast tables: ids, ADC lookup tables, the
    query-centroid dot row, and the boolean probe mask over cells.
    None when the fixed query set is empty."""
    import numpy as np

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q_rows = emb.filter(F.col("vec_id") < N_QUERIES).collect()
    if not q_rows:
        return None
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    Qn = _np_l2_normalize(np.array([r.emb for r in q_rows], dtype=np.float64))
    # adcR[q, m, k] = <q_sub_m, residual_codebook[m, k]>
    adcR = np.einsum("qmd,mkd->qmk", Qn.reshape(len(Qn), PQ_M, PQ_DSUB), codebooks)
    qdotc = Qn @ cents.T                       # (Q, n_cells)
    _, q_d2 = _np_assign_cells(Qn, cents)
    # per-query probed cells: IVFPQ_PROBE smallest L2, lowest-id ties
    probe_cells = np.argsort(q_d2, axis=1, kind="stable")[:, :IVFPQ_PROBE]
    probe_mask = np.zeros((len(q_ids), len(cents)), dtype=bool)
    for qi in range(len(q_ids)):
        probe_mask[qi, probe_cells[qi]] = True
    return q_ids, adcR, qdotc, probe_mask


def _ivfpq_search(
    spark: SparkSession, sf_dir: str, codes: DataFrame, cents, codebooks,
    n_corpus: int,
) -> DataFrame:
    """Stages 3+4 over an arbitrary codes DataFrame (inline-encoded or
    read back from the persisted index): ADC shortlist restricted to
    each query's probed cells, global merge, exact re-rank.

    Shortlist size grows ~sqrt(N) (one pre-plan COUNT, the same move
    as dedup_embedding_cosine_scaled's planes-from-count): a FIXED
    shortlist lets recall decay with corpus size — at the top of the
    ranking, score gaps shrink as N grows (extreme-value crowding)
    while ADC noise stays constant, so the true top-k slips below a
    constant cut ever more often (flat-PQ measured drift: 0.92 ->
    0.80 -> 0.20 at sf0.01/0.1/20x).  The ADC scan already scores all
    probed rows (O(N) either way); only the exact re-rank grows, and
    sqrt(N)*Q vectors stay broadcast-sized at any realistic scale
    (10^9 vectors -> ~63k rows/query)."""
    import numpy as np
    import pandas as pd

    qstate = _ivfpq_query_state(spark, sf_dir, cents, codebooks)
    if qstate is None:
        return spark.createDataFrame([], _IVFPQ_EMPTY)
    q_ids, adcR, qdotc, probe_mask = qstate
    keep = max(PQ_SHORTLIST * TOP_K, int(np.ceil(2.0 * np.sqrt(n_corpus))))

    def adc_shortlist(batches):
        for pdf in batches:
            if pdf.empty:
                continue  # np.stack([]) raises on zero-row Arrow batches
            ids = pdf["vec_id"].values
            cell = pdf["cell"].values
            codes_m = np.stack(
                [pdf[f"c{m}"].values for m in range(PQ_M)], axis=1
            )
            rows = []
            for qi, qid in enumerate(q_ids):
                m_probe = probe_mask[qi, cell]
                if not m_probe.any():
                    continue
                sub_ids = ids[m_probe]
                sub_cell = cell[m_probe]
                sub_codes = codes_m[m_probe]
                s = (
                    qdotc[qi, sub_cell]
                    + adcR[qi, np.arange(PQ_M)[None, :], sub_codes].sum(axis=1)
                )
                s[sub_ids == qid] = -np.inf  # never shortlist self
                top = np.lexsort((sub_ids, -s))[:keep]
                top = top[np.isfinite(s[top])]  # masked self rows must
                # not survive a keep >= candidate-count cut (tiny corpora)
                rows.append(
                    pd.DataFrame(
                        {"q_id": qid, "c_id": sub_ids[top], "approx": s[top]}
                    )
                )
            if rows:
                yield pd.concat(rows, ignore_index=True)

    local_top = codes.mapInPandas(
        adc_shortlist, "q_id long, c_id long, approx double"
    )
    w_s = Window.partitionBy("q_id").orderBy(F.desc("approx"), F.col("c_id"))
    shortlist = (
        local_top.withColumn("srk", F.row_number().over(w_s))
        .filter(F.col("srk") <= keep)
        .select("q_id", "c_id")
    )

    # exact re-rank (same tail as sim_pq_topk)
    raw = read_table(spark, sf_dir, "embeddings")
    q = _query_side(raw)
    c = raw.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").cast("array<double>").alias("ce"),
    ).withColumn("cn", _norm(F.col("ce")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("c_id"))
    return (
        c.join(F.broadcast(shortlist), "c_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            "c_id",
            F.try_divide(
                _dot(F.col("qe"), F.col("ce")), F.col("qn") * F.col("cn")
            ).alias("cosine"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("q_id", "c_id", "cosine", "rk")
    )


@session_memo(valid=lambda idx: is_published(idx[0]))
def ensure_ivfpq_index(spark: SparkSession, sf_dir: str):
    """Idempotently materialize the PQ code table PARTITIONED BY cell
    under the repo scratch dir, once per (session, sf_dir) — the
    persisted form of the index sim_ivfpq_topk computes inline.
    Returns (index path, cents, codebooks, n_corpus), or None when
    there is no corpus to index.  The probe side must use the EXACT
    codebooks the index was encoded with — memoizing them beside the
    path makes mis-pairing impossible (the band-index family-key
    lesson from the dedup module).

    This is the layout half of the IVF bargain (the same amortization
    as ensure_bucketed_facts): the encode pass is paid ONCE, and every
    probe after that reads ONLY the probed cells' files — partition
    pruning at the directory level, asserted in tests/test_plans.py.
    At 100 TB each cell is further split into ordinary parquet parts;
    a 4/16-cell probe touches 1/4 of the files and none of the rest.

    Round 8: CONTENT-keyed and atomically published (scratch.py, the
    ensure_shingle_table migration) — a NEW session re-derives only
    the bounded driver state (coarse centroids + codebook training,
    deterministic from the same corpus bytes, so the persisted codes
    remain exactly theirs) and reuses the corpus-scale ENCODE: probe
    cost without the build (measured 13.6 s probe vs 47.9 s
    build-and-probe at the 2M-vector decade).  Dead copies are GC'd
    by the session factory's sweep."""
    state = _ivfpq_state(spark, sf_dir)
    if state is None:
        return None
    cents, codebooks, n_corpus, emb = state

    def build(tmp: str) -> None:
        (
            _ivfpq_encode(emb, cents, codebooks)
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(tmp)
        )

    path = publish_table(
        "ivfpq_index",
        sf_dir,
        ("embeddings",),
        build,
        (DIM, IVFPQ_CELLS, PQ_M, PQ_K, PQ_ITERS, PQ_TRAIN),
    )
    return path, cents, codebooks, n_corpus


@REG.query("sim_ivfpq_persisted")  # rows-only: float k-means codebooks aren't SQL-portable
def sim_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_ivfpq_topk served from the PERSISTED cell-partitioned index:
    the docstring claim "written partitioned by cell so a probe reads
    only the probed cells' files" made real and plan-asserted.

    The probe computes the union of all queries' probed cells
    driver-side (at most Q·IVFPQ_PROBE small ints) and filters the
    index scan with cell IN (...) — Catalyst turns that into
    PartitionFilters, so unprobed cells' files are never opened
    (asserted in tests/test_plans.py).  Everything downstream (ADC
    shortlist, merge, exact re-rank) is byte-identical to the inline
    form, and so is the output — also asserted."""
    import numpy as np

    idx = ensure_ivfpq_index(spark, sf_dir)
    if idx is None:
        return spark.createDataFrame([], _IVFPQ_EMPTY)
    path, cents, codebooks, n_corpus = idx
    qstate = _ivfpq_query_state(spark, sf_dir, cents, codebooks)
    if qstate is None:
        return spark.createDataFrame([], _IVFPQ_EMPTY)
    _, _, _, probe_mask = qstate
    probed = sorted(int(c) for c in np.nonzero(probe_mask.any(axis=0))[0])
    codes = (
        read_parquet(spark, path)
        .filter(F.col("cell").isin(probed))  # -> PartitionFilters
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            *[F.col(f"c{m}").cast("long").alias(f"c{m}") for m in range(PQ_M)],
        )
    )
    return _ivfpq_search(spark, sf_dir, codes, cents, codebooks, n_corpus)


#: Truncation tiers audited by sim_dim_truncation_recall.  The last
#: entry must be the full dimensionality (the recall baseline).
TRUNC_DIMS = (8, 16, 32, 64)


@REG.query(
    "sim_dim_truncation_recall",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (
      SELECT vec_id AS c_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings
    ),
    tiers AS (SELECT UNNEST({list(TRUNC_DIMS)}) AS d),
    scored AS (
      SELECT t.d, q.q_id, c.c_id,
             LIST_DOT_PRODUCT(q.qe[1:t.d], c.ce[1:t.d])
               / (SQRT(LIST_DOT_PRODUCT(q.qe[1:t.d], q.qe[1:t.d]))
                  * SQRT(LIST_DOT_PRODUCT(c.ce[1:t.d], c.ce[1:t.d]))) AS cosine
      FROM q, c, tiers t
      WHERE q.q_id <> c.c_id
    ),
    topk AS (
      SELECT d, q_id, c_id FROM (
        SELECT d, q_id, c_id,
               ROW_NUMBER() OVER (PARTITION BY d, q_id
                                  ORDER BY cosine DESC, c_id) AS rk
        FROM scored
      ) WHERE rk <= {TOP_K}
    ),
    base AS (SELECT q_id, c_id FROM topk WHERE d = {TRUNC_DIMS[-1]})
    SELECT CAST(t.d AS INT) AS d, t.q_id,
           CAST(SUM(CASE WHEN b.c_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           CAST(SUM(CASE WHEN b.c_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / {TOP_K} AS recall
    FROM topk t LEFT JOIN base b
      ON t.q_id = b.q_id AND t.c_id = b.c_id
    WHERE t.d < {TRUNC_DIMS[-1]}
    GROUP BY t.d, t.q_id
    """,
)
def sim_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation audit: recall@k of exact
    cosine top-k computed on the first d dimensions against the
    full-dimension baseline, for d in TRUNC_DIMS.  This is the query
    run BEFORE shrinking an embedding index — it measures, per query,
    how much of the true neighborhood survives storing/searching only
    a prefix of each vector (MRL-trained embeddings are front-loaded;
    the audit quantifies whether YOURS are).

    The pair relation is corpus x broadcast queries (the
    sim_cosine_topk shape) with a 4-row tier explode on top; each
    tier's top-k is the same per-(d, q_id) window.  The baseline
    (d=64) and truncated (d<64) branches both reference that top-k
    subtree, which LOOKS like a double scan — but the d-filters push
    below the window into the explode, so the branches score DISJOINT
    tier subsets (one full pass of cosine work total, partitioned
    across two pipelined stages).  Measured head-to-head at 20x, this
    two-branch form beats a single-pass collect_set-of-tiers rewrite
    6.5 s vs 10.8 s — the branch split is a partition of the work, not
    a duplication, and the TOP_K-sized baseline broadcasts into the
    overlap join.  At 100 TB the slice-dot is free relative to the
    scan (prefix reads of the same column) and the audit parallelizes
    per (tier, query) partition."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = _query_side(emb).select("q_id", "qe")
    c = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").cast("array<double>").alias("ce"),
    )
    d = F.col("d")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.explode(F.array(*[F.lit(t) for t in TRUNC_DIMS])).alias("d"),
            "q_id",
            "c_id",
            "qe",
            "ce",
        )
        .select(
            "d",
            "q_id",
            "c_id",
            _cosine(F.slice(F.col("qe"), F.lit(1), d),
                    F.slice(F.col("ce"), F.lit(1), d)).alias("cosine"),
        )
    )
    w = Window.partitionBy("d", "q_id").orderBy(F.desc("cosine"), F.col("c_id"))
    topk = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("d", "q_id", "c_id")
    )
    base = (
        topk.filter(F.col("d") == TRUNC_DIMS[-1])
        .select("q_id", "c_id", F.lit(1).alias("hit"))
    )
    hit = F.coalesce(F.col("hit"), F.lit(0))
    return (
        topk.filter(F.col("d") < TRUNC_DIMS[-1])
        .join(F.broadcast(base), ["q_id", "c_id"], "left")
        .groupBy(F.col("d").cast("int").alias("d"), "q_id")
        .agg(
            F.sum(hit).alias("n_overlap"),
            (F.sum(hit).cast("double") / TOP_K).alias("recall"),
        )
    )


def _centroid_drift_oracle() -> str:
    from firebase_realtime_database_backup_spark.operators.relational import oround

    avg = oround("AVG(CAST(embedding[r.dim + 1] AS DOUBLE))", 6)
    return f"""
    WITH cent AS (
      SELECT label, vec_id % 2 AS h, r.dim AS dim,
             {avg} AS c, COUNT(*) AS n
      FROM embeddings, (SELECT UNNEST(RANGE(0, {DIM})) AS dim) r
      GROUP BY label, vec_id % 2, r.dim
    ),
    paired AS (
      SELECT a.label, a.dim, a.c AS ca, b.c AS cb, a.n AS n_a, b.n AS n_b
      FROM cent a JOIN cent b
        ON a.label = b.label AND a.dim = b.dim AND a.h = 0 AND b.h = 1
    ),
    vecs AS (
      SELECT label, MAX(n_a) AS n_a, MAX(n_b) AS n_b,
             LIST(ca ORDER BY dim) AS va, LIST(cb ORDER BY dim) AS vb
      FROM paired GROUP BY label
    )
    SELECT label, n_a, n_b,
           LIST_DOT_PRODUCT(va, vb)
             / (SQRT(LIST_DOT_PRODUCT(va, va))
                * SQRT(LIST_DOT_PRODUCT(vb, vb))) AS drift_cosine
    FROM vecs
    """


@REG.query("sim_centroid_drift", oracle=_centroid_drift_oracle())
def sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per-label centroid of one corpus half
    (even vec_id) vs the other (odd) — cosine near 1.0 means the two
    populations agree on where the label lives; a label whose halves
    diverge is the first symptom of a changed embedding model, a
    poisoned batch, or label noise.  In production the halves are
    "yesterday's corpus" and "today's batch"; the deterministic
    vec_id parity split makes the oracle self-contained.

    Exactness: per-(label, half, dim) means are rounded to 6 decimals
    (the sim_label_centroids canon), and the cosine over the ROUNDED
    centroid vectors folds in ascending dim order on both engines
    (sorted collect + left fold ↔ LIST(.. ORDER BY dim) +
    LIST_DOT_PRODUCT) — the float pipeline is order-pinned end to end.

    Plan: one posexplode + partial-agged shuffle to the (label, half,
    dim) grain — labels x 2 x DIM rows regardless of corpus size —
    then everything downstream (pairing, fold, ratio) runs on that
    reduced relation.  The drift report at 100 TB costs exactly one
    pass over the embeddings."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "label",
        (F.col("vec_id") % 2).alias("h"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        ),
    )
    cent = emb.groupBy("label", "h", "dim").agg(
        F.round(F.avg("v"), 6).alias("c"), F.count(F.lit(1)).alias("n")
    )
    a = cent.filter(F.col("h") == 0).select(
        "label", "dim", F.col("c").alias("ca"), F.col("n").alias("n_a")
    )
    b = cent.filter(F.col("h") == 1).select(
        "label", "dim", F.col("c").alias("cb"), F.col("n").alias("n_b")
    )
    vecs = (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.expr(
                "transform(sort_array(collect_list(struct(dim, ca))),"
                " s -> s.ca)"
            ).alias("va"),
            F.expr(
                "transform(sort_array(collect_list(struct(dim, cb))),"
                " s -> s.cb)"
            ).alias("vb"),
        )
    )
    return vecs.select(
        "label",
        "n_a",
        "n_b",
        F.try_divide(
            _dot(F.col("va"), F.col("vb")),
            _norm(F.col("va")) * _norm(F.col("vb")),
        ).alias("drift_cosine"),
    )


def _norm_anomaly_oracle() -> str:
    from firebase_realtime_database_backup_spark.operators.relational import oround

    n2 = oround(_DOT.format(a="embedding", b="embedding"), 6)
    m16 = oround(_DOT.format(a="embedding[1:16]", b="embedding[1:16]"), 6)
    return f"""
    WITH n AS (
      SELECT vec_id, label, {n2} AS norm2, {m16} AS prefix_mass
      FROM embeddings
    ),
    med AS (SELECT label, MEDIAN(prefix_mass) AS med FROM n GROUP BY label),
    dev AS (
      SELECT n.vec_id, n.label, n.norm2, n.prefix_mass, m.med,
             ABS(n.prefix_mass - m.med) AS adev
      FROM n JOIN med m USING (label)
    ),
    mad AS (SELECT label, MEDIAN(adev) AS mad FROM dev GROUP BY label)
    SELECT d.vec_id, d.label, d.norm2, d.prefix_mass, d.med, m.mad
    FROM dev d JOIN mad m USING (label)
    WHERE d.adev > 3 * m.mad
    """


@REG.query("sim_norm_anomaly", oracle=_norm_anomaly_oracle())
def sim_norm_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding geometry-outlier audit: flag vectors whose spectral
    PREFIX MASS (energy in the first 16 of 64 dims — the quantity the
    Matryoshka truncation audit banks on) deviates from their label's
    median by more than 3 MADs, and report the total norm alongside —
    the first-line detector for a broken encoder batch, a mixed-in
    different-normalization model, or corrupted rows.  The total norm
    itself is vacuous on a unit-normalized corpus (every norm2 is
    exactly 1.0 here — reported to pin that invariant); prefix mass
    has real per-vector variance, so this audit does real work (26 of
    500 vectors flagged at sf0.01).  MAD over stddev for the same
    reason as events_anomaly_mad: the outliers being hunted would
    inflate a stddev threshold and mask themselves.  Companion to
    sim_centroid_drift: drift finds a population that MOVED; this
    finds individual vectors with the wrong SHAPE.

    Exactness: both masses are the shared left-to-right float64 fold
    (similarity._dot <-> DuckDB LIST_DOT_PRODUCT) rounded to 6
    decimals, medians average two already-identical doubles, and the
    flag compares |x-med| against 3*MAD in the same IEEE order both
    engines.

    Plan: one map-only pass folds each vector to (vec_id, label,
    norm2, prefix_mass); both medians run per label on that narrow
    relation and broadcast back, so the embedding array crosses no
    Exchange.  Exact per-label MEDIAN sorts each label's masses —
    fine at the audit grain; at 10^9 vectors/label the documented
    swap is approx_percentile(0.5) with a tolerance band, same plan
    shape."""
    emb = read_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    p = F.slice(F.col("embedding"), 1, 16).cast("array<double>")
    n = emb.select(
        "vec_id",
        "label",
        F.round(_dot(e, e), 6).alias("norm2"),
        F.round(_dot(p, p), 6).alias("prefix_mass"),
    )
    med = n.groupBy("label").agg(F.median("prefix_mass").alias("med"))
    dev = n.join(F.broadcast(med), "label").withColumn(
        "adev", F.abs(F.col("prefix_mass") - F.col("med"))
    )
    mad = dev.groupBy("label").agg(F.median("adev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "label")
        .filter(F.col("adev") > 3 * F.col("mad"))
        .select("vec_id", "label", "norm2", "prefix_mass", "med", "mad")
    )


def _triplets_oracle() -> str:
    from firebase_realtime_database_backup_spark.operators.relational import oround

    cos = oround(
        _DOT.format(a="q.qe", b="c.ce")
        + f" / (SQRT({_DOT.format(a='q.qe', b='q.qe')})"
        + f" * SQRT({_DOT.format(a='c.ce', b='c.ce')}))",
        6,
    )
    return f"""
    WITH q AS (
      SELECT vec_id AS q_id, label AS q_label,
             CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (
      SELECT vec_id AS c_id, label AS c_label,
             CAST(embedding AS DOUBLE[]) AS ce
      FROM embeddings
    ),
    scored AS (
      SELECT q.q_id, q.q_label, c.c_id,
             (c.c_label = q.q_label) AS is_pos,
             {cos} AS cosine
      FROM q, c WHERE q.q_id <> c.c_id
    ),
    best AS (
      SELECT * FROM (
        SELECT s.*, ROW_NUMBER() OVER (PARTITION BY q_id, is_pos
                                       ORDER BY cosine DESC, c_id) AS rn
        FROM scored s
      ) WHERE rn = 1
    )
    SELECT p.q_id, p.q_label AS label,
           p.c_id AS pos_id, p.cosine AS pos_cos,
           n.c_id AS neg_id, n.cosine AS neg_cos,
           p.cosine - n.cosine AS margin
    FROM best p JOIN best n
      ON p.q_id = n.q_id AND p.is_pos AND NOT n.is_pos
    """


@REG.query("sim_contrastive_triplets", oracle=_triplets_oracle())
def sim_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative triplet mining for embedding-model training: for
    each anchor, the most-similar SAME-label vector (the positive) and
    the most-similar DIFFERENT-label vector (the hard negative — the
    impostor the model currently confuses), plus the margin between
    them.  Triplets with small or negative margins are exactly the
    training pairs a contrastive fine-tune needs; mining them is a
    standard stage in embedding-pipeline refreshes.

    Exactness: cosines come from the shared fold chain rounded to 6
    decimals BEFORE ranking on both engines (so the c_id tie-break
    fires at the same pairs), and the margin subtracts the two
    ROUNDED values — one IEEE op, same both engines.

    Plan: the corpus scans once map-side against the broadcast anchor
    set (the sim_cosine_topk shape — the pair BNL is the designed
    all-pairs score, appearing once per join branch); per-(anchor,
    polarity) argmax is a window over the scored stream; the final
    positive⨝negative join is |anchors| rows.  At production anchor
    counts the window swaps for the IVF/PQ shortlist exactly as the
    top-k family documents."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").cast("array<double>").alias("qe"),
        )
        .withColumn("qn", _norm(F.col("qe")))
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").cast("array<double>").alias("ce"),
    ).withColumn("cn", _norm(F.col("ce")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "q_label",
            "c_id",
            (F.col("c_label") == F.col("q_label")).alias("is_pos"),
            # round BEFORE ranking so the rank tie-break (c_id) fires at
            # exactly the same pairs as the oracle's (which ranks its
            # oround()ed cosine) — ranking raw doubles would diverge on
            # near-ties beyond the 6th decimal
            F.round(
                F.try_divide(
                    _dot(F.col("qe"), F.col("ce")), F.col("qn") * F.col("cn")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id", "is_pos").orderBy(
        F.desc("cosine"), F.col("c_id")
    )
    best = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    pos = best.filter(F.col("is_pos")).select(
        "q_id",
        F.col("q_label").alias("label"),
        F.col("c_id").alias("pos_id"),
        F.col("cosine").alias("pos_cos"),
    )
    neg = best.filter(~F.col("is_pos")).select(
        "q_id",
        F.col("c_id").alias("neg_id"),
        F.col("cosine").alias("neg_cos"),
    )
    return pos.join(neg, "q_id").select(
        "q_id",
        "label",
        "pos_id",
        "pos_cos",
        "neg_id",
        "neg_cos",
        (F.col("pos_cos") - F.col("neg_cos")).alias("margin"),
    )


@REG.query(
    "quality_label_balance",
    oracle="""
    WITH c AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n
      FROM embeddings GROUP BY label
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM c
    )
    SELECT label, n,
           CAST(n AS DOUBLE) / total AS share,
           (n - CAST(total AS DOUBLE) / k) * (n - CAST(total AS DOUBLE) / k)
             / (CAST(total AS DOUBLE) / k) AS chi2_component,
           CAST(n AS DOUBLE) / total < 0.5 / k
             OR CAST(n AS DOUBLE) / total > 2.0 / k AS imbalanced
    FROM c, tot
    """,
)
def quality_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-distribution audit over the embedding corpus: per-class
    counts, shares, the chi-square contribution against a uniform
    expectation, and an imbalance flag (share outside [0.5/k, 2/k]) —
    the dataset-card number every classification/retrieval training
    set reports, and the gate that catches a class silently vanishing
    from an ingest batch before a model trains on it.  (The drift
    monitor quality_drift_chi2 compares two SNAPSHOTS of one column;
    this audits one snapshot against the uniform prior — the cold-
    start form that needs no reference corpus.)

    Plan: one label-grain aggregation (map-side combinable, |labels|
    rows), the 1-row total broadcast back — at 100 TB this is a
    metadata-cost query regardless of corpus size.  Exactness:
    integer counts; share/chi²/bounds are fixed-order double
    expressions written identically in both engines."""
    emb = read_table(spark, sf_dir, "embeddings")
    c = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("k"),
    )
    exp = F.col("total").cast("double") / F.col("k")
    share = F.col("n").cast("double") / F.col("total")
    return c.crossJoin(F.broadcast(tot)).select(
        "label",
        "n",
        share.alias("share"),
        ((F.col("n") - exp) * (F.col("n") - exp) / exp).alias(
            "chi2_component"
        ),
        ((share < 0.5 / F.col("k")) | (share > 2.0 / F.col("k"))).alias(
            "imbalanced"
        ),
    )


@REG.query(
    "sim_knn_label_vote",
    prod_twin="sim_knn_label_vote_arrow",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, label AS q_label,
             CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings
      WHERE CAST(((CAST(vec_id AS BIGINT) % 2147483648) * 2654435761)
                 % 2147483648 AS BIGINT) % 8 = 0
        AND vec_id < 512
    ),
    c AS (
      SELECT vec_id AS c_id, label AS c_label,
             CAST(embedding AS DOUBLE[]) AS ce
      FROM embeddings
    ),
    scored AS (
      SELECT q.q_id, q.q_label, c.c_label,
             {_DOT.format(a="q.qe", b="c.ce")}
               / (SQRT({_DOT.format(a="q.qe", b="q.qe")})
                  * SQRT({_DOT.format(a="c.ce", b="c.ce")})) AS cosine,
             c.c_id
      FROM q, c
      WHERE q.q_id <> c.c_id
    ),
    topk AS (
      SELECT q_id, q_label, c_label FROM (
        SELECT q_id, q_label, c_label,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cosine DESC, c_id) AS rk
        FROM scored
      ) WHERE rk <= {TOP_K}
    ),
    votes AS (
      SELECT q_id, q_label, c_label, COUNT(*) AS n
      FROM topk GROUP BY q_id, q_label, c_label
    ),
    pred AS (
      SELECT q_id, q_label, c_label AS pred_label FROM (
        SELECT q_id, q_label, c_label,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY n DESC, c_label) AS r
        FROM votes
      ) WHERE r = 1
    )
    SELECT q_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) FILTER (WHERE pred_label = q_label) AS BIGINT)
             AS n_correct,
           CAST(COUNT(*) FILTER (WHERE pred_label = q_label) AS DOUBLE)
             / COUNT(*) AS accuracy
    FROM pred GROUP BY q_label
    """,
)
def sim_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN LABEL-VOTE evaluation — the standard embedding-quality
    probe: for a FIXED deterministic query panel, predict each panel
    vector's label by majority vote of its k=5 exact-cosine nearest
    neighbors (self excluded) and report per-class accuracy.  A class
    whose accuracy collapses between embedding model versions has lost
    its cluster structure — the eval a retrieval team runs BEFORE
    shipping new vectors, complementing sim_centroid_drift (which sees
    centroid movement but not neighborhood mixing).

    The panel is BOUNDED on purpose: Knuth-hash 1/8 sample AND
    vec_id < 512 (the sim_cosine_topk fixed-query-set discipline —
    the scale corpora shift replica ids by 10^4, so the panel stays
    the same ~64 replica-0 vectors at every scale).  An unbounded
    fraction sample makes Q grow with N and the score stage N²/8 —
    measured as a real cliff at 20× before the cap; with it the scan
    is |panel|×N, the sim_cosine_topk cost class, and accuracy stays
    comparable across corpus sizes because the panel is identical.

    Plan: the panel broadcasts against the corpus scan exactly like
    sim_cosine_topk; per-query top-k is a |panel|-partitioned window;
    the vote is a tiny two-level group/argmax (ties broken by smallest
    label — deterministic both engines).  At production scale the
    brute-force score swaps for the IVF-PQ shortlist (sim_ivfpq_topk)
    with the vote unchanged.  Exactness: LIST_DOT_PRODUCT mirrors the
    Spark fold bit-for-bit (the module-wide _DOT discipline); ranks
    tie-break on c_id."""
    from firebase_realtime_database_backup_spark.functions.hashing import (
        knuth_bucket,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    q = (
        emb.filter(
            (knuth_bucket(F.col("vec_id"), 8) == 0)
            & (F.col("vec_id") < 512)
        )
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").cast("array<double>").alias("qe"),
        )
        .withColumn("qn", _norm(F.col("qe")))
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").cast("array<double>").alias("ce"),
    ).withColumn("cn", _norm(F.col("ce")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "q_label",
            "c_label",
            "c_id",
            # try_divide: a zero-norm vector NULLs its cosine instead of
            # raising under ANSI — DuckDB x/0.0 is NULL too, and both
            # engines rank NULLs last under DESC (the _cosine precedent)
            F.try_divide(
                _dot(F.col("qe"), F.col("ce")), F.col("qn") * F.col("cn")
            ).alias("cosine"),
        )
    )
    topk = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
        ),
    ).filter(F.col("rk") <= TOP_K)
    votes = topk.groupBy("q_id", "q_label", "c_label").agg(
        F.count(F.lit(1)).alias("n")
    )
    pred = votes.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.desc("n"), "c_label")
        ),
    ).filter(F.col("r") == 1)
    correct = F.count(
        F.when(F.col("c_label") == F.col("q_label"), 1)
    ).cast("bigint")
    return pred.groupBy(F.col("q_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_queries"),
        correct.alias("n_correct"),
        (correct.cast("double") / F.count(F.lit(1))).alias("accuracy"),
    )


@REG.query("sim_knn_label_vote_arrow")  # rows-only: BLAS summation order
def sim_knn_label_vote_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_knn_label_vote's PRODUCTION twin: the panel×corpus score
    stage as ONE Arrow matmul per batch instead of an interpreted
    per-pair array fold.  The teaching form is honest-linear with a
    constant panel, but its constant is ~8 µs/pair of interpreted HOF
    fold (measured: 20 s at 20× for a 64-query panel); here the same
    64×batch cosine block is a single BLAS ``Qn @ Xn.T`` — the
    dedup_embedding_cosine_arrow move applied to evaluation.

    Shape: the fixed panel (≤64 rows — bounded driver state, like the
    k-means centroid round-trips) is normalized once and closed over
    by a mapInPandas kernel; each batch emits only its PARTIAL top-k
    per query (argpartition, k·|panel| rows per batch — never the full
    score block), so the exchange after the scan is k·|panel|·batches
    rows; the global top-k window, vote, and per-label accuracy are
    identical to the teaching form.  Zero-norm corpus vectors score 0
    (the kernel guards the divide; the teaching form NULLs them out —
    one of the two reasons this is rows-only, the other being BLAS
    pairwise summation vs the fold's left-to-right order).  Vote
    agreement with the teaching form is pinned in tests/test_plans.py.
    At 100 TB the brute scan swaps for the IVF-PQ shortlist with the
    kernel unchanged."""
    import numpy as np
    import pandas as pd

    from firebase_realtime_database_backup_spark.functions.hashing import (
        knuth_bucket,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    panel_rows = (
        emb.filter(
            (knuth_bucket(F.col("vec_id"), 8) == 0)
            & (F.col("vec_id") < 512)
        )
        .select("vec_id", "label", F.col("embedding").cast("array<double>"))
        .collect()
    )
    if not panel_rows:
        return spark.createDataFrame(
            [],
            "label int, n_queries bigint, n_correct bigint, accuracy double",
        )
    qids = np.array([r[0] for r in panel_rows], dtype=np.int64)
    qlabels = {int(r[0]): r[1] for r in panel_rows}
    Q = np.stack([np.asarray(r[2], dtype=np.float64) for r in panel_rows])
    qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
    Qn = Q / np.where(qn == 0, 1.0, qn)[:, None]

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                # np.stack([]) raises on a zero-row Arrow batch.
                continue
            X = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            nrm = np.sqrt(np.einsum("ij,ij->i", X, X))
            Xn = X / np.where(nrm == 0, 1.0, nrm)[:, None]
            S = Qn @ Xn.T  # (panel, batch)
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            S[c_ids[None, :] == qids[:, None]] = -np.inf  # self-mask
            k = min(TOP_K, S.shape[1])
            part = np.argpartition(-S, k - 1, axis=1)[:, :k]
            qi = np.repeat(np.arange(len(qids)), k)
            cj = part.ravel()
            keep = np.isfinite(S[qi, cj])
            yield pd.DataFrame(
                {
                    "q_id": qids[qi[keep]],
                    "c_id": c_ids[cj[keep]],
                    "c_label": pdf["label"].to_numpy()[cj[keep]],
                    "cosine": S[qi[keep], cj[keep]],
                }
            )

    partial = emb.select("vec_id", "label", "embedding").mapInPandas(
        score, "q_id long, c_id long, c_label int, cosine double"
    )
    topk = partial.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.desc("cosine"), "c_id")
        ),
    ).filter(F.col("rk") <= TOP_K)
    votes = topk.groupBy("q_id", "c_label").agg(
        F.count(F.lit(1)).alias("n")
    )
    pred = votes.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.desc("n"), "c_label")
        ),
    ).filter(F.col("r") == 1)
    qmap = spark.createDataFrame(
        [(int(k), int(v)) for k, v in qlabels.items()],
        "q_id long, q_label int",
    )
    correct = F.count(
        F.when(F.col("c_label") == F.col("q_label"), 1)
    ).cast("bigint")
    return (
        pred.join(F.broadcast(qmap), "q_id")
        .groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            correct.alias("n_correct"),
            (correct.cast("double") / F.count(F.lit(1))).alias("accuracy"),
        )
    )


#: Fixed-point scale for the exact gram matrix: FLOOR(component * 1e6).
#: Components are unit-norm dim-64 floats (|x| < 1), so |q| < 1e6 and a
#: per-pair product is < 1e12 — an int64 PARTIAL gram is safe to ~9.2e6
#: rows per Arrow batch (batches are ~10^4 rows: 900x headroom) and the
#: cross-partition reduce runs in DECIMAL(38,0), overflow-free to ~1e26
#: rows.  FLOOR (not ROUND) because floor of a double is unambiguous in
#: both engines; round's half-case convention is not.
GRAM_SCALE = 1_000_000


@REG.query(
    "sim_gram_matrix",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    q AS (
      SELECT vec_id, t.i,
             CAST(FLOOR(e[t.i] * {GRAM_SCALE}) AS BIGINT) AS qv
      FROM v, RANGE(1, {DIM + 1}) t(i)
    )
    SELECT CAST(a.i AS INT) AS i, CAST(b.i AS INT) AS j,
           CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
    FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY a.i, b.i
    """,
)
def sim_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact gram matrix X^T X over the embedding corpus — the
    single-pass sufficient statistic behind PCA, whitening, linear
    probes, and ridge regression on frozen features: d x d numbers
    summarize N x d data, so the expensive part is ONE corpus scan no
    matter how large N grows.

    Exactness: components are fixed-point quantized (FLOOR(x * 1e6) as
    int64) BEFORE any summation, so the reduce is integer arithmetic —
    commutative, order-free, bit-equal to the oracle's SQL SUM no
    matter how Spark schedules partitions.  A double-sum gram is
    order-dependent (the same reason the exact-moments family uses
    DECIMAL); quantize-then-sum is the standard trick to make it
    reproducible, at a precision (1e-6 per component) far below any
    embedding's meaningful resolution.

    Plan: mapInPandas computes each Arrow batch's PARTIAL gram with one
    int64 BLAS matmul (Q^T @ Q) and emits only the d(d+1)/2 = 2080
    upper-triangle cells — per batch, the map-side combine in its
    strongest possible form: 10^4 rows in, 2080 out.  The single
    exchange then carries (partitions x 2080) rows to a DECIMAL(38,0)
    sum keyed by (i, j).  Cost at 100 TB: one scan + a shuffle whose
    size depends on d alone, not N — the same flat profile as
    agg_bitmap_distinct, measured in BASELINE.md.

    The oracle unrolls the quantized explode (N*d rows) and pays the
    N*d^2/2 pair join — the spec, not the plan."""
    import numpy as np
    import pandas as pd

    # spread(): a single-file local corpus is one input split, which
    # would serialize the CPU-heavy matmul onto one core (no-op on a
    # many-filed lake layout).
    emb = spread(read_table(spark, sf_dir, "embeddings").select("embedding"))

    def gram_partials(batches):
        iu, ju = np.triu_indices(DIM)
        for pdf in batches:
            if pdf.empty:  # Arrow may hand an empty tail batch
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = np.floor(x * GRAM_SCALE).astype(np.int64)
            g = q.T @ q
            yield pd.DataFrame(
                {"i": iu + 1, "j": ju + 1, "dot_part": g[iu, ju]}
            )

    partial = emb.mapInPandas(
        gram_partials, "i int, j int, dot_part long"
    )
    return (
        partial.groupBy("i", "j")
        .agg(
            F.sum(F.col("dot_part").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("dot")
        )
    )


MMR_K = 5        # diverse selections to make
MMR_PANEL = 32   # relevance shortlist the greedy runs over


def _mmr_cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / (SQRT({_DOT.format(a=a, b=a)})"
        f" * SQRT({_DOT.format(a=b, b=b)}))"
    )


def _mmr_oracle() -> str:
    """Unrolled greedy MMR as stacked CTEs (the graph_pagerank /
    text_bpe_merges trick applied to a greedy selection): sel_t picks
    the argmax of 0.5*rel - 0.5*MAX(sim to sel_1..sel_{t-1}), ties to
    the smaller vec_id.  All comparisons are over bit-identical doubles
    (same fold-order dot product both engines), so the argmax chain is
    deterministic and the whole selection hash-checkable."""
    steps = [
        f"sel1 AS (SELECT vec_id, 0.5 * rel - 0.5 * 0.0 AS score, 1 AS rk"
        f" FROM panel ORDER BY rel DESC, vec_id LIMIT 1)"
    ]
    for t in range(2, MMR_K + 1):
        picked = " UNION ALL ".join(
            f"SELECT vec_id FROM sel{u}" for u in range(1, t)
        )
        steps.append(
            f"sel{t} AS (SELECT vec_id, score, {t} AS rk FROM ("
            f" SELECT p.vec_id,"
            f" 0.5 * p.rel - 0.5 * (SELECT MAX(s) FROM sims"
            f"   WHERE ai = p.vec_id AND bi IN ({picked})) AS score"
            f" FROM panel p WHERE p.vec_id NOT IN ({picked})"
            f") ORDER BY score DESC, vec_id LIMIT 1)"
        )
    unions = " UNION ALL ".join(
        f"SELECT * FROM sel{t}" for t in range(1, MMR_K + 1)
    )
    return f"""
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
      WHERE vec_id = 0
    ),
    panel AS (
      SELECT vec_id, ce, rel FROM (
        SELECT c.vec_id, c.ce, {_mmr_cos_sql("q.qe", "c.ce")} AS rel
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
              FROM embeddings WHERE vec_id <> 0) c, q
      ) ORDER BY rel DESC, vec_id LIMIT {MMR_PANEL}
    ),
    sims AS (
      SELECT a.vec_id AS ai, b.vec_id AS bi,
             {_mmr_cos_sql("a.ce", "b.ce")} AS s
      FROM panel a JOIN panel b ON a.vec_id <> b.vec_id
    ),
    {", ".join(steps)}
    SELECT CAST(rk AS INT) AS rk, vec_id, score FROM ({unions})
    """


@REG.query("sim_mmr_diverse_topk", oracle=_mmr_oracle())
def sim_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diverse top-k: greedily pick MMR_K
    items maximizing 0.5*relevance - 0.5*max-similarity-to-already-
    picked.  THE anti-redundancy selection for training-data curation
    and retrieval: plain cosine top-k happily returns five near-copies
    of the best hit; MMR forces each pick to add information.

    Plan: relevance is the distributed part — one broadcast-query map
    over the corpus (same shape as sim_cosine_topk, no corpus shuffle)
    with a top-MMR_PANEL cut.  The greedy runs driver-side over the
    collected panel (<= 32 rows — bounded driver state, the PQ-codebook
    / BPE-argmax precedent): its O(K * PANEL) float comparisons repeat,
    in Python, exactly the arithmetic the oracle's unrolled CTEs do in
    SQL — left-to-right fold dot products, 0.5*rel - 0.5*max(sim),
    ties to the smaller vec_id — so the emitted (rank, id, score) rows
    hash-match bit-for-bit.  At scale the same greedy nests per query
    group inside applyInPandas (panel collect becomes a grouped batch);
    the corpus-sized work — scoring and the top-P cut — is already
    distributed and flat.

    No new similarity math: relevance reuses the family's verified
    bit-identical cosine; only the selection POLICY is new."""
    import math

    def pydot(a, b):  # left-to-right fold: matches _dot / list_dot_product
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # Hoist the query vector AND its norm to literals: computed once on
    # the driver from the same doubles, so sqrt(dot(qe,qe)) is the
    # bit-identical value the oracle recomputes per row — folding it
    # per corpus row (an interpreted HOF, not codegen) was measured at
    # ~1/3 of the whole scan cost at 100x.
    qrow = emb.filter(F.col("vec_id") == 0).head()
    if qrow is None:  # no query vector: the oracle's q CTE is empty too
        return spark.createDataFrame(
            [], "rk int, vec_id bigint, score double"
        )
    qe = qrow.e
    qn = math.sqrt(pydot(qe, qe))
    qcol = F.array(*[F.lit(float(x)) for x in qe])
    # try_divide: a zero-norm vector NULLs its cosine instead of raising
    # under ANSI — DuckDB x/0.0 is NULL too, and both engines rank
    # NULLs last under DESC (the sim_knn_label_vote precedent).
    scored = spread(emb.filter(F.col("vec_id") != 0)).select(
        "vec_id",
        "e",
        F.try_divide(
            _dot(qcol, F.col("e")),
            F.lit(qn) * F.sqrt(_dot(F.col("e"), F.col("e"))),
        ).alias("rel"),
    )
    panel = scored.orderBy(F.desc("rel"), "vec_id").limit(MMR_PANEL).collect()

    emb_of = {r.vec_id: r.e for r in panel}
    rel_of = {r.vec_id: r.rel for r in panel}  # None when a norm is 0
    norm_of = {v: math.sqrt(pydot(e, e)) for v, e in emb_of.items()}

    def sim(a, b):
        if norm_of[a] == 0.0 or norm_of[b] == 0.0:
            return None  # SQL: x / 0.0 is NULL
        return pydot(emb_of[a], emb_of[b]) / (norm_of[a] * norm_of[b])

    def score_of(v, sel):
        """Mirror of the oracle's 0.5*rel - 0.5*MAX(sim): NULL rel or
        NULL MAX (all selected sims NULL) propagates to a NULL score;
        MAX ignores NULLs like SQL."""
        if rel_of[v] is None:
            return None
        if not sel:
            return 0.5 * rel_of[v] - 0.5 * 0.0
        sims = [s for s in (sim(v, x[1]) for x in sel) if s is not None]
        if not sims:
            return None
        return 0.5 * rel_of[v] - 0.5 * max(sims)

    selected: list[tuple[int, int, float]] = []  # (rk, vec_id, score)
    remaining = sorted(emb_of)
    for rk in range(1, MMR_K + 1):
        if not remaining:
            break  # oracle: LIMIT 1 over empty -> no row at this rank
        best = None  # (vec_id, score); NULL scores last, ties to min id
        for v in remaining:  # ascending vec_id: strict > keeps ties left
            s = score_of(v, selected)
            if best is None or (
                s is not None and (best[1] is None or s > best[1])
            ):
                best = (v, s)
        selected.append((rk, best[0], best[1]))
        remaining.remove(best[0])
    return spark.createDataFrame(
        selected, "rk int, vec_id bigint, score double"
    )


@REG.query("sim_pca_variance_explained")  # rows-only: the d x d eigensolve
# is driver-side LAPACK with no SQL twin; the sufficient statistics it
# consumes (sim_gram_matrix + the quantized column sums) are themselves
# oracle-backed, and tests/test_plans.py pins this output against an
# independent numpy covariance+eigh replay of the same parquet.
def sim_pca_variance_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA spectrum of the embedding corpus: eigenvalues of the exact
    covariance matrix, with per-component and cumulative variance
    ratios — the curve behind every 'truncate to d'=16?' decision
    (sim_dim_truncation_recall measures recall AFTER a cut; this says
    where to cut).

    The 100 TB shape: the corpus contributes ONLY two sufficient
    statistics — the d x d quantized gram (sim_gram_matrix: one scan,
    d^2-grain shuffle, exact integers) and the d quantized column sums
    (same fixed-point scale, DECIMAL-reduced) — then the covariance
    assembly (G - s s^T / n) / (n - 1) and the O(d^3) symmetric
    eigensolve run on the driver over 64 x 64 numbers.  No iteration
    over data, no second pass, nothing resembling distributed linear
    algebra is needed below d ~ 10^4.

    Quantization makes both statistics bit-reproducible (the gram's
    docstring carries the budget); the eigensolve is deterministic
    given identical inputs, so the whole output is stable run-to-run —
    just not SQL-expressible, hence rows-only."""
    import numpy as np

    import pandas as pd

    gram = {
        (r.i, r.j): r.dot
        for r in sim_gram_matrix(spark, sf_dir).collect()  # 2080 rows
    }

    def sum_partials(batches):
        # same quantize-then-sum kernel shape as gram_partials: d sums
        # + a row count per Arrow batch (a posexplode to the N*d grain
        # was measured at ~2/3 of this query's 100x cost and moves the
        # corpus through a shuffle this kernel never pays)
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            qb = np.floor(x * GRAM_SCALE).astype(np.int64)
            yield pd.DataFrame(
                {
                    "i0": np.arange(DIM),
                    "s_part": qb.sum(axis=0),
                    "n_part": np.full(DIM, len(qb), dtype=np.int64),
                }
            )

    emb = spread(read_table(spark, sf_dir, "embeddings").select("embedding"))
    sums = (
        emb.mapInPandas(sum_partials, "i0 int, s_part long, n_part long")
        .groupBy("i0")
        .agg(
            F.sum(F.col("s_part").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("s"),
            F.sum(F.col("n_part").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("nd"),
        )
        .collect()
    )  # d rows — bounded driver state
    out_schema = (
        "component int, eigenvalue double, var_ratio double, "
        "cum_ratio double"
    )
    # Degenerate-corpus guards (the sim_mmr_diverse_topk discipline):
    # an empty embeddings table yields zero sum rows (sums[0] would
    # raise), and a 1-row corpus has no sample covariance (n - 1 == 0).
    if not sums:
        return spark.createDataFrame([], out_schema)
    n = sums[0].nd  # every i0 carries the same total row count
    if n < 2:
        return spark.createDataFrame([], out_schema)
    s = np.zeros(DIM, dtype=np.int64)
    for r in sums:
        s[r.i0] = r.s
    g = np.zeros((DIM, DIM), dtype=np.float64)
    for (i, j), v in gram.items():
        g[i - 1, j - 1] = v
        g[j - 1, i - 1] = v
    sf64 = s.astype(np.float64)
    cov = (g - np.outer(sf64, sf64) / n) / (n - 1) / (GRAM_SCALE**2)
    ev = np.linalg.eigvalsh(cov)[::-1]  # descending
    total = float(ev.sum())
    cum = np.cumsum(ev)
    if total == 0.0:
        # all-zero (or all-identical) vectors: zero variance anywhere,
        # so the ratio is a 0/0 — report 0.0 rather than NaN
        rows = [(k + 1, float(ev[k]), 0.0, 0.0) for k in range(DIM)]
    else:
        rows = [
            (k + 1, float(ev[k]), float(ev[k] / total), float(cum[k] / total))
            for k in range(DIM)
        ]
    return spark.createDataFrame(rows, out_schema)
