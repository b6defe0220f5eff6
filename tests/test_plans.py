"""Physical-plan regression tests: the scale properties the engine
depends on (scan pushdown, column pruning, broadcast joins, top-k
short-circuit, whole-stage codegen) must survive refactors — a query
that still returns correct rows but lost its pushdown is a 100 TB
regression invisible to the value-hash gate."""

import pytest

SF = "/root/testdata/sf0.01"


def _plan(spark, df, mode="formatted"):
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as e

    return e.queries()


def test_flagship_pushdown_and_broadcast(spark, queries):
    plan = _plan(spark, queries["flagship_revenue"](spark, SF))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    assert plan.count("BroadcastHashJoin") >= 2  # nation/region at minimum
    assert "CartesianProduct" not in plan


def test_scan_prunes_columns(spark, queries):
    plan = _plan(spark, queries["filter_pushdown_range"](spark, SF))
    # ReadSchema of the lineitem scan must not include unused wide columns
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_shipinstruct" not in read_schema


def test_topk_plans_take_ordered(spark, queries):
    plan = _plan(spark, queries["sort_topk"](spark, SF))
    assert "TakeOrdered" in plan  # not a global sort + limit


def test_broadcast_dims_never_shuffle(spark, queries):
    plan = _plan(spark, queries["join_broadcast_dim"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_theta_join_is_intentional_bnl(spark, queries):
    plan = _plan(spark, queries["join_theta_bnl"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan


def test_agg_uses_whole_stage_codegen(spark, queries):
    plan = _plan(spark, queries["pricing_summary"](spark, SF), mode="codegen")
    assert "WholeStageCodegen" in plan


def test_agg_is_partial_then_final(spark, queries):
    """Map-side combine must precede the shuffle (partial_sum before the
    Exchange) — the difference between shuffling raw lineitem rows and
    shuffling one row per (flag, status) per task."""
    plan = _plan(spark, queries["pricing_summary"](spark, SF), mode="simple")
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("Exchange hashpartitioning")


def test_no_unpartitioned_windows_in_bulk_paths(spark, queries):
    """Single-partition windows (Window.orderBy with no partitionBy over
    bulk data) serialize the whole dataset through one task.  The only
    allowed serial window is the <=257-row bucket-offset table inside
    shingle_vocab."""
    for name in ("window_ranking", "window_lag_lead", "window_running_frame",
                 "sim_cosine_topk", "join_asof"):
        plan = _plan(spark, queries[name](spark, SF), mode="simple")
        for line in plan.splitlines():
            if "Window" in line and "partitionBy" not in line:
                # formatted check: every Window operator must list a
                # partition spec; Spark prints windowspecdefinition(...)
                # with partition columns first — absence means global.
                assert "windowspecdefinition()" not in line.replace(" ", "")


def test_partitioned_write_prunes_partitions(spark, tmp_path, queries):
    """Directory-partitioned layout + a partition-key filter must prune
    at PLANNING time (PartitionFilters on the scan, non-matching
    directories never listed into the plan) — the layout decision that
    turns a 100 TB scan into a 1-partition read."""
    from firebase_realtime_database_backup_spark.catalog import read_table

    out = str(tmp_path / "orders_by_status")
    read_table(spark, "/root/testdata/sf0.001", "orders").write.partitionBy(
        "o_orderstatus"
    ).mode("overwrite").parquet(out)

    df = spark.read.parquet(out).filter("o_orderstatus = 'F'")
    plan = _plan(spark, df)
    part_filters = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "o_orderstatus" in part_filters
    # and the pruned read returns exactly the F rows
    expected = (
        read_table(spark, "/root/testdata/sf0.001", "orders")
        .filter("o_orderstatus = 'F'")
        .count()
    )
    assert df.count() == expected


def test_aqe_splits_skewed_join_partitions(spark, tmp_path):
    """AQE skew-join: a hot key concentrating ~90% of one side must be
    split across tasks at runtime (OptimizeSkewedJoin marks the sort-
    merge join with isSkew=true) once the skew thresholds are scaled
    down to the test data size."""
    import pyspark.sql.functions as F

    big = str(tmp_path / "skew_big")
    # 200k rows, 90% on key 7 -> one partition dwarfs the others
    spark.range(200_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 1000)
        .alias("k"),
        F.col("id").alias("payload"),
    ).write.mode("overwrite").parquet(big)
    small = str(tmp_path / "skew_small")
    spark.range(1000).select(F.col("id").alias("k"), F.lit("x").alias("v")).write.mode(
        "overwrite"
    ).parquet(small)

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        joined = spark.read.parquet(big).join(spark.read.parquet(small), "k")
        # act on THIS DataFrame so its own QueryExecution finalizes the
        # adaptive plan (count() would plan a separate aggregate query)
        assert len(joined.collect()) == 200_000
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isSkew=true" in final_plan or "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_interval_overlap_hot_bin_splits_under_aqe(spark, tmp_path, queries):
    """BASELINE.md documents the binned interval join's burst-day
    regime: 'a hot bin splits under AQE skew-join'.  Make that claim a
    tested fact on the OPERATOR itself (not a synthetic join): a corpus
    where one day concentrates ~80% of the urgent intervals is a hot
    bin on the r side; with the skew thresholds scaled to test-data
    bytes (and broadcast off, as at 100 TB where neither side fits),
    OptimizeSkewedJoin must mark the sort-merge join isSkew=true and
    split the hot bin's partition across tasks.

    The corpus is written as MULTIPLE parquet files on purpose: AQE
    splits a skewed reduce partition along its MAP-side chunks, so a
    single-file scan (one map task) leaves the hot bin unsplittable no
    matter how skewed it is — the same single-input-split failure mode
    catalog.spread() exists for, now pinned from the skew side.

    The shuffle partition count is pinned too.  Each burst-day interval
    spans two 7-day bins, so there are two hot bins; AQE calls a
    partition skewed only against the MEDIAN partition, and with 4
    partitions (a 4-core default) the two hot bins fill half of them,
    the median is hot, and nothing can be skewed."""
    import pyspark.sql.functions as F

    d = str(tmp_path / "burst_corpus")
    burst = spark.range(60_000).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 997).alias("o_custkey"),
        F.lit("O").alias("o_orderstatus"),
        F.lit(100.0).alias("o_totalprice"),
        F.lit("1996-06-03 00:00:00").cast("timestamp").alias("o_orderdate"),
        F.lit("1-URGENT").alias("o_orderpriority"),
    )
    spread_urgent = spark.range(30_000).select(
        (F.col("id") + 100_000).alias("o_orderkey"),
        (F.col("id") % 997).alias("o_custkey"),
        F.lit("O").alias("o_orderstatus"),
        F.lit(100.0).alias("o_totalprice"),
        F.expr(
            "timestamp'1996-01-01 00:00:00'"
            " + make_interval(0, 0, 0, cast(id % 360 as int), 0, 0, 0)"
        ).alias("o_orderdate"),
        F.lit("1-URGENT").alias("o_orderpriority"),
    )
    # s side: 400 high-priority orders, ~40% on the burst day, so
    # hot-bin pairs stay bounded while r-side bytes are skewed
    high = spark.range(400).select(
        (F.col("id") + 200_000).alias("o_orderkey"),
        (F.col("id") % 997).alias("o_custkey"),
        F.lit("O").alias("o_orderstatus"),
        F.lit(100.0).alias("o_totalprice"),
        F.when(
            F.col("id") % 5 < 2,
            F.lit("1996-06-03 00:00:00").cast("timestamp"),
        )
        .otherwise(
            F.expr(
                "timestamp'1996-01-01 00:00:00'"
                " + make_interval(0, 0, 0, cast(id % 360 as int), 0, 0, 0)"
            )
        )
        .alias("o_orderdate"),
        F.lit("2-HIGH").alias("o_orderpriority"),
    )
    burst.unionByName(spread_urgent).unionByName(high).repartition(
        8
    ).write.mode("overwrite").parquet(str(tmp_path / "burst_corpus" / "orders.parquet"))

    keys = (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.shuffle.partitions",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "32KB",
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = queries["join_interval_overlap"](spark, d)
        rows = df.collect()  # finalize THIS DataFrame's adaptive plan
        assert len(rows) > 0
        final_plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isSkew=true" in final_plan or "skew=true" in final_plan, (
            final_plan[:2000]
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tpch_q6_is_pure_scan_filter_agg(spark, queries):
    """Q6 is the canonical pushdown benchmark: all three predicates must
    reach the parquet scan and the plan must contain no join at all."""
    plan = _plan(spark, queries["tpch_q6_forecast"](spark, SF))
    pushed = plan.split("PushedFilters")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    assert "Join" not in plan


def test_tpch_q19_derives_disjunct_pushdown(spark, queries):
    """Q19's OR-of-conjuncts must stay ONE equi join while the per-side
    disjunctions are pushed into BOTH scans (Catalyst's CNF-derived
    filters) — losing this turns a candidate-row join into a full
    lineitem x part join at 100 TB."""
    plan = _plan(spark, queries["tpch_q19_disjunctive"](spark, SF))
    assert "CartesianProduct" not in plan
    scans = [l for l in plan.splitlines() if "PushedFilters" in l]
    quantity_pushed = any("l_quantity" in s and "Or(" in s for s in scans)
    brand_pushed = any("p_brand" in s and "Or(" in s for s in scans)
    assert quantity_pushed and brand_pushed, scans


def test_tpch_two_role_dims_broadcast(spark, queries):
    """Q7/Q8 join nation twice under different roles: both copies (and
    region in Q8) must be broadcast, never shuffled."""
    for name in ("tpch_q7_volume_shipping", "tpch_q8_market_share"):
        plan = _plan(spark, queries[name](spark, SF), mode="simple")
        assert plan.count("BroadcastHashJoin") >= 2, name
        assert "CartesianProduct" not in plan, name


def test_tpch_q13_keeps_left_outer(spark, queries):
    """The priority predicate lives in the JOIN condition; a refactor
    moving it to WHERE silently drops zero-order customers by making
    the join inner."""
    plan = _plan(spark, queries["tpch_q13_order_distribution"](spark, SF), mode="simple")
    assert "LeftOuter" in plan


def test_tpch_correlated_subqueries_decorrelate(spark, queries):
    """Q17's per-part AVG and Q21's EXISTS pair must become joins
    (semi/anti) — a physical plan still carrying a subquery per row is
    the O(n^2) failure mode."""
    p17 = _plan(spark, queries["tpch_q17_small_qty_revenue"](spark, SF), mode="simple")
    physical17 = p17.split("== Physical Plan ==")[-1]
    assert "Subquery" not in physical17, physical17[:500]
    p21 = _plan(spark, queries["tpch_q21_sole_returned"](spark, SF), mode="simple")
    assert "LeftSemi" in p21 and "LeftAnti" in p21
    p16 = _plan(spark, queries["tpch_q16_supplier_variety"](spark, SF), mode="simple")
    assert "LeftAnti" in p16  # NOT IN -> anti join (non-null key)


def test_range_clustered_layout_gives_disjoint_file_stats(spark, tmp_path):
    """Range-clustered write (repartitionByRange + sortWithinPartitions)
    must produce part-files with DISJOINT key ranges — the layout that
    lets parquet min/max footer stats skip whole files for a key-range
    filter.  At 100 TB this is the difference between scanning every
    file and scanning the 1-2 files a date predicate touches."""
    import glob

    from pyspark.sql import functions as F

    from firebase_realtime_database_backup_spark.catalog import read_table

    out = str(tmp_path / "orders_clustered")
    (
        read_table(spark, "/root/testdata/sf0.01", "orders")
        .repartitionByRange(8, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) >= 4
    ranges = []
    for f in files:
        mm = (
            spark.read.parquet(f)
            .agg(F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"))
            .first()
        )
        if mm["lo"] is not None:
            ranges.append((mm["lo"], mm["hi"]))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next, (hi_prev, lo_next)


def test_zorder_layout_footer_locality(spark, queries, tmp_path):
    """Z-order layout must deliver what it exists for: after writing
    lineitem ordered by the Morton code of (l_partkey, l_suppkey), the
    per-file min/max footer ranges must be (a) disjoint in zval — the
    single physical sort key — and (b) LOCAL in *both* source
    dimensions: the average per-file key span must be a small fraction
    of the global span for l_partkey and l_suppkey simultaneously,
    which no single-column sort can achieve.  That bi-dimensional
    locality is exactly what lets min/max pruning serve predicates on
    either key from one layout at 100 TB."""
    import glob

    from pyspark.sql import functions as F

    out = str(tmp_path / "lineitem_zorder")
    df = queries["layout_zorder"](spark, SF)
    df.write.mode("overwrite").parquet(out)
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) >= 8
    spans = {"zval": [], "l_partkey": [], "l_suppkey": []}
    glo_row = df.agg(
        *[F.min(c).alias(f"lo_{c}") for c in spans],
        *[F.max(c).alias(f"hi_{c}") for c in spans],
    ).first()
    glo = {c: (glo_row[f"lo_{c}"], glo_row[f"hi_{c}"]) for c in spans}
    z_ranges = []
    for f in files:
        part = spark.read.parquet(f)
        row = part.agg(
            *[F.min(c).alias(f"lo_{c}") for c in spans],
            *[F.max(c).alias(f"hi_{c}") for c in spans],
        ).first()
        if row["lo_zval"] is None:
            continue
        z_ranges.append((row["lo_zval"], row["hi_zval"]))
        for c in spans:
            spans[c].append(row[f"hi_{c}"] - row[f"lo_{c}"])
    z_ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(z_ranges, z_ranges[1:]):
        assert hi_prev <= lo_next, (hi_prev, lo_next)
    for c in ("l_partkey", "l_suppkey"):
        global_span = glo[c][1] - glo[c][0]
        avg_span = sum(spans[c]) / len(spans[c])
        # interleaving 16 bits over >=8 files must localize BOTH keys;
        # a plain sort on one key leaves the other's span at ~100%
        assert avg_span <= 0.75 * global_span, (c, avg_span, global_span)


# Queries where a BroadcastNestedLoopJoin is the DESIGNED plan, not an
# accident: the explicit theta-join demo, the two similarity ops whose
# small side (query set / centroid table) is broadcast on purpose for
# an all-pairs score, and tf-idf's ONE-ROW corpus-count cross join (the
# scalar-subquery shape — a 1-row broadcast probe, cost O(rows)).
# quality_audit_constraints cross-joins two ONE-ROW aggregate results
# (per-table rule vectors) — same 1-row-broadcast shape as text_tfidf.
BNL_DESIGNED = {
    "join_theta_bnl",
    "sim_cosine_topk",
    "sim_ivf_topk",
    "sim_topk_incremental",
    "text_tfidf",
    "quality_audit_constraints",
    # SemDeDup Lloyd's iterations: each scores all vectors against the
    # K-row broadcast centroid table — the K-row cross join IS the
    # algorithm (same shape as sim_ivf_topk's centroid assign).
    "dedup_semantic_kmeans",
    "dedup_semantic_kmeans_scaled",
    # sim_cosine_topk's corpus x broadcast-queries shape: the pair BNL
    # appears once per tier branch (baseline + truncated — disjoint
    # d-subsets after filter pushdown, one pass of work total).
    "sim_dim_truncation_recall",
    # the same corpus x broadcast-anchors score, consumed by both the
    # positive and negative argmax branches of the triplet join
    "sim_contrastive_triplets",
    # sim_cosine_topk's corpus x broadcast-queries shape over the
    # deterministic 1/8 query sample (the vote stages are equi-grain)
    "sim_knn_label_vote",
}
# 1-row broadcast probes (scalar-subquery shape): the broadcast bloom
# bitmap, the min-language-count target, winsorize-style global bounds,
# and the skew report's totals row each cross-join a SINGLE aggregate
# row.  Guarded below with the exact BNL count per plan, so the
# allowlist can't silently absorb an extra, unintended cross join added
# later.  quality_drift_chi2 carries two by design: building the 1-row
# (t_old, t_new) totals row is itself a 1-row x 1-row cross join, then
# that row attaches to the bucket histogram.
BNL_ONE_ROW_PROBES = {
    "join_bloom_prefilter": 1,
    "text_lang_rebalance": 1,
    "quality_skew_report": 1,
    "events_rfm_scaled": 1,
    "quality_drift_chi2": 2,
    "agg_heavy_hitters": 1,  # 1-row corpus-total probe under the n/K cut
    "layout_zorder": 1,      # 1-row min/max bounds row for key binning
    "quality_benford": 1,    # 1-row total row under the digit histogram
    # good-rows 1-row summary x quarantined 1-row count (audit row)
    "ingest_jsonl_quarantine": 1,
    # 1-row before-files summary x 1-row after-files summary (audit row)
    "layout_compact_small_files": 1,
    # 1-row (n_total, z) normalizer row under the per-source rates
    "mix_temperature_sampled": 1,
    # 1-row corpus-totals row under the decile report
    "events_activity_concentration": 1,
    # the quality_drift_chi2 shape: the 1-row (n_uni, n_big) totals row
    # is itself a 1-row x 1-row cross join, then attaches to the pairs
    "text_bigram_collocations": 2,
    # 1-row corpus-token-total row under the per-term surprisal table
    "text_surprisal_score": 1,
    # 1-row corpus-token-total row under the first-token unigram term
    "text_bigram_surprisal": 1,
    # (nodes, wedges) x (edges) x (triangles): two 1-row x 1-row cross
    # joins assembling the single stats row
    "graph_triangle_count": 2,
    # 1-row item-total row under the degree histogram (share column)
    "graph_degree_distribution": 1,
    # 1-row (corpus_tokens, wsum) totals row under the per-source plan
    "mix_epoch_repeat_plan": 1,
    # 1-row (total, k) row under the per-label balance report
    "quality_label_balance": 1,
    # 1-row leaked-users row x 1-row events-total row under the 3-row
    # per-split report (round 6)
    "quality_split_leakage_audit": 2,
    # 1-row corpus-horizon (max day) probe under the per-user lifetimes
    "events_survival_table": 1,
    # |langs|-row x |sources|-row margin cross building the contingency
    # grid (fixed K-row relations), then x the 1-row total — the grid
    # is the designed output grain, never data-sized (round 6)
    "quality_chi2_independence": 2,
    # 1-row grand-total row under the 2-row arm-count report (round 6)
    "events_sample_ratio_mismatch": 1,
    # 1-row min-day probe + 1-row bin-count k + the DELIBERATE <=10-row
    # cut-table theta-join assigning distinct cents to deciles — all
    # three broadcast sides are bounded by construction (round 6)
    "quality_psi_drift": 3,
    # 1-row n_docs probe under the 10-row decile curve (round 6)
    "text_vocab_growth": 1,
    # the quality_drift_chi2 shape: the 1-row (u_nat, u_seg) statistics
    # row is itself a 1-row x 1-row cross join, then attaches to the
    # candidate pairs (round 7)
    "dedup_entity_resolution": 2,
    # same scorer, sampled candidates (round 8)
    "dedup_entity_resolution_sampled": 2,
    # 1-row (u_nat x u_seg) init row onto the 1-row pattern pivot, then
    # the fitted-parameter row attaches to the <=4-row pattern table —
    # the EM sufficient statistic is 1 row by design (round 8)
    "dedup_entity_resolution_em": 3,
    # closure over the scorer: inherits its 2 probes; the fixpoint and
    # size window add none.  The edge list is CACHED (min-label /
    # union-find input), and simple-mode explain prints a cached
    # relation's child plan twice (at the InMemoryTableScan and inside
    # the InMemoryRelation), so the 2 executed probes appear as 4 in
    # the plan STRING — cap at 4, executed shape is 2 (round 8)
    "dedup_entity_clusters": 4,
    "dedup_entity_clusters_sampled": 4,
    # 1-row (corpus_total, budget) row under the |sources| grain
    # (round 7)
    "mix_budget_apportion": 1,
    # 1-row corpus-count probe scaling within-source percentiles onto
    # the pooled rank scale (round 8)
    "quality_score_calibration": 1,
    # the 1-row pooled-moments row under the 2-row arm report; the
    # min-day probe sits behind the arm relation's localCheckpoint so
    # it executes once and never reaches the final plan (round 8)
    "events_cuped_adjustment": 1,
}
BNL_ALLOWED = BNL_DESIGNED | set(BNL_ONE_ROW_PROBES)


@pytest.mark.slow
def test_registry_wide_plan_lint(spark, queries):
    """Every registered query must (a) pass analysis/optimization at
    sf0.01 and (b) plan without an accidental CartesianProduct or
    BroadcastNestedLoopJoin — the two physical shapes that turn into
    cluster-killers at 100 TB.  A new operator that slips an unintended
    cross join past its value-hash check fails here."""
    offenders = {}
    for name, fn in queries.items():
        df = fn(spark, SF)
        plan = _plan(spark, df, mode="simple")
        flags = []
        if "CartesianProduct" in plan:
            flags.append("cartesian")
        if "BroadcastNestedLoopJoin" in plan and name not in BNL_ALLOWED:
            flags.append("bnl")
        if name in BNL_ONE_ROW_PROBES and (
            plan.count("BroadcastNestedLoopJoin") > BNL_ONE_ROW_PROBES[name]
        ):
            flags.append(
                f"probe allowlist widened: "
                f">{BNL_ONE_ROW_PROBES[name]} BNL in plan"
            )
        # duplicate/empty column names silently break the driver's
        # column-sorted value-hash compare
        cols = df.columns
        if len(set(cols)) != len(cols) or any(not c for c in cols):
            flags.append(f"bad columns {cols}")
        if flags:
            offenders[name] = flags
    assert not offenders, offenders


def test_ann_recall_vs_exact_topk(spark, queries):
    """Quality gate for the approximate similarity paths: LSH-bucketed
    ANN and IVF must recover a meaningful fraction of the EXACT cosine
    top-k neighbor pairs (recall is the metric that matters for ANN —
    value-hash checks only pin determinism, not usefulness).  Bucketing
    shrinks the candidate space by design, so thresholds are
    calibrated to this data/plane-count and act as regression floors:
    a refactor that silently degrades bucketing to near-zero overlap
    fails here."""
    exact = {
        (r["q_id"], r["c_id"])
        for r in queries["sim_cosine_topk"](spark, SF).collect()
    }
    assert exact, "exact top-k produced no pairs"
    # sim_ann_lsh (single-table, 8 AND-bits) is deliberately excluded:
    # on this weakly-clustered data (mean neighbor cosine ~0.33) its
    # recall is ~0 by construction — that IS its documented failure
    # mode, and the reason sim_ann_multitable exists.
    # sim_pq_topk measured 0.92 here (0.80 at sf0.1): the ADC shortlist
    # re-ranked with exact cosine recovers most true neighbors even on
    # this weakly-clustered data — floored with margin like the others.
    recalls = {}
    for name, floor in (
        ("sim_ann_multitable", 0.40),
        ("sim_ivf_topk", 0.60),
        ("sim_pq_topk", 0.60),
        ("sim_ivfpq_topk", 0.60),
    ):
        approx = {
            (r["q_id"], r["c_id"]) for r in queries[name](spark, SF).collect()
        }
        recalls[name] = recall = len(exact & approx) / len(exact)
        assert recall >= floor, f"{name} recall {recall:.3f} < {floor}"
    # The IVF x PQ composition exists BECAUSE flat-PQ recall drifts down
    # with corpus size (0.92 at sf0.01 -> 0.80 at sf0.1): residual
    # codebooks quantize the within-cell distribution more finely, so
    # the composed form must never fall below the flat form it replaces
    # (measured 0.92 vs 0.92 here; 0.96 vs 0.80 at sf0.1).
    assert recalls["sim_ivfpq_topk"] >= recalls["sim_pq_topk"], recalls


def test_ivfpq_probed_fraction_bounded(spark):
    """The IVF side of sim_ivfpq_topk must actually prune: a query
    probes IVFPQ_PROBE of IVFPQ_CELLS cells, so the scanned fraction of
    the code table is the summed occupancy of the probed cells.  Pin the
    WORST-CASE fraction (the IVFPQ_PROBE fullest cells) at <= 2x the
    uniform share — if the coarse quantizer ever collapses (all vectors
    in one cell), 'ANN' silently degrades to a full flat scan and this
    fails.  Measured at sf0.1: worst-case 0.28 vs the 0.50 bound."""
    from firebase_realtime_database_backup_spark.operators.similarity import (
        IVFPQ_CELLS,
        IVFPQ_PROBE,
        ivfpq_cell_assignments,
    )

    occ = {
        r["cell"]: r["count"]
        for r in ivfpq_cell_assignments(spark, SF).groupBy("cell").count().collect()
    }
    total = sum(occ.values())
    worst = sum(sorted(occ.values())[-IVFPQ_PROBE:]) / total
    bound = 2.0 * IVFPQ_PROBE / IVFPQ_CELLS
    assert worst <= bound, f"probed fraction {worst:.3f} > {bound}"


def test_ivfpq_persisted_prunes_partitions_and_matches_inline(spark):
    """The persisted IVF-PQ index must (a) return EXACTLY the inline
    form's output — same codebooks, same shortlist, same re-rank — and
    (b) plan its code-table scan with PartitionFilters on cell, i.e.
    unprobed cells' files are pruned at the directory level rather than
    read-and-filtered.  (b) is the whole point of persisting the index
    partitioned by cell: at 100 TB a probe touches probed-cell files
    only."""
    from firebase_realtime_database_backup_spark.operators.similarity import (
        sim_ivfpq_persisted,
        sim_ivfpq_topk,
    )

    pers_df = sim_ivfpq_persisted(spark, SF)
    inline = sorted(
        (r["q_id"], r["c_id"], r["rk"], r["cosine"])
        for r in sim_ivfpq_topk(spark, SF).collect()
    )
    pers = sorted(
        (r["q_id"], r["c_id"], r["rk"], r["cosine"])
        for r in pers_df.collect()
    )
    assert pers == inline and pers
    plan = pers_df._jdf.queryExecution().executedPlan().toString()
    i = plan.find("PartitionFilters: [cell")
    assert i != -1, "index scan lost its cell PartitionFilters"
    assert "INSET" in plan[i : i + 120] or "isin" in plan[i : i + 120]


def test_column_profile_scaled_drops_expand_and_tracks_exact(spark, queries):
    """quality_column_profile's 4-column exact count-distinct plans an
    Expand (every row replicated per counted column); the scaled twin's
    approx_count_distinct must NOT — its whole reason to exist is the
    collapse to plain partial aggs with fixed-size sketch state.  And
    the estimates must stay within 10% of the exact counts (HLL++
    default rsd is 5%), or the profile misclassifies cardinality."""
    exact_df = queries["quality_column_profile"](spark, SF)
    scaled_df = queries["quality_column_profile_scaled"](spark, SF)
    exact_plan = exact_df._jdf.queryExecution().executedPlan().toString()
    scaled_plan = scaled_df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in exact_plan  # the documented teaching-form cost
    assert "Expand" not in scaled_plan
    exact = {r["column_name"]: r["n_distinct"] for r in exact_df.collect()}
    for r in scaled_df.collect():
        e = exact[r["column_name"]]
        assert abs(r["n_distinct_approx"] - e) <= max(1, 0.10 * e), (
            r["column_name"], r["n_distinct_approx"], e,
        )
        assert r["n_rows"] and r["n_non_null"]  # shared shape intact


def _minhash_ground_truth(spark):
    """Brute-force all-pairs Jaccard ground truth at sf0.001 (where
    O(n^2) is affordable): returns (truth, exact_dups) pair sets at the
    production JACCARD_THRESHOLD.  Shared by both MinHash recall tests
    so the two variants are pinned against the SAME truth."""
    from firebase_realtime_database_backup_spark.operators.dedup import (
        JACCARD_THRESHOLD,
    )
    from firebase_realtime_database_backup_spark.operators.text import (
        doc_shingle_ids,
    )
    from pyspark.sql import functions as F

    dsh = doc_shingle_ids(spark, "/root/testdata/sf0.001")
    sets = {
        r.doc_id: frozenset(r.sids)
        for r in dsh.groupBy("doc_id")
        .agg(F.collect_set("sid").alias("sids"))
        .collect()
    }
    ids = sorted(sets)
    truth, exact_dups = set(), set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            j = inter / len(sets[a] | sets[b])
            if j >= JACCARD_THRESHOLD:
                truth.add((a, b))
                if j == 1.0:
                    exact_dups.add((a, b))
    return truth, exact_dups


def test_minhash_lsh_recall_vs_brute_force(spark, queries):
    """LSH banding is a recall/cost trade: at 16 hashes in 4x4 bands the
    collision probability at jaccard 0.6 is ~0.42 and rises steeply
    toward 1.0 for true duplicates.  Pin a recall floor against the
    brute-force all-pairs ground truth at sf0.001 (where O(n^2) is
    affordable), and require perfect recall for exact-duplicate pairs —
    a band of an identical signature ALWAYS collides, so missing a
    jaccard-1.0 pair would mean the banding arithmetic itself broke."""
    sf = "/root/testdata/sf0.001"
    truth, exact_dups = _minhash_ground_truth(spark)
    assert truth, "ground truth empty at sf0.001 — corpus has no near-dups"

    found = {
        (r.doc_a, r.doc_b)
        for r in queries["dedup_minhash_lsh"](spark, sf).collect()
    }
    assert exact_dups <= found, "LSH missed an exact-duplicate pair"
    recall = len(truth & found) / len(truth)
    assert recall >= 0.4, f"LSH recall {recall:.3f} < 0.4"
    # precision is 1.0 by construction (candidates are verified with
    # exact Jaccard before emission)
    assert found <= truth


def test_jsonl_corrupt_record_handling(spark, tmp_path):
    """Ingest robustness: a malformed JSONL line must not kill a 100 TB
    load.  PERMISSIVE (default) nulls the bad row into
    _corrupt_record for quarantine; FAILFAST surfaces the error for
    strict pipelines.  Both contracts pinned."""
    import pytest

    p = tmp_path / "rows.jsonl"
    p.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n{not json at all\n')

    schema = "a bigint, b string, _corrupt_record string"
    df = spark.read.schema(schema).json(str(p)).cache()
    try:
        assert df.count() == 3
        assert df.filter(df._corrupt_record.isNull()).count() == 2
        bad = df.filter(df._corrupt_record.isNotNull()).collect()
        assert len(bad) == 1 and bad[0].a is None
    finally:
        df.unpersist()

    strict_reader = (
        spark.read.schema("a bigint, b string").option("mode", "FAILFAST")
    )
    with pytest.raises(Exception):
        strict_reader.json(str(p)).collect()


def test_minhash_xxhash_variant_correctness(spark, queries):
    """The production (xxhash64, dictionary-free) MinHash variant has no
    SQL oracle, so pin it against brute-force ground truth directly:
    perfect recall on exact-duplicate pairs (identical shingle sets →
    identical signatures under ANY hash family) and precision 1.0
    (candidates are Jaccard-verified before emission)."""
    sf = "/root/testdata/sf0.001"
    truth, exact_dups = _minhash_ground_truth(spark)

    found = {
        (r.doc_a, r.doc_b)
        for r in queries["dedup_minhash_xxhash"](spark, sf).collect()
    }
    assert exact_dups <= found, "xxhash variant missed an exact-duplicate pair"
    assert found <= truth, "xxhash variant emitted a below-threshold pair"
    assert len(truth & found) / len(truth) >= 0.4


def test_cross_corpus_xxhash_variant_correctness(spark, queries):
    """The production (xxhash64) cross-corpus twin has no SQL oracle;
    pin it against brute-force cross-split ground truth at sf0.001:
    perfect recall on exact-duplicate (new, corpus) pairs, precision
    1.0 (pairs are Jaccard-verified on the folded ids before emission),
    and a recall floor at the looser CROSS_THRESHOLD."""
    from firebase_realtime_database_backup_spark.operators.dedup import (
        CROSS_THRESHOLD,
    )
    from firebase_realtime_database_backup_spark.operators.text import (
        doc_shingle_ids,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    dsh = doc_shingle_ids(spark, sf)
    sets = {
        r.doc_id: frozenset(r.sids)
        for r in dsh.groupBy("doc_id")
        .agg(F.collect_set("sid").alias("sids"))
        .collect()
    }
    truth, exact_dups = set(), set()
    for a in sets:
        if a % 10 != 0:
            continue
        for b in sets:
            if b % 10 == 0 or b == a:
                continue
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            j = inter / len(sets[a] | sets[b])
            if j >= CROSS_THRESHOLD:
                truth.add((a, b))
                if j == 1.0:
                    exact_dups.add((a, b))
    assert truth, "cross-split ground truth empty at sf0.001"

    found = {
        (r.new_doc_id, r.corpus_doc_id)
        for r in queries["dedup_cross_corpus_xxhash"](spark, sf).collect()
    }
    assert exact_dups <= found, "xxhash cross-corpus missed an exact-dup pair"
    assert found <= truth, "xxhash cross-corpus emitted a below-threshold pair"
    assert len(truth & found) / len(truth) >= 0.4


def test_cross_corpus_xxhash_plan_has_no_vocab_window(spark, queries):
    """The production cross-corpus twin's reason to exist is the ABSENT
    single-partition vocabulary row_number window: its plan must carry
    xxhash64 shingle ids and NO Window operator anywhere (the dictionary
    twin's vocab window is the stage that becomes hours at billions of
    distinct shingles)."""
    df = queries["dedup_cross_corpus_xxhash"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan, "hash shingle ids missing from plan"
    assert "Window" not in plan, "vocab window leaked into the prod twin"


def test_semantic_kmeans_hier_plan_shape(spark, queries):
    """The hierarchical SemDeDup must keep its two-level contract in the
    physical plan: the coarse assign is an Arrow MapInPandas (broadcast
    K1-matrix into batches, map-side), the fine level is ONE
    FlatMapGroupsInPandas after the coarse-cell shuffle, and the whole
    final job pays at most 2 Exchanges (assign-join + groupBy cid) —
    a third Exchange would mean the fine level leaked a shuffle."""
    df = queries["dedup_semantic_kmeans_hier"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange") <= 2, plan


def test_flagship_bucketed_orderkey_join_has_no_exchange(spark, queries):
    """The bucketed-layout flagship variant: lineitem⋈orders over the
    co-located bucket tables must plan WITHOUT an Exchange on the
    orderkey join (the 12.6×-at-100× bottleneck in the plain flagship,
    BASELINE.md scale experiment #3), and the full query must return
    exactly the plain flagship's rows."""
    from firebase_realtime_database_backup_spark.operators.relational import (
        ensure_bucketed_facts,
    )

    _, li_name, od_name = ensure_bucketed_facts(spark, SF)
    li, od = spark.table(li_name), spark.table(od_name)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(od, li["l_orderkey"] == od["o_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        bucketed = queries["flagship_revenue_bucketed"](spark, SF).collect()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024)
        )
    plain = queries["flagship_revenue"](spark, SF).collect()
    # order-insensitive; revenue within one cent — the bucketed twin
    # accumulates in exact DECIMAL, the plain twin in order-dependent
    # double, so the last rounded digit may differ by 0.01
    key = lambda r: (r["r_name"], r["l_returnflag"])  # noqa: E731
    b = {key(r): r for r in bucketed}
    p = {key(r): r for r in plain}
    assert b.keys() == p.keys()
    for k in b:
        assert b[k]["n_items"] == p[k]["n_items"], k
        assert abs(b[k]["revenue"] - p[k]["revenue"]) <= 0.011, k


def test_pipeline_scaled_routes_production_ops(spark, queries):
    """The production corpus-prep entry point must compose the SCALED
    near-dup twins: the plan carries xxhash64 (dictionary-free MinHash —
    no global vocab rank window) and the removal stages anti-join on
    doc_id.  Output is a subset of the oracle-checked base pipeline."""
    df = queries["pipeline_prepare_corpus_scaled"](spark, SF)
    plan = _plan(spark, df, mode="formatted")
    assert "xxhash64" in plan
    base_ids = {
        r["doc_id"] for r in queries["pipeline_prepare_corpus"](spark, SF).collect()
    }
    kept_ids = {r["doc_id"] for r in df.collect()}
    assert kept_ids <= base_ids
    assert kept_ids  # near-dup removal must not wipe the corpus
    # no content loss: every dropped doc must have a KEEPER that
    # survives — a pair whose smaller-id side was quality-filtered out
    # must not delete the surviving copy
    dropped = base_ids - kept_ids
    keepers_ok = set()
    for r in queries["dedup_minhash_xxhash"](spark, SF).collect():
        if r["doc_a"] in base_ids:
            keepers_ok.add(r["doc_b"])
    for r in queries["dedup_embedding_cosine_scaled"](spark, SF).collect():
        if r["is_dup"] and r["nn_id"] < r["vec_id"] and r["nn_id"] in base_ids:
            keepers_ok.add(r["vec_id"])
    assert dropped <= keepers_ok, dropped - keepers_ok


def test_shuffle_hash_hint_plans_shj(spark, queries):
    """The SHUFFLE_HASH hint must actually produce a ShuffledHashJoin —
    losing the hint silently reverts to sort-merge and re-adds two sort
    passes on the 100 TB side."""
    plan = _plan(spark, queries["join_shuffle_hash_hint"](spark, SF), mode="simple")
    assert "ShuffledHashJoin" in plan, plan


def test_hll_union_rollup_tracks_exact_counts(spark, queries):
    """Merging daily HLL sketches to the month must estimate within the
    sketch's documented error envelope of the exact month-grain
    distinct count (±5% is generous for the default lgK)."""
    from pyspark.sql import functions as F

    from firebase_realtime_database_backup_spark.catalog import read_table

    got = {
        (r.month, r.event_type): r.approx_monthly_users
        for r in queries["agg_hll_union_rollup"](spark, SF).collect()
    }
    exact = {
        (r.month, r.event_type): r.n
        for r in read_table(spark, SF, "events")
        .groupBy(F.date_trunc("month", "ts").alias("month"), "event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert got.keys() == exact.keys()
    for k, est in got.items():
        assert abs(est - exact[k]) <= max(2, 0.05 * exact[k]), (k, est, exact[k])


def test_span_scrub_keeps_exactly_one_occurrence_no_window(spark, queries):
    """text_span_scrub's contract: exactly ONE occurrence of every
    distinct 8-token span survives (sum of kept spans == corpus distinct
    span count), and the plan computes first-occurrence via the
    partially-aggregatable MIN(struct) argmin — NO Window operator (a
    row_number window would sort every occurrence of the hottest
    boilerplate span in one task)."""
    from pyspark.sql import functions as F

    from firebase_realtime_database_backup_spark.catalog import read_table
    from firebase_realtime_database_backup_spark.operators.text import SPAN_W

    df = queries["text_span_scrub"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "argmin regressed to a window"

    agg = df.agg(
        F.sum("n_spans").alias("s"), F.sum("n_removed").alias("r")
    ).collect()[0]
    toks = read_table(spark, SF, "documents").select(
        F.split("text", " ").alias("t")
    )
    n_distinct = (
        toks.filter(F.size("t") >= SPAN_W)
        .select(
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        (F.floor(F.size("t") / SPAN_W) - 1).cast("int"),
                    ),
                    lambda i: F.array_join(
                        F.slice("t", i * SPAN_W + 1, SPAN_W), " "
                    ),
                )
            ).alias("span")
        )
        .select(F.count_distinct("span"))
        .collect()[0][0]
    )
    assert agg.s - agg.r == n_distinct, (agg.s, agg.r, n_distinct)


def test_cross_corpus_cosine_arrow_matches_teaching_form(spark, queries):
    """The Arrow cogrouped-matmul twin must reproduce the oracle-exact
    interpreted form bit-for-bit in its CHOICES (same nearest corpus
    neighbor, same dup flag for every batch vector) with cosines equal
    to BLAS-vs-fold summation noise (<1e-12), and its plan must carry
    the two Arrow nodes (MapInPandas assign, FlatMapGroupsInPandas
    nearest) with NO per-pair join or window."""
    ref = {
        r.new_vec_id: (r.nn_corpus_id, r.nn_cosine, r.is_dup)
        for r in queries["dedup_cross_corpus_cosine"](spark, SF).collect()
    }
    df = queries["dedup_cross_corpus_cosine_arrow"](spark, SF)
    got = {
        r.new_vec_id: (r.nn_corpus_id, r.nn_cosine, r.is_dup)
        for r in df.collect()
    }
    assert ref.keys() == got.keys()
    for k in ref:
        assert ref[k][0] == got[k][0], (k, ref[k], got[k])
        assert abs(ref[k][1] - got[k][1]) < 1e-12, (k, ref[k], got[k])
        assert ref[k][2] == got[k][2], (k, ref[k], got[k])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "Window" not in plan
    assert "Join" not in plan, "pair join leaked into the cogrouped twin"


def test_cross_corpus_cap_determinism(spark, queries, monkeypatch):
    """Round 9's per-bucket candidate cap (CROSS_ARROW_BUCKET_CAP) must
    be invisible at default size on the test corpus (the pin test above
    covers that), and when FORCED to bind (cap=3): keep the output key
    set invariant (a batch vector with bucket-mates keeps >= 1), stay
    bit-deterministic across runs (hash-ordered sample, no row-order
    dependence), never report a better cosine than the uncapped search,
    and never flag a dup the uncapped search would not."""
    from firebase_realtime_database_backup_spark.operators import dedup as dd

    full = {
        r.new_vec_id: (r.nn_corpus_id, r.nn_cosine, r.is_dup)
        for r in queries["dedup_cross_corpus_cosine_arrow"](spark, SF).collect()
    }
    monkeypatch.setattr(dd, "CROSS_ARROW_BUCKET_CAP", 3)
    capped1 = {
        r.new_vec_id: (r.nn_corpus_id, r.nn_cosine, r.is_dup)
        for r in queries["dedup_cross_corpus_cosine_arrow"](spark, SF).collect()
    }
    capped2 = {
        r.new_vec_id: (r.nn_corpus_id, r.nn_cosine, r.is_dup)
        for r in queries["dedup_cross_corpus_cosine_arrow"](spark, SF).collect()
    }
    assert capped1 == capped2, "capped candidate sample is not deterministic"
    assert capped1.keys() == full.keys(), "cap changed the output key set"
    changed = 0
    for k, (nn, cos, dup) in capped1.items():
        assert cos <= full[k][1] + 1e-12, (k, cos, full[k])
        assert (not dup) or full[k][2], (k, "cap invented a dup flag")
        changed += nn != full[k][0]
    # the corpus is small enough that SOME buckets exceed 3 candidates
    # — the forced cap must actually have engaged for the test to mean
    # anything (if this fires, shrink the cap, don't delete the assert)
    assert changed > 0, "cap=3 never engaged on the test corpus"


def test_embedding_cosine_arrow_matches_scaled_form(spark, queries):
    """The within-corpus Arrow twin must reproduce the oracle-exact
    scaled form's choices exactly (same nearest bucket-mate + dup flag
    per vector), cosines within BLAS-vs-fold noise, via the two Arrow
    nodes with no pair join and no window."""
    ref = {
        r.vec_id: (r.nn_id, r.nn_cosine, r.is_dup)
        for r in queries["dedup_embedding_cosine_scaled"](spark, SF).collect()
    }
    df = queries["dedup_embedding_cosine_arrow"](spark, SF)
    got = {r.vec_id: (r.nn_id, r.nn_cosine, r.is_dup) for r in df.collect()}
    assert ref.keys() == got.keys()
    for k in ref:
        assert ref[k][0] == got[k][0], (k, ref[k], got[k])
        assert abs(ref[k][1] - got[k][1]) < 1e-12, (k, ref[k], got[k])
        assert ref[k][2] == got[k][2], (k, ref[k], got[k])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" in plan
    assert "Window" not in plan
    assert "Join" not in plan, "pair join leaked into the bucket-tile twin"


def test_span_dedup_xxhash_matches_exact_and_is_hash_keyed(spark, queries):
    """The xxhash64 span-dedup twin must equal the oracle-exact form
    row-for-row on the test corpus and carry xxhash64 (not span text)
    as its shuffle key."""
    ref = {
        r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_chars)
        for r in queries["text_span_dedup"](spark, SF).collect()
    }
    df = queries["text_span_dedup_xxhash"](spark, SF)
    got = {
        r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_chars)
        for r in df.collect()
    }
    assert ref == got
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan, "hash span keys missing from plan"


def test_interval_overlap_joins_on_bins_not_quadratic(spark, queries):
    """The interval-overlap join must execute as a bin equi-join — no
    BroadcastNestedLoop/Cartesian product anywhere in the plan (the
    quadratic fallback Spark picks when a join has only range
    predicates)."""
    df = queries["join_interval_overlap"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, "quadratic join leaked"
    assert "CartesianProduct" not in plan, "quadratic join leaked"


def test_interval_overlap_counts_two_bin_pairs_once(spark, tmp_path):
    """Adversarial fixture for the first-shared-bin predicate: two
    intervals that overlap across TWO shared bins must be counted
    exactly once, and a pair overlapping in REAL time but placed so the
    overlap region spans a bin boundary must still be found.  Built as
    a tiny orders parquet driven through the registered query."""
    import pandas as pd

    from firebase_realtime_database_backup_spark.operators.relational import (
        join_interval_overlap,
    )

    rows = [
        # r0 [Jun 1, Jun 8] and s0 [Jun 2, Jun 9]: overlap [Jun 2, Jun 8]
        # spans two 7-day bins -> both explode into the same 2 bins; the
        # naive bin join would emit this pair twice
        (1, "1-URGENT", "1996-06-01"),
        (2, "2-HIGH", "1996-06-02"),
        # r1 [Jun 20, Jun 27] overlaps s1 [Jun 26, Jul 3] only at the
        # tail [Jun 26, Jun 27]; their STARTS sit in different bins
        (3, "1-URGENT", "1996-06-20"),
        (4, "2-HIGH", "1996-06-26"),
        # s2 far away: no overlap with anything
        (5, "2-HIGH", "1996-09-01"),
    ]
    pdf = pd.DataFrame(
        {
            "o_orderkey": [r[0] for r in rows],
            "o_custkey": [1] * len(rows),
            "o_orderstatus": ["O"] * len(rows),
            "o_totalprice": [1.0] * len(rows),
            "o_orderdate": pd.to_datetime([r[2] for r in rows]),
            "o_orderpriority": [r[1] for r in rows],
        }
    )
    d = str(tmp_path / "mini")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        str(tmp_path / "mini" / "orders.parquet")
    )
    got = {
        r.orderkey: r.n_overlaps
        for r in join_interval_overlap(spark, d).collect()
    }
    assert got == {1: 1, 3: 1}, got


def test_span_scrub_edge_documents(spark, tmp_path):
    """Constructed edge corpus for text_span_scrub: empty doc, sub-span
    doc, exactly-one-span doc, and two docs sharing an identical
    16-token body — the keep-first rule must keep doc 3's copy (lowest
    doc_id) and strip doc 4's, preserving doc 4's tail."""
    import pandas as pd

    from firebase_realtime_database_backup_spark.operators.text import (
        text_span_scrub,
    )

    eight = " ".join(f"w{i}" for i in range(8))
    sixteen = " ".join(f"w{i}" for i in range(16))
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "",  # empty: no spans, rebuilt as-is
                "only three tokens",  # sub-span: pure tail
                sixteen,  # two spans, first occurrences
                sixteen + " tailtok",  # same two spans + a tail
            ],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [0, 17, len(sixteen), len(sixteen) + 8],
        }
    )
    d = str(tmp_path / "mini2")
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        str(tmp_path / "mini2" / "documents.parquet")
    )
    got = {
        r.doc_id: (r.scrubbed_text, r.n_spans, r.n_removed)
        for r in text_span_scrub(spark, d).collect()
    }
    assert got[1] == ("", 0, 0)
    assert got[2] == ("only three tokens", 0, 0)
    assert got[3] == (sixteen, 2, 0)
    assert got[4] == ("tailtok", 2, 2), got[4]


def test_token_budget_select_matches_global_window(spark, queries):
    """The two-level budget cumsum must select exactly the maximal
    (quality DESC, doc_id) prefix a single global window would — and
    the corpus-grain branch must stay window-free (only the <=65-row
    bucket relation and the boundary slice sort)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = queries["mix_token_budget_select"](spark, SF)
    got = {r.doc_id for r in df.collect()}

    # brute force: one global window over the full corpus
    feats = queries["text_quality_score"](spark, SF).select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("nt"), "quality"
    )
    total = feats.agg(F.floor(F.sum("nt") / 2.0).cast("bigint")).collect()[0][0]
    w = W.orderBy(F.col("quality").desc(), "doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    ref = {
        r.doc_id
        for r in feats.withColumn("cum", F.sum("nt").over(w))
        .filter(F.col("cum") <= total)
        .collect()
    }
    assert got == ref
    # budget respected and maximal: no smaller-keyed doc could be added
    kept_tokens = df.agg(F.sum("n_tokens")).collect()[0][0]
    assert kept_tokens <= total
    # every Window in the plan must be qb-keyed: either the <=65-row
    # bucket relation (ordered by qb) or the boundary slice
    # (partitioned by qb) — NEVER a corpus-grain global window
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "qb#" in line, line
    assert "CartesianProduct" not in plan


def test_token_budget_select_edge_corpora(spark, tmp_path):
    """Boundary arithmetic for the two-level budget cumsum:
    (a) single-bucket corpus — every doc has identical quality, so the
        ONLY bucket is the boundary bucket and the in-bucket window
        must cut the (doc_id-ordered) prefix at the budget;
    (b) exact-fit — when a bucket's running total lands exactly ON the
        budget it is kept whole and the next bucket contributes
        nothing (prev == budget is not a boundary)."""
    import pandas as pd

    from firebase_realtime_database_backup_spark.operators.text import (
        mix_token_budget_select,
    )

    def write(docs, name):
        d = str(tmp_path / name)
        spark.createDataFrame(pd.DataFrame(docs)).coalesce(1).write.parquet(
            str(tmp_path / name / "documents.parquet")
        )
        return d

    # (a) 4 identical-quality docs of 4 tokens each; budget = 8 tokens
    #     -> exactly docs 1 and 2 (doc_id order inside the one bucket)
    same = "alpha beta gamma delta"
    d = write(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [same] * 4,
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [len(same)] * 4,
        },
        "one_bucket",
    )
    got = sorted(r.doc_id for r in mix_token_budget_select(spark, d).collect())
    assert got == [1, 2], got

    # (b) two quality tiers: 2 high-quality docs (distinct 8-token
    #     texts) and 2 low-quality one-word docs.  Total = 18 tokens,
    #     budget = 9; the high bucket's 16 tokens exceed 9, so IT is
    #     the boundary: keep its first doc (8 <= 9), drop the second
    #     (16 > 9), and the low bucket (prev=16 > budget) contributes
    #     nothing.
    hi1 = "one two three four five six seven eight"
    hi2 = "uno dos tres cuatro cinco seis siete ocho"
    d2 = write(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [hi1, hi2, "word", "word"],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [len(hi1), len(hi2), 4, 4],
        },
        "two_tier",
    )
    got2 = sorted(r.doc_id for r in mix_token_budget_select(spark, d2).collect())
    assert got2 == [1], got2


def test_char_entropy_edge_documents(spark, tmp_path):
    """Degenerate inputs for the quantized char entropy: empty text
    (the ''-split singleton -> 0 bits, low), a single repeated char
    (0 bits exactly), and an all-distinct-chars doc (each count=1 ->
    floor(log2(n)) bits per char)."""
    import pandas as pd

    from firebase_realtime_database_backup_spark.operators.text import (
        text_char_entropy_scaled,
    )

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["", "aaaaaaaa", "abcdefgh"],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [0, 8, 8],
        }
    )
    d = str(tmp_path / "ent")
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        str(tmp_path / "ent" / "documents.parquet")
    )
    got = {
        r.doc_id: (r.n_chars_counted, r.entropy_bits_num, r.is_low_entropy)
        for r in text_char_entropy_scaled(spark, d).collect()
    }
    assert got[1] == (1, 0, True)
    assert got[2] == (8, 0, True)
    # 8 distinct chars, n=8, each count 1 -> 8 * floor(log2(8)) = 24
    assert got[3] == (8, 24, False)


def test_token_budget_cache_keyed_per_corpus(spark, tmp_path):
    """The session-scoped feats cache is keyed (applicationId, sf_dir):
    querying a SECOND corpus in the same session must reflect that
    corpus's documents, not the first one's cached relation (the
    cross-corpus cache-poisoning class the quarantine fixture had)."""
    import pandas as pd

    from firebase_realtime_database_backup_spark.operators.text import (
        mix_token_budget_select,
    )

    def write(ids, name):
        docs = pd.DataFrame(
            {
                "doc_id": ids,
                "text": [f"tok{i} alpha beta gamma" for i in ids],
                "lang": ["en"] * len(ids),
                "source": ["s"] * len(ids),
                "n_chars": [20] * len(ids),
            }
        )
        spark.createDataFrame(docs).coalesce(1).write.parquet(
            str(tmp_path / name / "documents.parquet")
        )
        return str(tmp_path / name)

    a = write([1, 2, 3, 4], "corpus_a")
    b = write([101, 102, 103, 104], "corpus_b")
    got_a = {r.doc_id for r in mix_token_budget_select(spark, a).collect()}
    got_b = {r.doc_id for r in mix_token_budget_select(spark, b).collect()}
    assert got_a and got_a <= {1, 2, 3, 4}
    assert got_b and got_b <= {101, 102, 103, 104}, got_b


def test_bigram_surprisal_hand_computed(spark, tmp_path):
    """Hand-computed whole-bit chain-rule surprisal on a 3-doc corpus:
    uni a=3 b=3 N=6; pairs (a,b)=2 -> bits floor(log2(3//2))=0,
    (b,a)=1 -> floor(log2(3//1))=1; first-token term floor(log2(6//3))
    = 1 for both words.  One-token docs must contribute NO bigram
    (the zip_with shifted-slice guard)."""
    import pandas as pd

    from firebase_realtime_database_backup_spark.operators.text import (
        text_bigram_surprisal,
    )

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["a", "a b", "b a b"],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [1, 3, 5],
        }
    )
    d = str(tmp_path / "bigram")
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        str(tmp_path / "bigram" / "documents.parquet")
    )
    got = {
        r.doc_id: (r.n_tokens, r.bits_num, round(r.bits_per_token, 6))
        for r in text_bigram_surprisal(spark, d).collect()
    }
    assert got[1] == (1, 1, 1.0), got[1]
    assert got[2] == (2, 1, 0.5), got[2]
    assert got[3] == (3, 2, round(2 / 3, 6)), got[3]


def test_median_twolevel_sorts_only_boundary_bucket(spark, queries):
    """The exact median must match a direct exact percentile AND keep
    every Window bucket-keyed (the histogram running count over ~1k
    bucket rows, or the boundary slice partitioned by middle position)
    — never a global corpus sort."""
    from pyspark.sql import functions as F

    from firebase_realtime_database_backup_spark.catalog import read_table

    df = queries["agg_median_twolevel"](spark, SF)
    row = df.collect()[0]
    cents = read_table(spark, SF, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c")
    )
    ref = cents.agg(F.median("c")).collect()[0][0]
    assert row.median_cents == ref
    assert row.n_rows == cents.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert ("b#" in line) or ("k#" in line), line


def test_bpe_table_persisted_and_reused(spark):
    """The BPE merge table must be trained once, persisted, and served
    from parquet: (a) the persisted merges are identical to an inline
    run of the training loop, (b) a second ensure call is a memo hit
    (no retrain), and (c) the encode query's plan reads the persisted
    vocab — the 6-round driver-argmax loop is amortized, not a
    per-query cost."""
    from firebase_realtime_database_backup_spark.operators.text import (
        BPE_MERGES,
        _bpe_loop,
        ensure_bpe_table,
        text_bpe_encode,
        text_bpe_merges,
    )

    path = ensure_bpe_table(spark, SF)
    got = sorted(tuple(r) for r in text_bpe_merges(spark, SF).collect())
    _, inline_merges = _bpe_loop(spark, SF, BPE_MERGES)
    assert got == sorted(inline_merges) and got
    assert ensure_bpe_table(spark, SF) is path  # memo hit, no retrain
    plan = (
        text_bpe_encode(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "bpe_table_" in plan, "encode is not reading the persisted vocab"


def test_knn_vote_arrow_matches_teaching(spark, queries):
    """The Arrow matmul k-NN vote must produce the identical per-label
    accuracy report as the interpreted-fold teaching form (same panel,
    same k, same tie-breaks) — BLAS ulp drift must never flip a vote
    on the base corpus."""
    a = sorted(
        tuple(r)
        for r in queries["sim_knn_label_vote"](spark, SF).collect()
    )
    b = sorted(
        tuple(r)
        for r in queries["sim_knn_label_vote_arrow"](spark, SF).collect()
    )
    assert a == b and a


def test_approx_quantile_audit_error_bound(spark, queries):
    """The approx-percentile audit must show sub-1% value error at the
    default accuracy on every group — the measured budget behind every
    'approx_percentile is the swap at scale' docstring claim."""
    rows = queries["agg_approx_quantile_audit"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.p50_rel_err < 0.01, (r.l_returnflag, r.p50_rel_err)
        assert r.p95_rel_err < 0.01, (r.l_returnflag, r.p95_rel_err)


def test_round5_plan_shapes(spark, queries):
    """Pin the plan-shape claims the round-5 docstrings make: the exact
    bitmap distinct must not Expand, the funnel-lag and bot ops must
    not join, and the weighted median / KS test must reduce to
    the distinct-value grain before any window."""
    def plan(name):
        return (
            queries[name](spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    p = plan("agg_bitmap_distinct")
    assert "Expand" not in p
    assert p.count("Exchange hashpartitioning") == 2  # word grain, group grain

    p = plan("events_funnel_conversion_time")
    assert "Join" not in p  # one conditional-min pass, never a self-join

    p = plan("events_bot_rate_gate")
    assert "Join" not in p and "Window" not in p

    for name in ("agg_weighted_median", "quality_ks_test"):
        p = plan(name)
        # value-grain reduction first: the DEEPEST partial agg (the
        # cents-grain reduce — last in top-down plan text) must sit
        # below the reduced-grain window, i.e. the window never sees
        # raw fact rows
        assert "partial_" in p and "Window" in p
        assert p.rindex("partial_") > p.index("Window")

    p = plan("stream_bot_alerts")
    # exactly one aggregation pair (partial + final) — the streaming
    # form must stay single-aggregation or append mode breaks
    assert p.count("HashAggregate") == 2


def test_round6_plan_shapes(spark, queries):
    """Pin the plan-shape claims the round-6 docstrings make: the
    interval-union windows and both follow-up aggregations share ONE
    customer exchange; the equi-depth histogram reduces to the
    distinct-value grain before its (deliberate, reduced-grain) global
    window; the mergeable bitmap distinct stays Expand-free at both
    levels; the Theil-Sen pair join is an equi-join on type (never a
    cartesian); the rolling regression is pure agg+window (no joins)."""
    def plan(name):
        return (
            queries[name](spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    p = plan("window_interval_merge")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p

    p = plan("agg_histogram_equidepth")
    assert "partial_" in p and "Window" in p
    assert p.rindex("partial_") > p.index("Window")  # reduce below window

    p = plan("agg_bitmap_distinct_merge")
    assert "Expand" not in p

    p = plan("events_trend_slope_theilsen")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    p = plan("window_rolling_regression")
    assert "Join" not in p
    assert p.count("Exchange hashpartitioning") == 2  # day grain, type grain


def test_position_attribution_books_balance(spark, queries):
    """Position-based credit must sum to EXACTLY 10000 bp per purchase
    (the integer-division remainder goes to the first touch) — the
    invariant that makes attribution reports reconcile; and the two
    attribution models must agree on WHICH clicks attribute to which
    purchase (same shared relation, different credit arithmetic)."""
    import pyspark.sql.functions as F

    pos = queries["events_attribution_position"](spark, SF)
    bad = (
        pos.groupBy("purchase_id")
        .agg(F.sum("credit_bp").alias("s"))
        .filter("s != 10000")
        .count()
    )
    assert bad == 0
    lin = queries["events_attribution_linear"](spark, SF)
    a = sorted((r.click_id, r.purchase_id) for r in pos.collect())
    b = sorted((r.click_id, r.purchase_id) for r in lin.collect())
    assert a == b and a


def test_partitioned_prune_query_prunes_at_planning(spark, queries):
    """layout_partitioned_prune's read must carry the day predicate as
    a PartitionFilter on the scan (planning-time directory pruning),
    and its audit row must report exactly ONE file scanned — reading
    more files than the probe day's single file means pruning silently
    broke even if the row counts still match."""
    df = queries["layout_partitioned_prune"](spark, SF)
    plan = _plan(spark, df)
    part_filters = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "day" in part_filters, part_filters
    row = df.collect()[0]
    assert row.n_files_scanned == 1
    assert row.n_rows > 0


def test_item_edges_built_once_and_reused(spark):
    """The co-occurrence edge list is shared substructure: once any
    consumer materializes it, every graph consumer's plan must read the
    InMemoryRelation instead of re-planning the capped per-user
    self-join from the events parquet (42 s cold at 100× — previously
    paid once PER consumer; PageRank, the bench's slowest query, paid
    it before iterating)."""
    from firebase_realtime_database_backup_spark.operators.relational import (
        ensure_item_edges,
        events_item_cooccurrence,
        graph_degree_distribution,
        graph_triangle_count,
    )

    edges = ensure_item_edges(spark, SF)
    assert ensure_item_edges(spark, SF) is edges  # memo hit
    assert events_item_cooccurrence(spark, SF) is edges  # query = memo
    edges.count()  # materialize the cache
    for q in (graph_degree_distribution, graph_triangle_count):
        plan = q(spark, SF)._jdf.queryExecution().executedPlan().toString()
        # (the InMemoryTableScan node PRINTS its cached child plan, so
        # "events.parquet" still appears in the string — the scan node
        # itself is the proof the consumer reads the cache)
        assert "InMemoryTableScan" in plan, (
            f"{q.__name__} re-plans the edge build instead of reading "
            "the cached edge list"
        )


def test_editdist_neighborhood_complete_for_k1(spark, tmp_path):
    """The FastSS recall claim, exercised on the edit classes the
    customer-name oracle CANNOT reach (equal-length names only test
    substitution): insertion, deletion, and substitution pairs must
    all surface; a distance-2 pair must not; equal strings collapse
    via the upstream distinct."""
    import itertools
    import pandas as pd

    from firebase_realtime_database_backup_spark.operators.dedup import (
        dedup_editdist_neighborhood,
    )

    names = [
        "alpha", "alpah",        # substitution x2 (transposition = dist 2)
        "brav", "bravo", "bravoo",  # insertion chain
        "charlie", "charli",     # deletion
        "delta", "delta",        # exact dup (distinct collapses)
        "echo1", "echo2",        # substitution
        "xx", "yy",              # dist 2: excluded
        "z", "",                 # single char vs empty: dist 1
    ]
    cust = pd.DataFrame(
        {
            "c_custkey": range(len(names)),
            "c_name": names,
            "c_nationkey": [0] * len(names),
            "c_acctbal": [0.0] * len(names),
            "c_mktsegment": ["X"] * len(names),
        }
    )
    d = str(tmp_path / "ed1")
    spark.createDataFrame(cust).coalesce(1).write.parquet(
        str(tmp_path / "ed1" / "customer.parquet")
    )
    got = {
        (r.name_a, r.name_b)
        for r in dedup_editdist_neighborhood(spark, d).collect()
    }

    def lev(a, b):  # brute-force reference
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(set(names)), 2)
        if lev(a, b) <= 1
    }
    assert got == want, got.symmetric_difference(want)


def test_gram_matrix_matches_numpy_and_is_batch_invariant(spark, tmp_path):
    """The quantize-then-sum exactness claim: the distributed partial
    gram must equal a single-shot numpy gram over the same quantized
    integers regardless of how rows split into partitions/batches —
    run the corpus through 1 and 7 partitions and require identical
    results both times."""
    import numpy as np
    import pandas as pd

    from firebase_realtime_database_backup_spark.operators.similarity import (
        DIM,
        GRAM_SCALE,
        sim_gram_matrix,
    )

    rng = np.random.default_rng(7)
    x = rng.normal(size=(97, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pd.DataFrame(
        {
            "vec_id": range(97),
            "embedding": [row.astype(np.float32) for row in x],
            "label": ["a"] * 97,
        }
    )
    # the parquet column is float32: the reference must quantize the
    # SAME float32-rounded values the operator reads back
    q = np.floor(
        x.astype(np.float32).astype(np.float64) * GRAM_SCALE
    ).astype(np.int64)
    ref = q.T @ q

    for nparts in (1, 7):
        d = str(tmp_path / f"gm{nparts}")
        spark.createDataFrame(emb).repartition(nparts).write.parquet(
            str(tmp_path / f"gm{nparts}" / "embeddings.parquet")
        )
        got = {
            (r.i, r.j): r.dot for r in sim_gram_matrix(spark, d).collect()
        }
        assert len(got) == DIM * (DIM + 1) // 2
        for (i, j), v in got.items():
            assert v == int(ref[i - 1, j - 1]), (i, j, nparts)


def test_mmr_selection_is_diverse_and_rank1_is_argmax(spark, queries):
    """Policy check on the real corpus: rank 1 must be the plain
    relevance argmax, and the MMR set must DIFFER from the plain
    cosine top-5 (if it never differed, the diversity term would be
    dead code on this corpus)."""
    from pyspark.sql import functions as F

    got = queries["sim_mmr_diverse_topk"](spark, SF).collect()
    assert [r.rk for r in sorted(got, key=lambda r: r.rk)] == [1, 2, 3, 4, 5]
    topk = queries["sim_cosine_topk"](spark, SF)
    plain = {
        r.c_id
        for r in topk.filter(F.col("q_id") == 0).orderBy("rk").collect()[:5]
    }
    mmr = {r.vec_id for r in got}
    rank1 = next(r.vec_id for r in got if r.rk == 1)
    assert rank1 in plain  # argmax rel = plain rank-1 for query 0
    assert mmr != plain, "MMR never diverged from plain top-k"


def test_candidate_keys_plan_has_no_expand(spark, queries):
    """The docstring's central plan claim: multi-column COUNT(DISTINCT)
    via Expand is exactly what this operator avoids — its explode
    route must keep the physical plan Expand-free."""
    p = (
        queries["quality_candidate_keys"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in p
    got = {
        r.column_name: (r.is_key, r.n_null)
        for r in queries["quality_candidate_keys"](spark, SF).collect()
    }
    assert got["event_id"] == (1, 0)      # the synthetic PK
    assert got["event_type"][0] == 0      # 5-value enum: never a key


def test_connected_components_match_union_find(spark, queries):
    """Replay the min-label loop's answer with an independent
    union-find over the same session-shared edge list: identical
    membership partition AND identical min-label ids."""
    from firebase_realtime_database_backup_spark.operators.relational import (
        ensure_item_edges,
    )

    edges = [
        (r.item_a, r.item_b) for r in ensure_item_edges(spark, SF).collect()
    ]
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want: dict = {}
    for node in parent:
        root = find(node)
        want.setdefault(root, set()).add(node)
    expected = {min(m): m for m in want.values()}

    got_rows = queries["graph_connected_components"](spark, SF).collect()
    got: dict = {}
    for r in got_rows:
        got.setdefault(r.component_id, set()).add(r.item)
    assert got == expected


def test_diff_in_means_hand_computed_and_single_agg(spark, tmp_path, queries):
    """Exact-moments pin on a constructed corpus: the pooled t must
    equal a pure-Python fold over the SAME quantized cents; and the
    plan must be one scan + one aggregation (no join, no Expand)."""
    import math

    import pandas as pd

    from firebase_realtime_database_backup_spark.functions.hashing import (
        KNUTH,
        M31,
    )
    from firebase_realtime_database_backup_spark.operators.relational import (
        events_diff_in_means,
    )

    vals = [1.07, 2.0, 3.13, 4.99, 5.5, 6.01, 7.77, 8.2, 9.01, 10.49]
    ev = pd.DataFrame(
        {
            "event_id": range(10),
            "ts": pd.to_datetime(["2024-01-01"] * 10),
            "user_id": range(10),
            "event_type": ["m"] * 10,
            "value": vals,
            "props": ["{}"] * 10,
        }
    )
    d = str(tmp_path / "dim1")
    spark.createDataFrame(ev).coalesce(1).write.parquet(
        str(tmp_path / "dim1" / "events.parquet")
    )
    got = events_diff_in_means(spark, d).collect()
    assert len(got) == 1
    r = got[0]

    arms = [((u % M31) * KNUTH) % M31 % 2 for u in range(10)]
    cents = [math.floor(v * 100) for v in vals]
    t = [c for c, a in zip(cents, arms) if a == 1]
    c = [c for c, a in zip(cents, arms) if a == 0]
    mean_t = sum(t) / len(t) / 100.0
    mean_c = sum(c) / len(c) / 100.0
    ssd_t = float(sum(x * x for x in t)) - float(sum(t)) * sum(t) / len(t)
    ssd_c = float(sum(x * x for x in c)) - float(sum(c)) * sum(c) / len(c)
    pooled = (ssd_t + ssd_c) / (len(t) + len(c) - 2) / 10000.0
    want_t = (mean_t - mean_c) / math.sqrt(
        pooled * (1.0 / len(t) + 1.0 / len(c))
    )
    assert (r.n_t, r.n_c) == (len(t), len(c))
    assert r.mean_t == mean_t and r.mean_c == mean_c
    assert r.t_stat == want_t

    p = (
        queries["events_diff_in_means"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in p and "Expand" not in p
    assert p.count("Exchange") == 1


def test_pca_matches_numpy_replay(spark, queries):
    """Independent replay: covariance + eigh straight from the parquet
    (same float32 -> float64 -> fixed-point pipeline) must reproduce
    the registered query's spectrum exactly — same ints in, same
    LAPACK, same bits out."""
    import numpy as np
    import pandas as pd

    from firebase_realtime_database_backup_spark.operators.similarity import (
        DIM,
        GRAM_SCALE,
    )

    x = np.stack(
        pd.read_parquet(f"{SF}/embeddings.parquet")["embedding"].to_numpy()
    ).astype(np.float64)
    q = np.floor(x * GRAM_SCALE).astype(np.int64)
    n = q.shape[0]
    g = (q.T @ q).astype(np.float64)
    s = q.sum(axis=0).astype(np.float64)
    cov = (g - np.outer(s, s) / n) / (n - 1) / (GRAM_SCALE**2)
    want = np.linalg.eigvalsh(cov)[::-1]

    got = sorted(
        queries["sim_pca_variance_explained"](spark, SF).collect(),
        key=lambda r: r.component,
    )
    assert len(got) == DIM
    for k, r in enumerate(got):
        assert r.eigenvalue == want[k], (k, r.eigenvalue, want[k])
    assert abs(got[-1].cum_ratio - 1.0) < 1e-12


def test_psi_reduces_to_distinct_grain_before_windows(spark, queries):
    """PSI's plan claims: both cumulative windows run BELOW a partial
    aggregation (distinct-cents grain, the equi-depth lint), the cut
    assignment join is a broadcast against the ≤10-row cut table, and
    the bins partition the current corpus exactly (sum(cur_n) =
    current rows; sum of rounded contributions is finite)."""
    from pyspark.sql import functions as F

    df = queries["quality_psi_drift"](spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_" in p and "Window" in p
    assert p.rindex("partial_") > p.index("Window")  # reduce below window
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p

    rows = df.collect()
    assert len(rows) == 10
    assert abs(sum(r.q for r in rows) - 1.0) < 1e-12
    assert abs(sum(r.p for r in rows) - 1.0) < 1e-12
    psi = sum(r.psi_contribution for r in rows if r.psi_contribution is not None)
    assert psi >= 0.0  # PSI is a sum of (p-q)ln(p/q) terms, each >= 0


def test_cluster_size_profile_crafted_corpus(spark, tmp_path):
    """3 singletons + one size-2 + one size-4 cluster -> exactly the
    profile rows (1,3,3), (2,1,2), (4,1,4)."""
    import pandas as pd

    from firebase_realtime_database_backup_spark.operators.dedup import (
        dedup_cluster_size_profile,
    )

    texts = ["a", "b", "c", "dup2", "dup2", "dup4", "dup4", "dup4", "dup4"]
    docs = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    d = str(tmp_path / "csp")
    spark.createDataFrame(docs).coalesce(1).write.parquet(
        str(tmp_path / "csp" / "documents.parquet")
    )
    got = {
        r.cluster_size: (r.n_clusters, r.n_docs)
        for r in dedup_cluster_size_profile(spark, d).collect()
    }
    assert got == {1: (3, 3), 2: (1, 2), 4: (1, 4)}


def test_source_overlap_bitmask_matches_pair_join(spark, queries):
    """The bitmask route must reproduce the naive (source, sid)
    pair-join exactly — commons, sizes, and both similarity ratios —
    computed here independently via the join form at sf0.01."""
    from pyspark.sql import functions as F

    from firebase_realtime_database_backup_spark.catalog import read_table
    from firebase_realtime_database_backup_spark.operators.text import (
        doc_shingle_ids,
    )

    docs = read_table(spark, SF, "documents").select("doc_id", "source")
    ssid = (
        doc_shingle_ids(spark, SF)
        .join(docs, "doc_id")
        .select("source", "sid")
        .distinct()
    )
    a = ssid.select(F.col("source").alias("sa"), "sid")
    b = ssid.select(F.col("source").alias("sb"), "sid")
    want = {
        (r.sa, r.sb): r.n
        for r in a.join(b, ["sid"])
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got_rows = queries["dedup_source_overlap"](spark, SF).collect()
    got = {(r.source_a, r.source_b): r.n_common for r in got_rows}
    assert got == want
    sz = {
        r.source: r.n
        for r in ssid.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in got_rows:
        assert (r.sz_a, r.sz_b) == (sz[r.source_a], sz[r.source_b])
        assert r.containment == r.n_common / min(r.sz_a, r.sz_b)


def test_vocab_growth_buckets_partition_vocab(spark, queries):
    """cum_vocab's last value must equal the corpus's total 3-gram
    type count, and buckets must be the integer decile map."""
    from firebase_realtime_database_backup_spark.operators.text import (
        doc_shingle_ids,
    )

    rows = sorted(
        queries["text_vocab_growth"](spark, SF).collect(),
        key=lambda r: r.bucket,
    )
    total_types = doc_shingle_ids(spark, SF).select("sid").distinct().count()
    assert rows[-1].cum_vocab == total_types
    assert sum(r.new_types for r in rows) == total_types
    assert all(0 <= r.bucket <= 9 for r in rows)


def test_kcore_matches_python_peeling(spark, queries):
    """Replay the distributed peeling with a pure-Python fixpoint over
    the same shared edge list: identical surviving nodes AND identical
    in-core degrees."""
    from firebase_realtime_database_backup_spark.operators.relational import (
        KCORE_K,
        ensure_item_edges,
    )

    edges = {
        (r.item_a, r.item_b)
        for r in ensure_item_edges(spark, SF).collect()
    }
    cur = set(edges)
    while True:
        deg: dict = {}
        for a, b in cur:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        low = {n for n, d in deg.items() if d < KCORE_K}
        if not low:
            break
        cur = {(a, b) for a, b in cur if a not in low and b not in low}
    want: dict = {}
    for a, b in cur:
        want[a] = want.get(a, 0) + 1
        want[b] = want.get(b, 0) + 1
    got = {
        r.item: r.core_degree for r in queries["graph_kcore"](spark, SF).collect()
    }
    assert got == want
    assert all(d >= KCORE_K for d in got.values())


def test_markov_stationary_mass_is_conserved_modulo_floor(spark, queries):
    """pi sums to 1; fixed masses are positive; and the integer floor
    loss per iteration is bounded by |types| units x iterations."""
    from firebase_realtime_database_backup_spark.operators.relational import (
        MARKOV_PI_ITERS,
        MARKOV_PI_SCALE,
    )

    rows = queries["events_markov_stationary"](spark, SF).collect()
    n = len(rows)
    total = sum(r.pi_fixed for r in rows)
    start = n * MARKOV_PI_SCALE
    assert 0 <= start - total <= n * n * MARKOV_PI_ITERS
    assert abs(sum(r.pi for r in rows) - 1.0) < 1e-12
    assert all(r.pi_fixed > 0 for r in rows)


def test_shingle_table_persisted_and_reused(spark):
    """The (doc_id, sid) shingle dictionary must be built once,
    persisted, and served from parquet: (a) the persisted rows are
    identical to an inline run of the tokenize + vocab-rank pipeline,
    (b) a second ensure call is a memo hit (no rebuild), and (c) the
    relation every shingle consumer gets reads the persisted table —
    so a storage-memory eviction at the 1000x decade re-reads columnar
    parquet instead of re-running the corpus-wide dictionary build
    (text_vocab_growth measured 39 s "warm" / 828 s cold off the
    session cache alone)."""
    from pyspark.sql import functions as F

    from firebase_realtime_database_backup_spark.operators.text import (
        doc_shingle_ids,
        doc_shingles,
        ensure_shingle_table,
        shingle_vocab,
    )

    path = ensure_shingle_table(spark, SF)
    assert ensure_shingle_table(spark, SF) is path  # memo hit, no rebuild

    got = sorted(
        (r.doc_id, r.sid) for r in doc_shingle_ids(spark, SF).collect()
    )
    sh = doc_shingles(spark, SF)
    inline = (
        sh.join(F.broadcast(shingle_vocab(sh)), "shingle")
        .select("doc_id", "sid")
        .distinct()
    )
    expected = sorted((r.doc_id, r.sid) for r in inline.collect())
    assert got == expected and got

    qe = doc_shingle_ids(spark, SF)._jdf.queryExecution().toString()
    assert "shingle_table_" in qe, (
        "doc_shingle_ids is not reading the persisted dictionary"
    )


def test_order_gaps_twolevel_matches_teaching(spark, tmp_path):
    """The whale-safe two-level form must hash-match its registered
    DuckDB oracle (the plain lag window + MEDIAN) on the adversarial
    boundary shapes: consecutive orders straddling a month boundary,
    same-date ties inside a month, a single-order customer (no gaps ->
    excluded), an even gap count (interpolated .5 median), and a
    customer whose orders all land in one month (every lag is
    in-bucket)."""
    import duckdb

    from firebase_realtime_database_backup_spark import verify
    from firebase_realtime_database_backup_spark.operators.relational import (
        REG,
        window_order_gaps_twolevel,
    )

    import os

    d = str(tmp_path / "gaps")
    os.makedirs(d)
    path = os.path.join(d, "orders.parquet")
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT * FROM (VALUES
            -- cust 1: month-boundary gap (Jan 31 -> Feb 1), then a
            -- same-date tie (orderkey break), then a long jump
            (101, 1, 'O', 10.0, TIMESTAMP '2024-01-31', 'p'),
            (102, 1, 'O', 10.0, TIMESTAMP '2024-02-01', 'p'),
            (103, 1, 'O', 10.0, TIMESTAMP '2024-02-01', 'p'),
            (104, 1, 'O', 10.0, TIMESTAMP '2024-05-15', 'p'),
            -- cust 2: single order -> no output row
            (201, 2, 'O', 10.0, TIMESTAMP '2024-03-03', 'p'),
            -- cust 3: all in one month, even gap count (2, 3)
            (301, 3, 'O', 10.0, TIMESTAMP '2024-04-01', 'p'),
            (302, 3, 'O', 10.0, TIMESTAMP '2024-04-03', 'p'),
            (303, 3, 'O', 10.0, TIMESTAMP '2024-04-06', 'p')
          ) t(o_orderkey, o_custkey, o_orderstatus, o_totalprice,
              o_orderdate, o_orderpriority)
        ) TO '{path}' (FORMAT PARQUET)
        """
    )
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{path}')")
    name = "window_order_gaps_twolevel"
    r = verify.compare_query(
        spark, con, name, window_order_gaps_twolevel, REG.oracles[name], d
    )
    con.close()
    assert r.ok and r.spark_rows == 2, r.details
    by_cust = {
        row[0]: tuple(row)
        for row in window_order_gaps_twolevel(spark, d).collect()
    }
    # cust 1 gaps: 1 (boundary), 0 (tie), 104 -> median 1.0
    assert by_cust[1] == (1, 4, 0, 1.0, 104)
    # cust 3 gaps: 2, 3 -> interpolated median 2.5
    assert by_cust[3] == (3, 3, 2, 2.5, 3)


def test_budget_apportion_books_balance(spark):
    """Hamilton apportionment invariants: allocations sum to EXACTLY
    the integer budget (corpus div 3), every source gets at least its
    floor quota, and exactly `leftover` sources carry a +1 bonus."""
    from pyspark.sql import functions as F

    from firebase_realtime_database_backup_spark.operators.text import (
        MIX_APPORTION_DENOM,
        mix_budget_apportion,
    )

    df = mix_budget_apportion(spark, SF).collect()
    total_tokens = sum(r.tokens_available for r in df)
    budget = total_tokens // MIX_APPORTION_DENOM
    assert sum(r.alloc_tokens for r in df) == budget
    n_bonus = sum(r.got_bonus for r in df)
    for r in df:
        base = (r.tokens_available * budget) // total_tokens
        assert r.alloc_tokens in (base, base + 1)
        assert (r.alloc_tokens == base + 1) == bool(r.got_bonus)
    # leftover = budget - sum(floors)
    floors = sum((r.tokens_available * budget) // total_tokens for r in df)
    assert n_bonus == budget - floors


def test_budget_apportion_quota_past_int64(spark):
    """The quota numerator tokens_i * B overflows int64 past ~5e9
    corpus tokens; the 128-bit form (Spark DECIMAL(38,0), oracle
    HUGEINT) must stay exact and cross-engine-identical there —
    non-ANSI Spark would otherwise WRAP silently while DuckDB raises
    (ADVICE r7)."""
    import duckdb

    # 6e9-token source in a 9e9 corpus: numerator 2.4e19 > 2^63.
    cases = [
        (6_000_000_000, 3_000_000_000, 9_000_000_000),
        (9_999_999_999, 3_333_333_333, 9_999_999_999),
        (2**62, 2**61, 2**62 + 12345),
    ]
    df = spark.createDataFrame(cases, "tokens long, b long, t long")
    got = df.selectExpr(
        "CAST((CAST(tokens AS DECIMAL(38,0)) * b) div t AS BIGINT) AS base",
        "CAST((CAST(tokens AS DECIMAL(38,0)) * b) % t AS BIGINT) AS rem",
    ).collect()
    con = duckdb.connect()
    for (tokens, b, t), row in zip(cases, got):
        assert row.base == (tokens * b) // t, (tokens, b, t)
        assert row.rem == (tokens * b) % t
        ob, orem = con.execute(
            "SELECT CAST((CAST(? AS HUGEINT) * ?) // ? AS BIGINT),"
            " CAST((CAST(? AS HUGEINT) * ?) % ? AS BIGINT)",
            [tokens, b, t, tokens, b, t],
        ).fetchone()
        assert (ob, orem) == (row.base, row.rem)
