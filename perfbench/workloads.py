"""The benchmark's two workloads.

Each workload drives the engine through its public functions only: the
registered query callables (``__spark_entry__.queries()``) for the
analytics workload, and ``api.do_backup``, ``sources.firebase.extract``,
``sinks.incremental.incremental_backup`` and ``api.do_restore`` for the
ETL round trip.  A workload object has three phases:

- ``setup``: make the seeded inputs, publish one-time layouts, warm the
  JVM and Python workers, run the output checks and warm the calibration
  job (untimed);
- ``timed``: repeat whole passes until the run length is used up, with a
  calibration sample at every pass boundary;
- ``metrics`` / ``layers``: the end-to-end and per-layer numbers.

With tracing on, every operation runs under its own Spark job group and
the calls into each layer are wrapped in spans; see README.md for what
each per-layer metric means.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

from perfbench import calibrate, datagen, trace
from perfbench.firebase_double import (
    GET,
    PATCH,
    REFUSED,
    SHALLOW,
    TOO_LARGE,
    IndexedFirebase,
)

PKG = "firebase_realtime_database_backup_spark."

#: analytics scale factor of the generated tables (lineitem = 6M x SF)
ANALYTICS_SF = 0.005
#: queries checked at once in the warm pass
CHECK_THREADS = 3


#: The analytics query subset: a seeded draw (seed 0), stratified by
#: module group, from the eligible bench.py HEADLINE queries of both
#: query families, the Catalyst-bound relational ones and the
#: Python-worker-bound dedup / text / similarity ones;
#: ``python3 perfbench/subset.py`` reproduces it.  Frozen here so that a
#: query added to HEADLINE does not change the workload.
ANALYTICS = (
    "events_top_sequences",  # operators.relational
    "sink_snapshot_diff",  # operators.relational
    "window_interval_merge",  # operators.relational
    "tpch_q20_excess_shippers",  # operators.tpch
    "dedup_containment",  # operators.dedup
    "text_fingerprint",  # operators.text
    "sim_vector_quantize",  # operators.similarity
)

#: Engine modules of the drawn queries; each gets
#: ``<module>.build_s``, ``<module>.build_jobs`` and ``<module>.run_s``.
MODULES = (
    "operators.relational",
    "operators.tpch",
    "operators.dedup",
    "operators.text",
    "operators.similarity",
)

SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.idle_s",
    "spark.task_busy_s",
    "spark.gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.python_s",
)

ETL_METRICS = (
    "etl.backup_s",
    "etl.incremental_backup_s",
    "etl.restore_s",
    "firebase.get_requests",
    "firebase.get_refused",
    "firebase.page_yield",
    "firebase.shallow_requests",
    "firebase.bytes_served",
    "firebase.wait_s",
    "extract.self_s",
    "extract.straggler_s",
    "extract.concurrency",
    "snapshot.write_s",
    "snapshot.jobs",
    "snapshot.files",
    "snapshot.bytes_per_json_byte",
    "diff.s",
    "diff.jobs",
    "diff.rows",
    "writeback.patches",
    "writeback.patch_refused",
    "writeback.patch_yield",
    "writeback.wait_s",
    "writeback.self_s",
)

#: Every per-layer metric, in report order.  A workload reports 0 for a
#: layer it does not touch.
LAYER_METRICS = (
    SPARK_METRICS
    + tuple(f"{m}.{k}" for m in MODULES for k in ("build_s", "build_jobs", "run_s"))
    + ("memo.entries_built", "memo.persisted_rdds", "scratch.hits", "scratch.builds")
    + ETL_METRICS
    + ("calibration.ref_s", "trace.overhead_s")
)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _p90(xs) -> float:
    xs = list(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def op_metrics(passes: list[dict[str, float]], factors: list[float]) -> dict[str, float]:
    """End-to-end timings from the timed passes, each pass's times
    multiplied by its calibration factor.  Each operation's time is its
    minimum over the passes (ROADMAP's min-of-k: a pass can only be
    slowed by a busy host, never sped up); ``suite_s`` sums them and
    ``op_p50_s`` / ``op_p90_s`` are percentiles across operations."""
    ops: dict[str, list[float]] = defaultdict(list)
    for p, f in zip(passes, factors):
        for name, t in p.items():
            ops[name].append(t * f)
    values = [min(ts) for ts in ops.values()]
    return {"suite_s": sum(values), "op_p50_s": _median(values), "op_p90_s": _p90(values)}


class Outcome:
    """Attempted / failed operation counts, checks included."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


class _Workload:
    def __init__(self, spark, seed: int, work_dir: str, tracer: trace.Tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work_dir
        self.tracer = tracer
        self.groups = trace.JobGroups(spark) if tracer.enabled else None
        self.cal = calibrate.Calibration(spark)
        self.outcome = Outcome()
        #: operation -> seconds, one dict per timed pass
        self.passes: list[dict[str, float]] = []
        #: per-operation record of the traced run (one dict per op)
        self.ops: list[dict] = []
        #: tracing time inside the timed operations, per pass
        self.overhead_s = 0.0

    def _trace_cost(self) -> float:
        return self.tracer.overhead_s + (self.groups.overhead_s if self.groups else 0.0)

    def setup(self) -> None:
        """Inputs, checks and warm-up, then the calibration job's
        warm-up."""
        self._setup()
        self.cal.warm()

    def timed(self, seconds: float, min_passes: int = 2) -> None:
        """Whole passes for about ``seconds``, at least two.  A pass
        starts only if it should end less than half a pass after the
        deadline, judged by the previous one and its boundary."""
        cost0 = self._trace_cost()
        deadline = time.perf_counter() + seconds
        last = 0.0
        self._boundary()
        while len(self.passes) < min_passes or time.perf_counter() + last / 2 < deadline:
            t0 = time.perf_counter()
            self.passes.append(self._pass(len(self.passes)))
            self._boundary()
            last = time.perf_counter() - t0
        self.overhead_s = (self._trace_cost() - cost0) / len(self.passes)

    def _boundary(self) -> None:
        """Between passes: reset the workload's caches, collect both
        heaps so no pass inherits another's garbage, and take one
        calibration sample."""
        self._reset()
        gc.collect()
        self.spark._jvm.System.gc()
        self.cal.sample()

    def _setup(self) -> None:
        raise NotImplementedError

    def _reset(self) -> None:
        pass

    def _pass(self, p: int) -> dict[str, float]:
        raise NotImplementedError

    def metrics(self) -> dict[str, float]:
        return op_metrics(self.passes, self.cal.factors())

    def raw_metrics(self) -> dict[str, float]:
        """The same timings, uncalibrated."""
        return op_metrics(self.passes, [1.0] * len(self.passes))

    def _group(self, gid: str):
        if self.groups is None:
            return nullcontext()
        return self.groups.group(gid)

    def spark_layers(self, event_log: dict[str, dict]) -> dict[str, float]:
        """Fold the event log into self.ops and average per operation."""
        for op in self.ops:
            recs = [event_log[g] for g in op.pop("groups") if g in event_log]
            for k in ("task_busy_s", "gc_s", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes", "python_s"):
                op[k] = sum(r[k] for r in recs)
            busy = [
                (max(s, op["t0"]), min(e, op["t1"]))
                for r in recs
                for s, e in r["task_intervals"]
                if e > op["t0"] and s < op["t1"]
            ]
            op["idle_s"] = max(0.0, op["wall_s"] - trace.union_length(busy))
        keys = ("jobs", "stages", "tasks", "idle_s", "task_busy_s", "gc_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "python_s")
        return {f"spark.{k}": _mean(op[k] for op in self.ops) for k in keys}


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------


class Analytics(_Workload):
    def __init__(self, queries: tuple[str, ...], *args) -> None:
        super().__init__(*args)
        self.names = queries
        self.data_dir = os.path.join(self.work, "data")
        self.scratch_hits = self.scratch_builds = 0
        self.persisted_max = 0

    def _setup(self) -> None:
        import __spark_entry__ as entry
        from firebase_realtime_database_backup_spark import memo, verify

        registry = entry.queries()
        self.fns = {n: registry[n] for n in self.names}
        self.oracles = {n: s for n, s in entry.oracle_sql().items() if n in self.fns}
        shutil.rmtree(self.data_dir, ignore_errors=True)
        datagen.write_tables(self.data_dir, self.seed, ANALYTICS_SF)
        memo.clear_caches()
        # The output checks double as the prepare and warm-up pass:
        # every query runs once on this corpus before timing starts, so
        # the scratch tables the drawn queries use are published then
        # (none of them publishes a one-time bucketed layout, which
        # would have to run alone first).  The queries run CHECK_THREADS
        # at a time, which overlaps their cold planning.
        con = verify.duckdb_connection(self.data_dir)
        try:
            with ThreadPoolExecutor(CHECK_THREADS) as pool:
                results = list(pool.map(lambda n: self._check(n, con), self.fns))
        finally:
            con.close()
        for name, ok, why in results:
            self.outcome.record(ok, f"check {name}: {why}")

    def _check(self, name: str, con) -> tuple[str, bool, str]:
        from firebase_realtime_database_backup_spark import verify

        fn = self.fns[name]
        cursor = con.cursor()  # one DuckDB connection per thread
        try:
            if name in self.oracles:
                res = verify.compare_query(
                    self.spark, cursor, name, fn, self.oracles[name], self.data_dir
                )
                return name, res.ok, "; ".join(res.details)
            fn(self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
            return name, True, ""
        except Exception as exc:  # noqa: BLE001 — counted as failed
            return name, False, repr(exc)[:300]
        finally:
            cursor.close()

    def timed(self, seconds: float, min_passes: int = 2) -> None:
        from firebase_realtime_database_backup_spark import scratch

        hits0, builds0 = len(scratch.SCRATCH_HITS), len(scratch.SCRATCH_BUILDS)
        super().timed(seconds, min_passes)
        self.scratch_hits = len(scratch.SCRATCH_HITS) - hits0
        self.scratch_builds = len(scratch.SCRATCH_BUILDS) - builds0

    def _reset(self) -> None:
        from firebase_realtime_database_backup_spark import memo

        # every pass builds its session memo entries again
        memo.clear_caches()

    def _pass(self, p: int) -> dict[str, float]:
        from firebase_realtime_database_backup_spark import memo

        times: dict[str, float] = {}
        for name, fn in self.fns.items():
            gid = f"q{p}:{name}"
            entries0 = sum(len(d) for d in memo._REGISTERED) if self.groups else 0
            wall0 = time.time()
            t0 = time.perf_counter()
            try:
                with self._group(gid + ":build"):
                    df = fn(self.spark, self.data_dir)
                t1 = time.perf_counter()
                with self._group(gid + ":run"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 — counted as failed
                self.outcome.record(False, f"pass {p} {name}: {exc!r}"[:300])
                continue
            self.outcome.record(True, name)
            times[name] = t2 - t0
            if self.groups is not None:
                self._record_op(p, name, gid, t0, t1, t2, wall0, entries0)
        return times

    def _record_op(self, p, name, gid, t0, t1, t2, wall0, entries0) -> None:
        from firebase_realtime_database_backup_spark import memo

        bj, bs, bt = self.groups.counts(gid + ":build")
        rj, rs, rt = self.groups.counts(gid + ":run")
        self.persisted_max = max(self.persisted_max, self.groups.persisted_rdds())
        self.ops.append(
            {
                "op": name,
                "module": self.fns[name].__module__.removeprefix(PKG),
                "pass": p,
                "wall_s": t2 - t0,
                "build_s": t1 - t0,
                "run_s": t2 - t1,
                "build_jobs": bj,
                "jobs": bj + rj,
                "stages": bs + rs,
                "tasks": bt + rt,
                "memo_built": sum(len(d) for d in memo._REGISTERED) - entries0,
                "t0": wall0,
                "t1": wall0 + (t2 - t0),
                "groups": [gid + ":build", gid + ":run"],
            }
        )

    def layers(self) -> dict[str, float]:
        out: dict[str, float] = {}
        n_passes = max(1, len(self.passes))
        for m in MODULES:
            mine = [op for op in self.ops if op["module"] == m]
            out[f"{m}.build_s"] = sum(op["build_s"] for op in mine) / n_passes
            out[f"{m}.build_jobs"] = sum(op["build_jobs"] for op in mine) / n_passes
            out[f"{m}.run_s"] = sum(op["run_s"] for op in mine) / n_passes
        out["memo.entries_built"] = _mean(op["memo_built"] for op in self.ops)
        out["memo.persisted_rdds"] = self.persisted_max
        out["scratch.hits"] = self.scratch_hits
        out["scratch.builds"] = self.scratch_builds
        return out


# ---------------------------------------------------------------------------
# ETL round trip
# ---------------------------------------------------------------------------

#: Tree size relative to the full shape in datagen (68k rows at 1.0)
ETL_SCALE = 0.4
RTT_S = 0.010
GET_BUDGET = 64 * 1024
PATCH_BUDGET = 64 * 1024
STAGES = ("backup", "incremental_backup", "restore")


def _wait_s(spans) -> float:
    return trace.union_length((s.start, s.end) for s in spans)


class EtlRoundTrip(_Workload):
    def __init__(self, *args, parallelism: int) -> None:
        super().__init__(*args)
        self.parallelism = parallelism
        self.trip_layers: list[dict[str, float]] = []

    def _server(self, tree: dict) -> IndexedFirebase:
        return IndexedFirebase(
            tree, rtt_s=RTT_S, max_payload_bytes=GET_BUDGET, max_patch_bytes=PATCH_BUDGET
        )

    def _setup(self) -> None:
        from firebase_realtime_database_backup_spark.sources.tree import canonical_json

        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.tree = datagen.make_tree(self.seed, ETL_SCALE)
        mutated, self.expected = datagen.mutate_tree(self.tree, self.seed)
        self.tree_json = canonical_json(self.tree)
        self.src = self._server(self.tree)
        self.src_new = self._server(mutated)
        # warm round trip: JIT, Python workers, parquet writers
        self._pass(-1)

    def _pass(self, n: int) -> dict[str, float]:
        """One round trip; ``n < 0`` is the untimed warm one."""
        from firebase_realtime_database_backup_spark import api
        from firebase_realtime_database_backup_spark.sinks.incremental import (
            incremental_backup,
        )
        from firebase_realtime_database_backup_spark.sources.firebase import extract

        snap = os.path.join(self.work, "snapshot")
        delta = os.path.join(self.work, "delta")
        for d in (snap, delta):
            shutil.rmtree(d, ignore_errors=True)
        for server in (self.src, self.src_new):
            server.spans.clear()
        dst = self._server({})
        tr = self.tracer
        times: dict[str, float] = {}
        with _TracedApi(api, tr) if tr.enabled else nullcontext():
            for stage in STAGES:
                gid = f"etl{n}:{stage}"
                wall0, t0 = time.time(), time.perf_counter()
                try:
                    with self._group(gid), tr.span(stage):
                        if stage == "backup":
                            api.do_backup(
                                self.spark, self.src, snap, parallelism=self.parallelism
                            )
                        elif stage == "incremental_backup":
                            with tr.span("extract"):
                                current = extract(
                                    self.spark, self.src_new, parallelism=self.parallelism
                                )
                            with tr.span("diff") as attrs:
                                counts = incremental_backup(self.spark, current, snap, delta)
                                attrs["rows"] = sum(counts.values())
                        else:
                            api.do_restore(self.spark, snap, lambda: dst, driver_side=True)
                except Exception as exc:  # noqa: BLE001 — counted as failed
                    self.outcome.record(False, f"trip {n} {stage}: {exc!r}"[:300])
                    return {}
                wall = times[stage] = time.perf_counter() - t0
                self.outcome.record(True, stage)
                if self.groups is not None and n >= 0:
                    jobs, stages_, tasks = self.groups.counts(gid)
                    self.ops.append(
                        {
                            "op": stage,
                            "pass": n,
                            "wall_s": wall,
                            "jobs": jobs,
                            "stages": stages_,
                            "tasks": tasks,
                            "t0": wall0,
                            "t1": wall0 + wall,
                            "groups": [gid],
                        }
                    )
        self._check(n, snap, dst, counts)
        if tr.enabled and n >= 0:
            self.trip_layers.append(self._trip_layers(n, snap, dst))
        tr.spans.clear()
        return times

    def _check(self, n: int, snap: str, dst: IndexedFirebase, counts: dict) -> None:
        from pyspark.sql import functions as F

        from firebase_realtime_database_backup_spark.sinks.snapshot import (
            read_manifest,
            read_snapshot,
        )
        from firebase_realtime_database_backup_spark.sources.tree import canonical_json

        self.outcome.record(
            canonical_json(dst.tree) == self.tree_json, f"trip {n}: restored store differs"
        )
        rows = read_snapshot(self.spark, snap).count()
        manifest = read_manifest(self.spark, snap).agg(F.sum("n_rows")).first()[0]
        self.outcome.record(
            rows == manifest, f"trip {n}: snapshot {rows} rows, manifest {manifest}"
        )
        self.outcome.record(
            counts == self.expected, f"trip {n}: diff {counts} != {self.expected}"
        )

    def _trip_layers(self, n: int, snap: str, dst) -> dict[str, float]:
        spans = self.tracer.spans
        out: dict[str, float] = {}
        # both extracts of the trip: do_backup's and the incremental one
        reqs = [s for s in self.src.spans + self.src_new.spans if s.kind in (GET, SHALLOW)]
        extract_wall = sum(s.dur for s in spans if s.name == "extract")
        wait = _wait_s(self.src.spans) + _wait_s(self.src_new.spans)
        refused = sum(s.outcome == TOO_LARGE for s in reqs)
        out.update(
            {
                "firebase.get_requests": len(reqs),
                "firebase.get_refused": refused,
                "firebase.page_yield": (len(reqs) - refused) / max(1, len(reqs)),
                "firebase.shallow_requests": sum(s.kind == SHALLOW for s in reqs),
                "firebase.bytes_served": sum(s.nbytes for s in reqs),
                "firebase.wait_s": wait,
                "extract.self_s": extract_wall - wait,
                "extract.straggler_s": _straggler(self.src.spans)
                + _straggler(self.src_new.spans),
                "extract.concurrency": sum(s.end - s.start for s in reqs) / max(wait, 1e-9),
            }
        )
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(os.path.join(snap, "tree"))
            for f in fs
            if f.endswith(".parquet")
        ]
        jobs = self.groups.counts
        out.update(
            {
                "snapshot.write_s": self.tracer.total("write_snapshot"),
                # write_snapshot is the only Spark work in do_backup
                "snapshot.jobs": jobs(f"etl{n}:backup")[0],
                "snapshot.files": len(files),
                "snapshot.bytes_per_json_byte": sum(map(os.path.getsize, files))
                / len(self.tree_json.encode()),
                "diff.s": self.tracer.total("diff"),
                # extract's createDataFrame runs no job
                "diff.jobs": jobs(f"etl{n}:incremental_backup")[0],
                "diff.rows": sum(s.attrs.get("rows", 0) for s in spans if s.name == "diff"),
            }
        )
        patches = [s for s in dst.spans if s.kind == PATCH]
        p_refused = sum(s.outcome == REFUSED for s in patches)
        p_wait = _wait_s(patches)
        out.update(
            {
                "writeback.patches": len(patches),
                "writeback.patch_refused": p_refused,
                "writeback.patch_yield": (len(patches) - p_refused) / max(1, len(patches)),
                "writeback.wait_s": p_wait,
                "writeback.self_s": self.tracer.total("writeback") - p_wait,
            }
        )
        return out

    def stage_minima(self) -> dict[str, float]:
        """``etl.<stage>_s``: each stage's fastest calibrated time over
        the round trips, the terms ``suite_s`` sums."""
        trips = list(zip(self.passes, self.cal.factors()))
        return {
            f"etl.{s}_s": min((p[s] * f for p, f in trips if s in p), default=0.0)
            for s in STAGES
        }

    def layers(self) -> dict[str, float]:
        if not self.trip_layers:
            return {}
        out = self.stage_minima()
        for k in self.trip_layers[0]:
            out[k] = _median([t[k] for t in self.trip_layers])
        return out


def _straggler(spans) -> float:
    """Longest first-to-last request time of any top-level subtree."""
    by_top: dict[str, list[float]] = defaultdict(list)
    for s in spans:
        segs = [x for x in s.path.split("/") if x]
        if segs:
            by_top[segs[0]] += [s.start, s.end]
    return max((max(v) - min(v) for v in by_top.values()), default=0.0)


class _TracedApi:
    """Wrap the layer functions ``api.do_backup`` / ``api.do_restore``
    call (module attributes of ``api``) in spans for the duration of
    one traced round trip."""

    def __init__(self, api, tracer: trace.Tracer) -> None:
        self.api, self.tracer = api, tracer
        self.saved: dict = {}

    def __enter__(self):
        for attr in ("extract", "write_snapshot", "writeback"):
            self.saved[attr] = getattr(self.api, attr)
            setattr(self.api, attr, self._wrap(attr, self.saved[attr]))
        return self

    def _wrap(self, name, fn):
        tracer = self.tracer

        def wrapped(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def __exit__(self, *exc):
        for attr, fn in self.saved.items():
            setattr(self.api, attr, fn)
        return False
