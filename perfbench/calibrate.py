"""Host-speed calibration of the timed passes.

The VM the benchmark was tuned on shares its host.  In busy periods
every operation runs 15-100% slower, and a fresh JVM reaches its
compiled steady state at a different pace in every run, so raw pass
times of the same code spread by 15-48% from one run to the next.  Both effects slow
everything that runs in the process at that moment, so the benchmark
measures them with a fixed calibration job that never calls the engine:

- a Spark SQL aggregate and join over ``range`` rows, planned and run in
  a session of its own whose SQL settings are Spark's defaults, not the
  engine's;
- a ``mapInPandas`` pass over the same rows (the Arrow / Python-worker
  path);
- a JSON encode / decode of a fixed tree in the driver process.

The job runs at every pass boundary, after both heaps are collected.  A
pass is scaled by ``NOMINAL_S`` over the mean of the two calibration
samples around it, so a calibrated time reads as seconds on a host where
the job takes ``NOMINAL_S``.
"""

from __future__ import annotations

import json
import statistics
import time

#: the calibration job's time between passes on the 4-vCPU box this was
#: tuned on, in a calm period: calibrated seconds are wall seconds there
NOMINAL_S = 0.8
#: untimed calibration samples during set-up
WARM_SAMPLES = 3
ROWS = 200_000
SHUFFLE_PARTITIONS = 4
KEYS = 997

_TREE = {
    f"k{i:05d}": {"name": f"item-{i}", "n": i, "tags": ["a", "b", str(i % 7)], "ok": i % 2 == 0}
    for i in range(5_000)
}


class Calibration:
    """The calibration job and its samples."""

    def __init__(self, spark) -> None:
        self.session = spark.newSession()
        # Spark's defaults for every SQL setting get_spark passed, so a
        # change to the engine's settings does not move the job; four
        # shuffle partitions suit its small input
        for key, _ in spark.sparkContext.getConf().getAll():
            if key.startswith("spark.sql.") and self.session.conf.isModifiable(key):
                self.session.conf.unset(key)
        self.session.conf.set("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        #: one sample per pass boundary
        self.samples: list[float] = []

    def run(self) -> float:
        """One run of the job, in seconds."""
        from pyspark.sql import functions as F

        s = self.session
        t0 = time.perf_counter()
        facts = s.range(0, ROWS, 1, 4).select(
            (F.col("id") % KEYS).alias("k"), (F.col("id") * 7 % 1000).alias("v")
        )
        dims = s.range(0, KEYS, 1, 1).select(F.col("id").alias("k"), (F.col("id") % 13).alias("g"))
        agg = facts.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        agg.join(dims, "k").groupBy("g").agg(F.sum("s"), F.max("n")).write.format("noop").mode(
            "overwrite"
        ).save()
        # defined here, so the Python workers receive it by value
        def plus_one(batches):
            for pdf in batches:
                yield pdf.assign(v=pdf["v"] + 1)

        facts.mapInPandas(plus_one, "k long, v long").write.format("noop").mode("overwrite").save()
        if json.loads(json.dumps(_TREE, sort_keys=True)) != _TREE:
            raise AssertionError("calibration JSON round trip changed the tree")
        return time.perf_counter() - t0

    def warm(self) -> None:
        for _ in range(WARM_SAMPLES):
            self.run()

    def sample(self) -> None:
        self.samples.append(self.run())

    def factors(self) -> list[float]:
        return factors(self.samples)

    def median_s(self) -> float:
        return statistics.median(self.samples) if self.samples else 0.0


def factors(samples: list[float]) -> list[float]:
    """Per pass: NOMINAL_S over the mean of the two samples around it
    (pass p lies between samples p and p + 1)."""
    return [2 * NOMINAL_S / (samples[p] + samples[p + 1]) for p in range(len(samples) - 1)]
