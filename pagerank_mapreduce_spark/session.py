"""SparkSession factory with scale-oriented defaults.

The reference engines hand-tune page sizes, spill paths and all-to-all
flow control (MR-MPI doc/settings.txt); on Spark the equivalents are
AQE, shuffle-partition sizing and Arrow-batched Python interop, set
once here so every entry point (tests, bench, driver) agrees.

Driver loops run under :func:`loop_regime` and materialize each
iteration through :func:`checkpoint`; the regime policy lives only
here. AQE is off while a loop runs: its per-stage re-planning
dominates small fixed-shape iteration plans (~30% of PageRank
iteration wall time at test scale). Sized by a row count, a loop's
shuffle partitions are ``max(4, min(session, rows // 250_000 + 1))``
— ~250k rows each, the session value as ceiling, 4 as floor — and
the floor wins over the ceiling: a ``local[2]`` session (2
partitions) loops at 4. Both keys are restored on exit, on error
too, and nested scopes unwind in LIFO order. Like any SQL conf the
regime is session-global.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, Row, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "pagerank-mapreduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults are chosen for correctness at local[*] test scale while
    staying valid on a large cluster:

    - AQE on: runtime partition coalescing + skew-join splitting
      (replaces MR-MPI's hand-rolled flow control / scale-back loop,
      src/mapreduce.cpp:472-517).
    - Arrow on: Pandas UDF batches cross the Python boundary
      columnar, never row-at-a-time.
    - shuffle partitions sized from the available cores locally; a
      real cluster overrides via spark.sql.shuffle.partitions or AQE.

    MR-MPI settings (src/mapreduce.h:28-41, doc/settings.txt) → Spark
    conf mapping, for operators porting tuned jobs:

    ==================  =================================================
    MR-MPI setting      Spark equivalent
    ==================  =================================================
    mapstyle 0/1/2      task scheduler (built-in; 2≈dynamic allocation)
    all2all             shuffle implementation (sort-based; not a knob)
    memsize             spark.memory.fraction / executor memory sizing
    minpage/maxpage     spark.sql.files.maxPartitionBytes (input side),
                        spark.sql.shuffle.partitions (shuffle side)
    outofcore           automatic (UnsafeExternalSorter spills)
    zeropage            n/a (JVM zeroes allocations)
    keyalign/valuealign n/a (Tungsten rows are 8-byte aligned already)
    fpath               spark.local.dir
    verbosity/timer     Spark UI / event log / SparkListener
    ==================  =================================================
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Python side of the handshake timeout (see the JVM conf below);
    # the worker daemon inherits this env in local mode. setdefault so
    # an explicit caller/CI value wins.
    os.environ.setdefault("SPARK_AUTH_SOCKET_TIMEOUT", "120")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # TIMESTAMP(NANOS) reads as int64 (sources/tables.py converts);
        # set once so a column's type never depends on read order
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # bound plan-string rendering: an interrupted streaming
        # teardown otherwise stringifies + regex-redacts a multi-MB
        # plan on the stream-execution thread (observed as a
        # java.util.regex StackOverflowError dumped into test logs —
        # cosmetic but it buries real failures). Truncating the
        # rendered plan and field lists keeps teardown logs readable;
        # no effect on execution, only on log/UI strings.
        .config("spark.sql.debug.maxToStringFields", "25")
        .config("spark.sql.maxPlanStringLength", "100000")
        .config("spark.sql.maxMetadataStringLength", "200")
        # Python-worker handshake timeout: both sides of the
        # worker<->JVM connect-back default to 15 s (JVM accept:
        # spark.python.authenticate.socketTimeout; Python connect:
        # SPARK_AUTH_SOCKET_TIMEOUT read in util.py). On an
        # oversubscribed host (the 9-JVM concurrent test layout) a
        # fresh worker spawn — especially transformWithStateInPandas,
        # which adds a state-server socket per worker — can exceed
        # 15 s of scheduler delay and fail the stream with
        # CANNOT_OPEN_SOCKET / "Python worker failed to connect
        # back". 120 s changes nothing on a healthy host (the accept
        # completes in ms) and removes the spurious failure mode.
        .config("spark.python.authenticate.socketTimeout", "120s")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_AQE = "spark.sql.adaptive.enabled"
_PARTITIONS = "spark.sql.shuffle.partitions"


@contextmanager
def loop_regime(spark: SparkSession, rows: int | None = None):
    """Run a driver loop with AQE off and, given ``rows``, shuffle
    partitions sized to it (policy in the module doc); both keys are
    restored on exit."""
    conf = spark.conf
    saved = {k: conf.get(k) for k in (_AQE, _PARTITIONS)}
    try:
        conf.set(_AQE, "false")
        if rows is not None:
            ceiling = int(saved[_PARTITIONS])
            conf.set(_PARTITIONS, str(max(4, min(ceiling, rows // 250_000 + 1))))
        yield
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def checkpoint(df: DataFrame, *metrics) -> tuple[DataFrame, Row]:
    """Materialize ``df`` with an eager ``localCheckpoint`` and return
    it with ``metrics`` (aggregate Columns) observed on that same job:
    one job per loop iteration, lineage truncated, scalars only to the
    driver."""
    obs = Observation()
    df = df.observe(obs, *metrics).localCheckpoint()
    return df, obs.get
