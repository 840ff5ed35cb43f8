"""The driver-loop job regime (session.loop_regime) and the observed
checkpoint (session.checkpoint) that every fixed point runs on.

Pins the sizing policy, the restore-on-exit contract (normal exit,
raise, nesting), that no module outside session.py mutates session
conf or builds its own Observation, and that a loop which fails
mid-iteration releases its caches and restores the conf.
"""

from __future__ import annotations

import gc
import importlib
import pathlib
import re
import time

import pytest

import pagerank_mapreduce_spark
from pagerank_mapreduce_spark import session
from pagerank_mapreduce_spark.graph import algorithms
from pagerank_mapreduce_spark.session import loop_regime

# the package re-exports the pagerank FUNCTION under the module's name
pagerank_mod = importlib.import_module("pagerank_mapreduce_spark.graph.pagerank")

AQE = "spark.sql.adaptive.enabled"
PARTS = "spark.sql.shuffle.partitions"


@pytest.fixture
def session_partitions(spark):
    """Set the session's shuffle partitions for one test, restored."""
    saved = spark.conf.get(PARTS)

    def set_(n: int) -> None:
        spark.conf.set(PARTS, str(n))

    yield set_
    spark.conf.set(PARTS, saved)


def test_partitions_restored_on_exit_and_on_raise(spark):
    before = (spark.conf.get(AQE), spark.conf.get(PARTS))
    with loop_regime(spark, 10**9):
        assert spark.conf.get(AQE) == "false"
    assert (spark.conf.get(AQE), spark.conf.get(PARTS)) == before
    with pytest.raises(RuntimeError):
        with loop_regime(spark, 10**9):
            raise RuntimeError("boom")
    assert (spark.conf.get(AQE), spark.conf.get(PARTS)) == before


def test_nested_sized_scopes_restore_outer_value(spark, session_partitions):
    session_partitions(32)
    with loop_regime(spark, 1_000_000):
        assert spark.conf.get(PARTS) == "5"
        with loop_regime(spark, 0):
            assert spark.conf.get(PARTS) == "4"
        assert spark.conf.get(PARTS) == "5"
        assert spark.conf.get(AQE) == "false"
        with pytest.raises(RuntimeError):
            with loop_regime(spark, 0):
                raise RuntimeError("boom")
        assert spark.conf.get(PARTS) == "5"
    assert spark.conf.get(PARTS) == "32"


@pytest.mark.parametrize(
    "session_value, rows, expected",
    [
        (32, 0, 4),
        (32, 1_000_000, 5),
        (8, 10**7, 8),
        # the floor beats the ceiling: a local[2] session loops at 4
        (2, 0, 4),
        (2, 10**7, 4),
    ],
)
def test_sizing_table(spark, session_partitions, session_value, rows, expected):
    session_partitions(session_value)
    with loop_regime(spark, rows):
        assert spark.conf.get(PARTS) == str(expected)
    assert spark.conf.get(PARTS) == str(session_value)


def test_unsized_regime_keeps_partitions(spark, session_partitions):
    session_partitions(7)
    with loop_regime(spark):
        assert spark.conf.get(PARTS) == "7"
        assert spark.conf.get(AQE) == "false"


def test_only_session_sets_conf_or_builds_observations():
    """The regime policy and the observed checkpoint live in ONE module:
    any other conf.set( or Observation( in the package is a loop that
    went back to hand-rolling them."""
    root = pathlib.Path(pagerank_mapreduce_spark.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{i}"
        for path in sorted(root.rglob("*.py"))
        if path.name != "session.py" or path.parent != root
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"conf\.set\(|Observation\(", line)
    ]
    assert offenders == []


def _persistent_rdds(spark) -> int:
    """Count of persisted RDDs once garbage is collected. Eager
    checkpoints stay registered until their DataFrames are collected on
    both sides of py4j, and py4j releases JVM objects from a background
    thread's queue; so collect, drain that queue, run a JVM GC, and
    read until the count is stable (bounded wait)."""
    sc = spark.sparkContext
    queue = sc._gateway._gateway_client.finalizer_deque
    deadline = time.monotonic() + 300
    prev = None
    while True:
        gc.collect()
        while queue and time.monotonic() < deadline:
            time.sleep(0.05)
        time.sleep(0.2)
        sc._jvm.System.gc()
        n = sc._jsc.getPersistentRDDs().size()
        if n == prev or time.monotonic() > deadline:
            return n
        prev = n


def _fail_second_checkpoint(monkeypatch, module):
    real = session.checkpoint
    calls = []

    def fake(df, *metrics):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected checkpoint failure")
        return real(df, *metrics)

    monkeypatch.setattr(module, "checkpoint", fake)
    return calls


@pytest.mark.parametrize(
    "module, run",
    [
        (pagerank_mod, lambda e: pagerank_mod.pagerank(e)),
        (algorithms, lambda e: algorithms.connected_components(e)),
    ],
    ids=["pagerank", "connected_components"],
)
def test_loop_failure_releases_caches_and_conf(spark, monkeypatch, module, run):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5)], "src long, dst long"
    )
    conf_before = (spark.conf.get(AQE), spark.conf.get(PARTS))
    rdds_before = _persistent_rdds(spark)
    calls = _fail_second_checkpoint(monkeypatch, module)
    with pytest.raises(RuntimeError, match="injected checkpoint failure"):
        run(edges)
    assert len(calls) == 2
    assert (spark.conf.get(AQE), spark.conf.get(PARTS)) == conf_before
    assert _persistent_rdds(spark) == rdds_before
