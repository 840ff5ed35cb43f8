"""The driver-loop job regime (session.loop_regime) and the observed
checkpoint (session.checkpoint) that every fixed point runs on.

Pins the sizing policy, the restore-on-exit contract (normal exit,
raise, nesting), that no module outside session.py mutates session
conf or builds its own Observation, that each graph building block
in graph/algorithms.py is written once, that a loop which fails
mid-iteration releases its caches and restores the conf, and that
every vertex loop's message round runs the co-partitioned plan: the
state stays in place, every join is shuffled-hash, no broadcast.
"""

from __future__ import annotations

import ast
import gc
import importlib
import pathlib
import re
import time

import pytest

import pagerank_mapreduce_spark
from pagerank_mapreduce_spark import session
from pagerank_mapreduce_spark.graph import algorithms
from pagerank_mapreduce_spark.graph.rmat import rmat_edges
from pagerank_mapreduce_spark.plans.audit import (
    _final_tree,
    exchange_count,
    formatted_plan,
    join_strategies,
)
from pagerank_mapreduce_spark.session import loop_regime

# the package re-exports the pagerank and hits FUNCTIONS under the
# modules' names
pagerank_mod = importlib.import_module("pagerank_mapreduce_spark.graph.pagerank")
hits_mod = importlib.import_module("pagerank_mapreduce_spark.graph.hits")

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


def _top_level_functions(module) -> tuple[str, dict[str, ast.FunctionDef]]:
    src = pathlib.Path(module.__file__).read_text()
    return src, {
        node.name: node
        for node in ast.parse(src).body
        if isinstance(node, ast.FunctionDef)
    }


def test_graph_building_blocks_exist_once():
    """Each graph building block is written once in graph/algorithms.py:
    the cached loop adjacency, the message round and the min-label
    fixed point on it, the wedge explosion, the multi-source frontier
    loop, the triangle enumerator and the Louvain sweep."""
    src, funcs = _top_level_functions(algorithms)
    loops = {
        **funcs,
        **_top_level_functions(pagerank_mod)[1],
        **_top_level_functions(hits_mod)[1],
    }

    def flat(text: str) -> str:
        return re.sub(r"\s+", "", text)

    def calls(name: str) -> set[str]:
        return {
            node.func.id
            for node in ast.walk(loops[name])
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
        }

    preamble = [
        name
        for name, node in funcs.items()
        if "symmetrize(" in (body := flat(ast.get_source_segment(src, node)))
        and 'repartition("src").persist()' in body
    ]
    assert preamble == ["_loop_adjacency"]
    assert flat(src).count("F.explode(F.flatten(F.transform(") == 1
    # the frontier's anti-join against the visited set
    assert flat(src).count('["s","v"],"left_anti")') == 1
    for name in ("betweenness_sampled", "harmonic_sampled"):
        assert "_bfs_levels" in calls(name)
    assert not any(
        isinstance(node, (ast.For, ast.While))
        for node in ast.walk(funcs["harmonic_sampled"])
    )
    assert "_louvain_sweep" in calls("louvain_move")
    assert "_closed_wedges" in calls("triangles") & calls("_edge_support")
    assert "_wedges" in calls("adamic_adar") & calls("link_prediction")
    for name in ("connected_components", "scc", "sssp"):
        assert "_min_fixed_point" in calls(name), name
    for name in ("_pagerank_loop", "_hits_loop", "core_numbers", "label_propagation"):
        assert "_messages" in calls(name), name


def test_hinted_adjacency_join_only_in_message_round():
    """A state hinted ``shuffle_hash`` joins the adjacency only inside
    _messages; every other hinted join in graph/ takes the messages
    that _messages returned."""
    root = pathlib.Path(algorithms.__file__).parent
    hinted = []
    for path in sorted(root.glob("*.py")):
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            messages = {
                target.id
                for node in ast.walk(fn)
                if isinstance(node, ast.Assign)
                and isinstance(node.value, ast.Call)
                and getattr(node.value.func, "id", None) == "_messages"
                for target in node.targets
                if isinstance(target, ast.Name)
            }
            for node in ast.walk(fn):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "join"
                    and isinstance(node.func.value, ast.Call)
                    and isinstance(node.func.value.func, ast.Attribute)
                    and node.func.value.func.attr == "hint"
                ):
                    continue
                other = node.args[0]
                if not (isinstance(other, ast.Name) and other.id in messages):
                    hinted.append((fn.name, ast.unparse(other)))
    assert hinted == [("_messages", "adj")]


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
        (algorithms, lambda e: algorithms.sssp(e)),
        (algorithms, lambda e: algorithms.scc(e)),
        (hits_mod, lambda e: hits_mod.hits(e)),
    ],
    ids=["pagerank", "connected_components", "sssp", "scc", "hits"],
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


def _live_ops(plan: str) -> list[tuple[int, str]]:
    """(depth, operator) per line of the plan's operator tree, without
    the subtrees of cached relations: those ran once, when the cache
    was filled, not in the round whose plan this is."""
    tree = _final_tree(plan).split("== Physical Plan ==")[-1]
    ops, cut = [], None
    for line in tree.strip().splitlines():
        # a line without a branch marker (the plan under an
        # AdaptiveSparkPlan's "== Final Plan ==") sits at its indent
        marker = re.search(r"[+:]- ", line)
        depth = marker.start() if marker else len(line) - len(line.lstrip())
        if cut is not None and depth > cut:
            continue
        cut = depth if "InMemoryRelation" in line else None
        ops.append((depth, re.sub(r"^[\s:+\-*]*", "", line)))
    return ops


@pytest.fixture(scope="module")
def rmat_small(spark):
    return rmat_edges(spark, scale=8, edge_factor=8, seed=1, n_tasks=2).localCheckpoint()


class _Enough(Exception):
    pass


def _round_plans(monkeypatch, module, run, edges, skip, n=None):
    """The live operators of the checkpoint plans past the first
    ``skip``: of ``n`` rounds, the loop stopped at the last one, or
    (``n=None``) of every round of a run to completion, at least 3."""
    plans = []
    real = session.checkpoint

    def capture(df, *metrics):
        plans.append(formatted_plan(df))
        if n is not None and len(plans) == skip + n:
            raise _Enough
        return real(df, *metrics)

    monkeypatch.setattr(module, "checkpoint", capture)
    if n is None:
        run(edges)
        assert len(plans) >= skip + 3
    else:
        with pytest.raises(_Enough):
            run(edges)
    return [_live_ops(plan) for plan in plans[skip:]]


def _render(ops: list[tuple[int, str]]) -> str:
    return "\n".join(f"{' ' * d}{op}" for d, op in ops)


@pytest.mark.parametrize(
    "module, run, skip, n, joins",
    [
        (
            pagerank_mod,
            lambda e: pagerank_mod.pagerank(e, max_iterations=3),
            1,
            None,
            2,
        ),
        (
            pagerank_mod,
            lambda e: pagerank_mod.pagerank(e, max_iterations=3, personalize=[0, 1]),
            1,
            None,
            2,
        ),
        (
            pagerank_mod,
            lambda e: pagerank_mod.pagerank(
                e.withColumn("w", (e.src % 3 + 1).cast("double")),
                max_iterations=3,
                weight_col="w",
            ),
            1,
            None,
            2,
        ),
        # the adjacency's row count, then the init; every round up to
        # and including the converging one
        (algorithms, lambda e: algorithms.connected_components(e), 2, None, 2),
        # past the first round, which also hash-partitions the source's
        # row; sssp's growing state takes the messages by a union
        # reduced in place, not a second join
        (algorithms, lambda e: algorithms.sssp(e), 1, 3, 1),
        # the vertices come first; forward rounds follow
        (algorithms, lambda e: algorithms.scc(e), 1, 3, 2),
    ],
    ids=["pagerank", "personalized", "weighted", "connected_components", "sssp", "scc"],
)
def test_rounds_are_co_partitioned(
    rmat_small, monkeypatch, module, run, skip, n, joins
):
    """Past the init, every round joins the state (hash-partitioned on
    id) with the adjacency (hash-partitioned on src) without moving
    either, and shuffles only the messages: one Exchange, on the
    partial aggregate, and no broadcast of the adjacency."""
    for ops in _round_plans(monkeypatch, module, run, rmat_small, skip, n):
        live = _render(ops)
        assert exchange_count(live) == 1, live
        assert "BroadcastExchange" not in live, live
        assert join_strategies(live) == {"ShuffledHashJoin": joins}, live
        # the one Exchange sits on the partial aggregate of the
        # messages, so neither the state nor the adjacency is shuffled
        (i,) = [i for i, (_, op) in enumerate(ops) if op.startswith("Exchange")]
        assert ops[i + 1][1].startswith("HashAggregate"), live


@pytest.mark.parametrize(
    "module, run, skip, exchanges",
    [
        # the first iteration also hash-partitions the initial hubs
        (hits_mod, lambda e: hits_mod.hits(e), 1, 2),
        # two rounds per checkpoint; the adjacency's row count and the
        # init come first
        (algorithms, lambda e: algorithms.core_numbers(e), 2, 2),
        (algorithms, lambda e: algorithms.label_propagation(e), 2, 4),
    ],
    ids=["hits", "core_numbers", "label_propagation"],
)
def test_message_rounds_never_broadcast(
    rmat_small, monkeypatch, module, run, skip, exchanges
):
    """The loops whose messages are the next state: every join is a
    shuffled-hash join, nothing is broadcast, and the only Exchanges
    are the message aggregates (hits: one per half-step; core numbers:
    one per round; label propagation: the (vertex, label) count and
    the winner per round)."""
    for ops in _round_plans(monkeypatch, module, run, rmat_small, skip, 2):
        live = _render(ops)
        assert exchange_count(live) == exchanges, live
        assert "BroadcastExchange" not in live, live
        assert set(join_strategies(live)) == {"ShuffledHashJoin"}, live
