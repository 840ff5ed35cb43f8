"""The benchmark's passes: set-up, a pass over the workload's inputs,
its checks, and the session's shutdown.

Import this module only after the environment is set (see run.py):
the package reads the core count when it is imported.
"""

from __future__ import annotations

import os
import statistics
import time
from pathlib import Path

import numpy as np
from pyspark import SparkContext
from pyspark.sql import functions as F

from graphs import (
    RANK_TOL,
    cc_oracle,
    kcore_oracle,
    load_edges,
    pagerank_oracle,
    read_rank_file,
    reverse_adjacency_checksums,
    reverse_adjacency_oracle,
    write_rmat,
)
from pagerank_mapreduce_spark import format_ranks, get_spark, pagerank, read_edge_list
from pagerank_mapreduce_spark.graph import reverse_adjacency
from pagerank_mapreduce_spark.graph.algorithms import connected_components, kcore
from spans import Tracer, alive, descendants, peak_rss_mb, steal_s, tree_cpu_s

SETUP_REPS = 3
WARM_PASSES = 1


def cpu_s() -> float:
    """CPU seconds of this process, the JVM and its Python workers."""
    return tree_cpu_s(os.getpid())


class Bench:
    """One benchmark run: a session, its inputs, oracles and passes."""

    def __init__(self, args, work: Path, workload: dict, size: dict,
                 warm_size: dict):
        self.args = args
        self.work = work
        self.workload = workload
        self.size = size
        self.warm_size = warm_size
        conf = {
            # the whole heap from the start, so resident memory does
            # not depend on when the collector chose to grow it
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
                f" -Djava.io.tmpdir={work / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            (work / "eventlog").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        t0, c0 = time.perf_counter(), cpu_s()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.session_start_s = time.perf_counter() - t0
        self.session_cpu_s = cpu_s() - c0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark.sparkContext)

    # ------------------------------------------------------------ set-up

    def generate(self, out: Path, size: dict) -> str:
        path = str(out / "rmat")
        write_rmat(self.spark, path, seed=self.args.seed, **size)
        return path

    def setup(self) -> float:
        """Warm the session with WARM_PASSES unchecked passes over a
        small graph, then generate the input SETUP_REPS times. Returns
        the CPU seconds of session start, warm-up and the median
        generation; ``setup_wall`` keeps their walls."""
        t0, c0 = time.perf_counter(), cpu_s()
        warm = self.generate(self.work / "warm", self.warm_size)
        for _ in range(WARM_PASSES):
            self.run_pass(warm, self.work / "warm_out", None)
        warm_s, warm_cpu = time.perf_counter() - t0, cpu_s() - c0
        gen_s, gen_cpu = [], []
        for rep in range(SETUP_REPS):
            t0, c0 = time.perf_counter(), cpu_s()
            self.input = self.generate(self.work / f"in{rep}", self.size)
            gen_s.append(time.perf_counter() - t0)
            gen_cpu.append(cpu_s() - c0)
        self.setup_wall = {"session": self.session_start_s, "warm": warm_s,
                           "generate": gen_s}
        return self.session_cpu_s + warm_cpu + statistics.median(gen_cpu)

    def build_oracles(self) -> None:
        src, dst = load_edges(self.input)
        self.rows = len(src)
        self.oracle = {
            "edges": len(src),
            "reverse_adjacency": reverse_adjacency_oracle(src, dst),
            "pagerank": pagerank_oracle(src, dst),
            "cc": cc_oracle(src, dst),
            "kcore": kcore_oracle(src, dst),
        }

    # ------------------------------------------------------------- a pass

    def run_pass(self, path: str, out: Path, pass_id: int | None) -> dict:
        """The graph from its file through every layer to materialized
        results; returns the handles the checks read. Each call into
        the package is a span under the pass ``pass_id``."""
        span = self.tracer.span
        r = {}
        with span("sources.read_edge_list", pass_id) as sp:
            edges = read_edge_list(self.spark, path)
            r["edges"] = sp["rows"] = edges.count()
        with span("mapreduce.reverse_adjacency", pass_id):
            row = reverse_adjacency_checksums(reverse_adjacency(edges)).first()
            r["reverse_adjacency"] = tuple(int(x) for x in row)
        with span("pagerank", pass_id) as sp:
            res = r["pagerank"] = pagerank(edges)
            sp["iterations"] = res.iterations
        r["format_ranks"] = str(out / "ranks")
        with span("io.format_ranks", pass_id):
            format_ranks(res.ranks).coalesce(1).write.mode("overwrite").text(
                r["format_ranks"]
            )
        for name, fn, col in (("cc", connected_components, "comp"),
                              ("kcore", kcore, "deg")):
            with span(name, pass_id):
                r[name] = fn(edges).select(
                    "id", F.col(col).alias("v")
                ).localCheckpoint()
        return r

    def check(self, r: dict) -> tuple[int, list[str]]:
        """Compare one pass's outputs with the oracles; returns the
        number of results checked and a message per wrong one."""
        o = self.oracle
        attempted, wrong = 0, []

        def expect(name, ok, detail=""):
            nonlocal attempted
            attempted += 1
            if not ok:
                wrong.append(f"{name} {detail}".strip())

        expect("edges", r["edges"] == o["edges"], f"{r['edges']} != {o['edges']}")
        expect("reverse_adjacency", r["reverse_adjacency"] == o["reverse_adjacency"])
        ranks, iterations = o["pagerank"]
        got_it = r["pagerank"].iterations
        expect("pagerank.iterations", got_it == iterations, f"{got_it} != {iterations}")
        ids, got, total = read_rank_file(r["format_ranks"])
        same_ids = np.array_equal(ids, np.arange(len(ranks)))
        expect("format_ranks", same_ids and abs(total - got.sum()) <= RANK_TOL)
        expect("pagerank.ranks", same_ids and np.abs(got - ranks).max() <= RANK_TOL)
        for name in ("cc", "kcore"):
            pdf = r[name].toPandas().sort_values("id")
            want_ids, want_v = o[name]
            expect(name, np.array_equal(pdf["id"].to_numpy(), want_ids)
                   and np.array_equal(pdf["v"].to_numpy(), want_v))
        return attempted, wrong

    # --------------------------------------------------------- measuring

    def measure(self) -> dict:
        """Closed loop: passes back to back, --seconds / nominal_pass_s
        of them. A traced run makes one untraced pass, then one traced
        pass; as the JVM still warms up between them, the overhead it
        reports is a lower bound. Returns, for untraced (False) and
        traced (True) passes, each pass's wall, the CPU seconds of this
        process tree and the CPU seconds the hypervisor stole."""
        if self.args.trace:
            schedule = [False, True]
        else:
            n = round(self.args.seconds / self.workload["nominal_pass_s"])
            schedule = [False] * max(1, n)
        passes = {False: [], True: []}
        self.traced_passes = []
        self.attempted, self.wrong = 0, []
        self.check_s = []
        for traced in schedule:
            self.tracer.enabled = traced
            with self.tracer.span("pass") as sp:
                cpu0, steal0 = cpu_s(), steal_s()
                t0 = time.perf_counter()
                results = self.run_pass(self.input, self.work / "out", sp.get("id"))
                passes[traced].append({
                    "wall": time.perf_counter() - t0,
                    "cpu": cpu_s() - cpu0,
                    "steal": steal_s() - steal0,
                })
            self.tracer.enabled = False
            if traced:
                self.traced_passes.append(sp["id"])
            t0 = time.perf_counter()
            attempted, wrong = self.check(results)
            self.check_s.append(time.perf_counter() - t0)
            self.attempted += attempted
            self.wrong += wrong
        return passes

    def peak_rss_mb(self) -> float:
        """JVM plus this Python driver; Python workers are not counted."""
        return peak_rss_mb([os.getpid(), SparkContext._gateway.proc.pid])

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for every process
        they started to end."""
        procs = descendants(os.getpid())
        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        # the gateway JVM exits when its stdin closes; its Python
        # worker daemon exits when the JVM's pipe closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        deadline = time.monotonic() + 60
        while any(alive(p) for p in procs):
            if time.monotonic() > deadline:
                raise RuntimeError("Spark processes did not exit")
            time.sleep(0.1)

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer numbers of each traced pass, medians over passes."""
        per_pass = []
        for pid in self.traced_passes:
            calls = [s for s in self.tracer.spans if s["parent"] == pid]

            def tot(name, key):
                return sum(c[key] for c in calls if c["name"] == name)

            m = {
                "sources.read_edge_list_s": tot("sources.read_edge_list", "wall"),
                "sources.edges": tot("sources.read_edge_list", "rows"),
                "mapreduce.reverse_adjacency_s": tot("mapreduce.reverse_adjacency", "wall"),
                "io.format_ranks_s": tot("io.format_ranks", "wall"),
                "pagerank.iterations": tot("pagerank", "iterations"),
                "pagerank.tasks": tot("pagerank", "tasks"),
                "pagerank.executor_cpu_s": tot("pagerank", "executor_cpu_s"),
            }
            for layer in ("pagerank", "cc", "kcore"):
                m[f"{layer}.s"] = tot(layer, "wall")
                for key in ("jobs", "shuffle_read_mb", "shuffle_write_mb",
                            "spill_mb", "driver_gap_s"):
                    m[f"{layer}.{key}"] = tot(layer, key)
            m["pagerank.iter_s"] = m["pagerank.s"] / m["pagerank.iterations"]
            per_pass.append(m)
        return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}

