"""Closed-loop benchmark of the spark-graft PageRank pipeline.

    python3 perfbench/run.py --workload pr_small --seed 1 --seconds 20 --trace 0

Run from the repository root. One client runs passes back to back on a
``local[2]`` session in this process. A pass takes the workload's R-MAT
edge list from its text file through every layer to checked results;
the benchmark drives the package only through its public functions.
The input is generated from ``--seed`` during set-up, and every pass's
outputs are checked against independent NumPy oracles outside the
timed region.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The traced run follows an untraced pass with a traced one,
so it also reports the tracing overhead. Spans and a record of the run
are written under ``.perfbench/results/``. The exit code is non-zero
when any output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# two task threads leave the rest of a 4-core host to the driver, the
# JIT compiler and the collector: local[4] was slower and noisier
CPUS = "2"
DRIVER_MEM = "2g"
# the reference's timed MapReduce collate phase on barabasi-100000
# (BASELINE.md), printed next to mapreduce.reverse_adjacency_s as
# context, not as a target
REFERENCE_MR_MS = 21.23

# the R-MAT graph of each workload, and the nominal wall of one pass: a
# run makes --seconds / nominal_pass_s passes, so the pass count does
# not depend on how fast the host happens to be. Every pass takes the
# graph through every layer (ingest -> MR reverse adjacency -> PageRank
# to 1e-5 -> text sink -> connected components -> k-core)
WORKLOADS = {
    # the reference's barabasi-100000 size: per-job and per-iteration
    # overhead dominate
    "pr_small": {"rmat": {"scale": 14, "edge_factor": 6}, "nominal_pass_s": 15},
    # a data-sized graph: shuffle volume weighs in
    "graph_rmat": {"rmat": {"scale": 15, "edge_factor": 8}, "nominal_pass_s": 25},
}
# the input of --toy runs, which also warms up every run
TOY_RMAT = {"scale": 8, "edge_factor": 6}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--toy", action="store_true",
        help="toy-size inputs (R-MAT scale 8) for a quick smoke check",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    results_dir = ROOT / ".perfbench" / "results"
    work = ROOT / ".perfbench" / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in (results_dir, work / "local", work / "tmp"):
        d.mkdir(parents=True, exist_ok=True)
    # set before the package is imported: the session factory reads
    # the core count at import, and every temporary file stays here
    os.environ.update({
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
    })
    sys.path.insert(0, str(ROOT))
    import bench  # the repository's host canary
    from passes import Bench

    # wall of each phase of the run, for budgeting runs
    phase_s, t0 = {}, time.perf_counter()

    def phase(name):
        nonlocal t0
        t1 = time.perf_counter()
        phase_s[name] = round(t1 - t0, 2)
        t0 = t1

    canary = bench.canary_py(reps=3)
    phase("import_canary")
    workload = WORKLOADS[args.workload]
    b = Bench(args, work, workload, TOY_RMAT if args.toy else workload["rmat"],
              TOY_RMAT)
    try:
        setup_s = b.setup()
        phase("setup")
        b.build_oracles()
        phase("oracles")
        passes = b.measure()
        phase("measure")
        rss = b.peak_rss_mb()
    finally:
        b.stop()
        phase("stop")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"

    def median(traced, key):
        return statistics.median(p[key] for p in passes[traced])

    pass_cpu_s = median(False, "cpu")
    e2e = {
        "setup_s": setup_s,
        "pass_cpu_s": pass_cpu_s,
        "rows_per_cpu_s": b.rows / pass_cpu_s,
        "peak_rss_mb": rss,
    }
    extra = {
        "fail_ratio": len(b.wrong) / b.attempted,
        "passes": passes[False],
        "canary_py": canary,
        "setup_wall": b.setup_wall,
        "check_s": b.check_s,
        "phase_s": phase_s,
    }
    if args.trace:
        b.tracer.attach_event_log(str(work / "eventlog"))
        layers = b.layer_metrics()
        layers["session.start_s"] = b.session_start_s
        layers["pass.wall_s"] = median(False, "wall")
        layers["pass.steal_s"] = median(False, "steal")
        layers["trace.overhead_s"] = median(True, "wall") - layers["pass.wall_s"]
        spans_path = results_dir / f"spans-{tag}.json"
        b.tracer.write(str(spans_path))
        extra["spans"] = str(spans_path.relative_to(ROOT))
        extra["traced_passes"] = passes[True]
        extra["reference_mr_collate_ms"] = REFERENCE_MR_MS
        section = "per_layer"
    else:
        layers = {}
        section = "end_to_end"
    shutil.rmtree(work, ignore_errors=True)

    values = {**e2e, **layers}
    metrics = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in spec[section]
    }
    with open(results_dir / f"run-{tag}.json", "w") as f:
        json.dump({"end_to_end": e2e, "per_layer": layers, **extra,
                   "wrong": b.wrong}, f, indent=1)
    for name, value in {**e2e, **extra, **layers}.items():
        print(f"# {name}: {value}")
    for w in b.wrong:
        print(f"# WRONG {w}")
    print(json.dumps({
        "correct": not b.wrong,
        "attempted": b.attempted,
        "failed": len(b.wrong),
        "metrics": metrics,
    }))
    return 0 if not b.wrong else 1


if __name__ == "__main__":
    sys.exit(main())
