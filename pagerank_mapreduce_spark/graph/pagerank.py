"""Damped PageRank over an edge DataFrame — the reference's raison d'être.

Semantics replicate the reference kernel exactly (mr-pr-cpp.cpp:110-180,
identical in mr-pr-mpi.cpp:121-191 and mr-pr-mpi-base.cpp:40-110):

- vertices are dense ids ``0..n-1`` with ``n = max(id)+1`` (websize,
  mr-pr-cpp.cpp:203-210); ids that never appear in the edge list still
  hold rank (they are dangling).
- rank vector initialized to ``e1 = (1, 0, ..., 0)`` (mr-pr-cpp.cpp:128).
- per iteration (mr-pr-cpp.cpp:130-177):
  ``sum_pr``/``dangling_pr`` computed over the *pre-normalization*
  current vector; old vector normalized to sum 1 (skipped on iteration
  0); ``one_Av = alpha * dangling_pr / n``; ``one_Iv = (1-alpha)/n``;
  ``new[i] = alpha * sum_{j->i} old[j]/outdeg[j] + one_Av + one_Iv``;
  L1 diff vs the normalized old vector; stop at diff <= convergence or
  max_iterations. Defaults alpha=0.85, convergence=1e-5,
  max_iterations=10000 (mr-pr-cpp.cpp:11-13).
- duplicate edges contribute multiply; self-loops count
  (the reference parser never dedups, mr-pr-cpp.cpp:89-108).

Scale design (100 TB stance):

- **No reverse-adjacency materialization.** The reference builds
  ``incoming[i]`` lists via MapReduce; at power-law skew a
  ``collect_list`` would OOM the hot keys. Contributions are
  aggregated directly with an algebraic ``sum`` (map-side partial
  aggregation is automatic), so skewed in-degree stays safe and AQE
  skew handling applies.
- **Edges cached once, pre-partitioned on the join key** (``src``):
  the per-iteration ``ranks ⋈ links`` reuses the cached layout; only
  the (much smaller) rank vector shuffles each iteration.
- **Driver sees scalars only** — three aggregates per iteration
  (diff, sum, dangling-sum); ranks never ``collect()``.
- **Lineage truncated every iteration** via ``localCheckpoint`` on
  the already-materialized iteration result, keeping plan analysis
  O(1) across thousands of iterations (Catalyst has no fixed-point
  operator; the loop lives in the driver, SURVEY.md §4.3).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_mapreduce_spark.session import checkpoint, loop_regime

ALPHA = 0.85  # mr-pr-cpp.cpp:11
CONVERGENCE = 1e-5  # mr-pr-cpp.cpp:12
MAX_ITERATIONS = 10000  # mr-pr-cpp.cpp:13


def pagerank_oracle_sql(
    edges_sql: str,
    alpha: float = ALPHA,
    convergence: float = CONVERGENCE,
    max_iterations: int = MAX_ITERATIONS,
    round_digits: int = 8,
    personalize: list[int] | None = None,
    weighted: bool = False,
) -> str:
    """DuckDB oracle replaying the full :func:`pagerank` fixed point as
    a recursive CTE — iteration for iteration, scalar for scalar.

    The loop state is entirely derivable from the carried rank vector:
    ``sum_pr`` and ``dangling_pr`` (pre-normalization, like the
    reference mr-pr-cpp.cpp:132-138) are aggregates over the previous
    generation, and the L1 diff that gates the next round rides along
    as a column on every emitted row. Generations stop exactly when
    Spark's ``while diff > convergence and it < max_iterations`` does.

    Why exact hash equality is safe for an iterative float algorithm:
    the damped iteration is a contraction (factor ``alpha``), so the
    engines' summation-order noise does not compound — measured
    cross-engine divergence on the sf0.01 fixture is ~1e-18, while the
    closest rank to a round-8 boundary is ~1e-12 away and the closest
    L1 diff to the convergence threshold is 1.37x away. Every literal
    in the arithmetic is written with the same association order as
    the Spark expressions, and the base-case literals are cast to
    DOUBLE explicitly (DuckDB types bare ``1.0`` as DECIMAL, which
    would silently quantize the whole recursion).
    """
    a = repr(float(alpha))
    if personalize is None:
        init_case = "CASE WHEN id = 0 THEN 1.0 ELSE 0.0 END"
        redistribute = (
            f"+ {a} * s.dangling / (SELECT n FROM ws)\n"
            f"                        + (1.0 - {a}) / (SELECT n FROM ws)"
        )
    else:
        if not personalize:
            raise ValueError("personalize must name at least one vertex")
        # personalized teleport: dangling + (1-a) mass goes to the
        # source set, weight 1/|S| each — the literal is repr()'d once
        # so Spark and DuckDB compare bit-identical doubles
        ids = ", ".join(str(int(i)) for i in sorted(set(personalize)))
        tw = repr(1.0 / len(set(personalize)))
        tele = (
            f"CASE WHEN c.id IN ({ids}) THEN CAST({tw} AS DOUBLE) "
            f"ELSE CAST(0.0 AS DOUBLE) END"
        )
        init_case = f"CASE WHEN id IN ({ids}) THEN {tw} ELSE 0.0 END"
        redistribute = (
            f"+ {a} * s.dangling * {tele}\n"
            f"                        + (1.0 - {a}) * {tele}"
        )
    deg_agg = "sum(w)" if weighted else "count(*)"
    contrib_expr = "c.rank * e.w / v.deg" if weighted else "c.rank / v.deg"
    return f"""
      WITH RECURSIVE
      ed AS ({edges_sql}),
      ws AS (SELECT greatest(max(src), max(dst)) + 1 AS n FROM ed),
      deg AS (SELECT src AS id, CAST({deg_agg} AS DOUBLE) AS deg
              FROM ed GROUP BY src),
      verts AS (SELECT u.id, coalesce(d.deg, 0.0) AS deg
                FROM (SELECT unnest(generate_series(0, (SELECT n FROM ws) - 1))
                             AS id) u
                LEFT JOIN deg d ON u.id = d.id),
      t(it, id, rank, diff) AS (
        SELECT 0, id, CAST({init_case} AS DOUBLE),
               CAST(1e308 AS DOUBLE) FROM verts
        UNION ALL
        (WITH cur AS (SELECT it, id, rank FROM t
                      WHERE diff > {convergence!r} AND it < {max_iterations}),
         st AS (SELECT sum(c.rank) AS sum_pr,
                       sum(CASE WHEN v.deg = 0 THEN c.rank ELSE 0.0 END)
                         AS dangling
                FROM cur c JOIN verts v ON c.id = v.id),
         contrib AS (SELECT e.dst AS id, sum({contrib_expr}) AS h_raw
                     FROM cur c
                     JOIN ed e ON c.id = e.src
                     JOIN verts v ON c.id = v.id
                     GROUP BY e.dst),
         nxt AS (SELECT c.it + 1 AS it, c.id,
                        {a} * coalesce(h.h_raw, CAST(0.0 AS DOUBLE))
                          / (CASE WHEN c.it = 0 THEN 1.0 ELSE s.sum_pr END)
                        {redistribute} AS rank,
                        c.rank / (CASE WHEN c.it = 0 THEN 1.0 ELSE s.sum_pr END)
                          AS old_rank
                 FROM cur c CROSS JOIN st s LEFT JOIN contrib h ON c.id = h.id),
         dl AS (SELECT sum(abs(rank - old_rank)) AS d FROM nxt)
         SELECT it, id, rank, (SELECT d FROM dl) FROM nxt)
      )
      SELECT id, round(rank, {round_digits}) AS rank
      FROM t WHERE it = (SELECT max(it) FROM t)"""


def out_degrees(edges: DataFrame) -> DataFrame:
    """out-degree per src page (reference ``num_outgoing``,
    mr-pr-cpp.cpp:202-208). Returns (src, deg)."""
    return edges.groupBy("src").agg(F.count("*").alias("deg"))


def websize(edges: DataFrame) -> int:
    """``max(max(src), max(dst)) + 1`` (mr-pr-cpp.cpp:203-210)."""
    row = edges.agg(
        (F.greatest(F.max("src"), F.max("dst")) + 1).alias("n")
    ).first()
    return int(row["n"]) if row["n"] is not None else 0


def reverse_adjacency(edges: DataFrame, sort: bool = True) -> DataFrame:
    """Reverse adjacency list: (dst, in_links ARRAY<BIGINT>).

    The exact semantic core of the reference's MapReduce job: map
    reverses each edge to (dst, src) (mr-pr-cpp.cpp:59-69), shuffle
    groups by dst, reduce re-emits the group (mr-pr-cpp.cpp:71-79 /
    collate+collect in mr-pr-mpi-base.cpp:143-146,202-203).

    NOTE: materializing per-vertex lists is inherently skew-fragile —
    the PageRank loop deliberately never calls this (see module doc);
    it exists for parity and for consumers that want the lists.
    """
    agg = F.collect_list("src")
    if sort:
        agg = F.array_sort(agg)
    return edges.groupBy("dst").agg(agg.alias("in_links"))


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id BIGINT, rank DOUBLE)
    iterations: int
    diff: float  # final L1 delta
    num_vertices: int
    diffs: list[float] = field(default_factory=list)


def _graph_size(edges: DataFrame, num_vertices: int | None) -> tuple[int, int]:
    """``(websize, edge count)`` for the pagerank and hits loops in ONE
    aggregate job over the edge relation; raises on an empty graph."""
    if num_vertices is not None:
        n, m = num_vertices, edges.count()
    else:
        row = edges.agg(
            (F.greatest(F.max("src"), F.max("dst")) + 1).alias("n"),
            F.count(F.lit(1)).alias("m"),
        ).first()
        n = int(row["n"]) if row["n"] is not None else 0
        m = int(row["m"])
    if n <= 0:
        raise ValueError("empty graph")
    return n, m


def pagerank(
    edges: DataFrame,
    alpha: float = ALPHA,
    convergence: float = CONVERGENCE,
    max_iterations: int = MAX_ITERATIONS,
    num_vertices: int | None = None,
    personalize: list[int] | None = None,
    weight_col: str | None = None,
) -> PageRankResult:
    """Run the reference PageRank fixed point; returns distributed ranks.

    ``personalize``: teleport to this vertex set instead of uniformly —
    personalized PageRank (beyond the reference, which is global-only:
    mr-pr-cpp.cpp:110-180). Init mass, the damping teleport AND the
    dangling redistribution all go to the set, weight 1/|S| each; the
    global path's expressions are untouched when None. The set is
    embedded as an ``isin`` literal — the common small-seed-set case;
    a million-vertex seed set would want a broadcast-join variant."""
    n, m = _graph_size(edges, num_vertices)
    if personalize is not None:
        seeds = set(personalize)
        if not seeds:
            raise ValueError("personalize must name at least one vertex")
        bad = [i for i in seeds if not (0 <= int(i) < n)]
        if bad:
            # an all-out-of-range set would silently converge to the
            # zero vector in one iteration — fail loudly instead
            raise ValueError(
                f"personalize ids outside [0, {n}): {sorted(bad)[:5]}"
            )

    # the loop's shuffle is sized to the graph's edge count (policy:
    # session.loop_regime); every iteration is join+agg+join over the
    # same relations, so one partition count pays off every iteration
    spark = edges.sparkSession
    with loop_regime(spark, m):
        return _pagerank_loop(
            spark, edges, n, alpha, convergence, max_iterations, personalize,
            weight_col,
        )


def _pagerank_loop(
    spark,
    edges: DataFrame,
    n: int,
    alpha: float,
    convergence: float,
    max_iterations: int,
    personalize: list[int] | None = None,
    weight_col: str | None = None,
) -> PageRankResult:
    tele_ids = sorted(set(personalize)) if personalize is not None else None
    tele_w = 1.0 / len(tele_ids) if tele_ids else 0.0
    if weight_col is None:
        deg = out_degrees(edges)
        link_cols = ["src", "dst", "deg"]
    else:
        # weighted variant (beyond the reference): deg is the source's
        # total outgoing weight; contributions scale by w/deg. Weights
        # must be positive — a zero-weight-sum source would divide by
        # zero exactly like a phantom dangling vertex.
        deg = edges.groupBy("src").agg(
            F.sum(F.col(weight_col).cast("double")).alias("deg")
        )
        link_cols = ["src", "dst", F.col(weight_col).cast("double").alias("w"), "deg"]
    # Edge relation with the degree of its source attached, cached and
    # pre-partitioned on the per-iteration join key.
    links = (
        edges.join(deg, "src")
        .select(*link_cols)
        .repartition("src")
        .persist()
    )
    # Dense vertex relation with out-degree (0 for dangling), cached.
    vertices = spark.range(n).select(F.col("id").cast("bigint").alias("id"))
    vdeg = (
        vertices.join(deg.withColumnRenamed("src", "id"), "id", "left")
        .select("id", F.coalesce("deg", F.lit(0)).alias("deg"))
        .persist()
    )

    try:
        # init e1: pr[0] = 1 (mr-pr-cpp.cpp:128). Vertex 0's out-degree —
        # needed for the pre-loop dangling mass below — rides the
        # checkpoint job as an Observation, like the in-loop stats: no
        # separate driver action.
        if tele_ids is None:
            init_rank = (
                F.when(F.col("id") == 0, F.lit(1.0)).otherwise(F.lit(0.0))
            )
            init_metric = F.sum(
                F.when(F.col("id") == 0, F.col("deg"))
            ).alias("deg0")
        else:
            # personalized init: uniform over the seed set
            init_rank = (
                F.when(F.col("id").isin(tele_ids), F.lit(tele_w))
                .otherwise(F.lit(0.0))
            )
            init_metric = F.sum(
                F.when(F.col("deg") == 0, F.col("rank")).otherwise(F.lit(0.0))
            ).alias("dangling0")
        pr, init_row = checkpoint(
            vdeg.select("id", "deg", init_rank.alias("rank")), init_metric
        )

        # Pre-loop stats of the init vector: sum = 1 (iteration 0 runs
        # un-normalized anyway); dangling mass rides the checkpoint job.
        sum_pr = 1.0
        if tele_ids is None:
            dangling_pr = 1.0 if init_row["deg0"] == 0 else 0.0
        else:
            dangling_pr = float(init_row["dangling0"])

        one_Iv = (1.0 - alpha) / n
        diff = float("inf")
        diffs: list[float] = []
        iterations = 0

        while diff > convergence and iterations < max_iterations:
            # Iteration 0 uses the raw vector; later iterations normalize
            # the previous vector to sum 1 (mr-pr-cpp.cpp:139-147). The
            # dangling term uses the PRE-normalization mass, exactly as the
            # reference does (mr-pr-cpp.cpp:132-138,155).
            norm = 1.0 if iterations == 0 else sum_pr
            one_Av = alpha * dangling_pr / n
            _h = alpha * F.coalesce(F.col("c.h_raw"), F.lit(0.0)) / norm
            if tele_ids is None:
                _new_rank = _h + one_Av + one_Iv
            else:
                # dangling + teleport mass both flow to the seed set; the
                # association order mirrors the oracle's SQL exactly
                _tele = (
                    F.when(F.col("q.id").isin(tele_ids), F.lit(tele_w))
                    .otherwise(F.lit(0.0))
                )
                _new_rank = (
                    _h + (alpha * dangling_pr) * _tele + (1.0 - alpha) * _tele
                )

            # h[i] = sum_{j -> i} old[j]/outdeg[j]; normalization is a
            # scalar, so it is applied after the aggregate (h_raw / norm).
            # Qualified aliases throughout: contribs is derived from pr, so
            # the merge below is a self-join from the analyzer's view.
            if weight_col is None:
                _contrib = F.col("p.rank") / F.col("l.deg")
            else:
                # association mirrors the oracle: rank * w / deg
                _contrib = F.col("p.rank") * F.col("l.w") / F.col("l.deg")
            contribs = (
                pr.alias("p")
                .join(links.alias("l"), F.col("p.id") == F.col("l.src"))
                .groupBy(F.col("l.dst").alias("cid"))
                .agg(F.sum(_contrib).alias("h_raw"))
            )
            merged = (
                pr.alias("q")
                .join(contribs.alias("c"), F.col("q.id") == F.col("c.cid"), "left")
                .select(
                    F.col("q.id").alias("id"),
                    F.col("q.deg").alias("deg"),
                    (F.col("q.rank") / norm).alias("old_rank"),
                    _new_rank.alias("new_rank"),
                )
            )
            # Observation metrics piggyback on the checkpoint job, so each
            # iteration runs exactly ONE job: the eager localCheckpoint
            # materializes the new vector (truncating lineage so plan
            # analysis stays O(1) over thousands of iterations) while the
            # convergence scalars are collected in-flight — no second scan
            # of the vector. (A persist-based variant was tried and
            # rejected: the self-join lineage defeats cache reuse and each
            # iteration silently recomputes the whole chain.)
            merged, row = checkpoint(
                merged,
                F.sum(F.abs(F.col("new_rank") - F.col("old_rank"))).alias("diff"),
                F.sum("new_rank").alias("s"),
                F.sum(
                    F.when(F.col("deg") == 0, F.col("new_rank")).otherwise(0.0)
                ).alias("d"),
            )
            diff, sum_pr, dangling_pr = float(row["diff"]), float(row["s"]), float(row["d"])
            diffs.append(diff)
            pr = merged.select("id", "deg", F.col("new_rank").alias("rank"))
            iterations += 1
    finally:
        links.unpersist()
        vdeg.unpersist()
    return PageRankResult(
        ranks=pr.select("id", "rank"),
        iterations=iterations,
        diff=diff,
        num_vertices=n,
        diffs=diffs,
    )
