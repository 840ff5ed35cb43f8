"""Deterministic random walks over a directed edge DataFrame —
DeepWalk/node2vec-style corpus generation for embedding training.

Beyond the reference (PageRank-only), but squarely in its data model:
the walk sampler consumes the same ``(src, dst)`` edge list and is
the standard way a 100 TB graph becomes a *text-like training
corpus* (walk sequences feeding skip-gram). Randomness is portable
md5 coins (the repo-wide convention: R-MAT generation, weighted
sampling, Luby priorities), so every step replays bit-for-bit in any
engine — the walks are a pure function of (graph, seed).

Semantics:

- duplicate edges collapse first (``distinct``): each live vertex
  picks uniformly over its *distinct* successors.
- successors are indexed ``0..deg-1`` in ``dst`` order (total order
  within a source, so the index is deterministic).
- a walk starts at every vertex with >= 1 out-edge,
  ``walks_per_vertex`` times; ``walk_id = src * walks_per_vertex + w``.
- step ``s`` draws ``idx = md5_16("seed:walk_id:s") % deg(cur)`` and
  moves to that successor; a walk parks when it reaches a vertex with
  no out-edges; all walks stop after ``walk_length`` steps.
- output: ``(walk_id, path)`` with ``path`` the comma-joined vertex
  sequence including the start (csv string, like the reverse-
  adjacency sink, so oracles compare strings not arrays).

Scale design (100 TB stance):

- The indexed successor relation (the only O(m) data) is cached
  pre-partitioned on ``src``; each step shuffles only the O(#walks)
  frontier to meet it — edges never move after the one-time layout.
  The per-source ``row_number`` index is the single full-relation
  window, partitioned by ``src`` (no global sort; skewed out-degree
  hubs are one partition's rows, same profile as the groupBy
  aggregations everywhere else).
- The coin and the successor pick are pure expressions: the step is
  ONE equi-join on ``(cur, pick) = (src, idx)`` — never a
  "join all successors then filter" fan-out, so a 10^6-degree hub
  costs one probe, not 10^6 matched rows, per visiting walk.
- Parked walks ride along unchanged (tiny rows) and each step
  ``localCheckpoint``s the frontier, keeping lineage O(1) in the
  walk length (graph/pagerank.py's loop discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pagerank_mapreduce_spark.session import loop_regime

__all__ = [
    "random_walks",
    "random_walks_oracle_sql",
    "node2vec_walks",
    "node2vec_oracle_sql",
]


def _coin(walk_id, step: int, seed: int):
    """Portable 16-bit md5 uniform, the repo-wide convention:
    first 4 hex chars of md5('seed:walk_id:step')."""
    key = F.concat_ws(
        ":", F.lit(str(seed)), walk_id.cast("string"), F.lit(str(step))
    )
    return F.conv(F.substring(F.md5(key), 1, 4), 16, 10).cast("int")


def _walk_step(live: DataFrame, succ: DataFrame, step: int, seed: int) -> DataFrame:
    """One frontier advance: equi-join the live walks to their picked
    successor on ``(cur, pick) = (src, idx)`` — factored out so the
    plan audit can pin that this stays a two-key hash join (never a
    join-all-successors fan-out)."""
    pick = _coin(F.col("walk_id"), step, seed) % F.col("d_cur")
    return (
        live.withColumn("pick", pick)
        .join(
            succ,
            (F.col("cur") == F.col("src")) & (F.col("pick") == F.col("idx")),
        )
        .select(
            "walk_id",
            F.col("dst").alias("cur"),
            F.col("d_dst").alias("d_cur"),
            F.concat(
                F.col("path"), F.lit(","), F.col("dst").cast("string")
            ).alias("path"),
        )
    )


def random_walks(
    edges: DataFrame,
    walk_length: int = 8,
    walks_per_vertex: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Run the deterministic walk sampler; returns (walk_id, path)."""
    if walk_length < 1:
        raise ValueError("walk_length must be >= 1")
    if walks_per_vertex < 1:
        raise ValueError("walks_per_vertex must be >= 1")

    # the graph-suite loop regime, sized to the edge relation: per-step
    # plans are tiny and fixed-shape, AQE re-plan latency dominates
    # them at every scale below huge
    with loop_regime(edges.sparkSession, edges.count()):
        return _walks_loop(edges, walk_length, walks_per_vertex, seed)


def _walks_loop(
    edges: DataFrame, walk_length: int, walks_per_vertex: int, seed: int
) -> DataFrame:
    e = edges.select("src", "dst").distinct()
    w = Window.partitionBy("src").orderBy("dst")
    deg = e.groupBy("src").agg(F.count("*").alias("d"))
    # successor table with the destination's own out-degree attached,
    # so a step lands already knowing whether the walk parks there
    succ = (
        e.select(
            "src", "dst", (F.row_number().over(w) - 1).alias("idx")
        )
        .join(
            deg.select(F.col("src").alias("dst"), F.col("d").alias("d_dst")),
            "dst",
            "left",
        )
        .select(
            "src",
            "idx",
            "dst",
            F.coalesce("d_dst", F.lit(0)).alias("d_dst"),
        )
        .repartition("src")
        .persist()
    )

    wpv = walks_per_vertex
    state = (
        deg.select(
            F.col("src"),
            F.col("d"),
            F.explode(F.sequence(F.lit(0), F.lit(wpv - 1))).alias("wi"),
        )
        .select(
            (F.col("src") * wpv + F.col("wi")).alias("walk_id"),
            F.col("src").alias("cur"),
            F.col("d").alias("d_cur"),
            F.col("src").cast("string").alias("path"),
        )
        .localCheckpoint()
    )
    try:
        for s in range(walk_length):
            live = state.filter(F.col("d_cur") > 0)
            parked = state.filter(F.col("d_cur") == 0)
            stepped = _walk_step(live, succ, s, seed)
            state = stepped.unionByName(parked).localCheckpoint()
    finally:
        succ.unpersist()
    return state.select("walk_id", "path")


def random_walks_oracle_sql(
    edges_sql: str,
    walk_length: int = 8,
    walks_per_vertex: int = 1,
    seed: int = 42,
) -> str:
    """DuckDB oracle replaying :func:`random_walks` step for step —
    same distinct/index/coin arithmetic, parked walks carried forward
    through the recursion so the final generation holds every walk."""
    wpv = int(walks_per_vertex)
    return f"""
      WITH RECURSIVE
      ed AS (SELECT DISTINCT src, dst FROM ({edges_sql})),
      deg AS (SELECT src, count(*) AS d FROM ed GROUP BY src),
      succ AS (SELECT e.src,
                      row_number() OVER (PARTITION BY e.src
                                         ORDER BY e.dst) - 1 AS idx,
                      e.dst, coalesce(dd.d, 0) AS d_dst
               FROM ed e LEFT JOIN deg dd ON e.dst = dd.src),
      t(step, walk_id, cur, d_cur, path) AS (
        SELECT 0, g.src * {wpv} + u.wi, g.src, g.d,
               CAST(g.src AS VARCHAR)
        FROM deg g CROSS JOIN
             (SELECT unnest(generate_series(0, {wpv - 1})) AS wi) u
        UNION ALL
        (WITH cur AS (SELECT * FROM t WHERE step < {walk_length}),
         stepped AS (
           SELECT c.step + 1 AS step, c.walk_id, s.dst AS cur,
                  s.d_dst AS d_cur,
                  c.path || ',' || CAST(s.dst AS VARCHAR) AS path
           FROM cur c JOIN succ s
             ON c.cur = s.src
            AND s.idx = CAST(concat('0x',
                  substr(md5(concat('{seed}', ':',
                                    CAST(c.walk_id AS VARCHAR), ':',
                                    CAST(c.step AS VARCHAR))), 1, 4))
                  AS INTEGER) % c.d_cur
           WHERE c.d_cur > 0)
         SELECT * FROM stepped
         UNION ALL
         SELECT c.step + 1, c.walk_id, c.cur, c.d_cur, c.path
         FROM cur c WHERE c.d_cur = 0)
      )
      SELECT walk_id, path FROM t WHERE step = {walk_length}"""


def node2vec_walks(
    edges: DataFrame,
    walk_length: int = 8,
    walks_per_vertex: int = 1,
    seed: int = 42,
    p: float = 1.0,
    q: float = 1.0,
) -> DataFrame:
    """Second-order (node2vec) biased walks: at step ``s`` from
    ``cur`` with previous vertex ``prev``, each successor ``dst``
    weighs ``1/p`` if it returns (``dst == prev``), ``1`` if it stays
    local (edge ``prev -> dst`` exists), else ``1/q``; the md5 coin
    picks by cumulative weight. Step 0 (no prev) is uniform. Output
    (walk_id, path) like :func:`random_walks`.

    Scale note — this is the one walk variant where per-step fan-out
    is INHERENT: the bias needs every successor's weight, so a step
    costs sum(deg(cur)) rows per frontier (node2vec's own cost
    model), ordered-cumsum'd per walk (a per-walk window over deg
    rows, never a global sort). The locality test (prev -> dst edge
    existence) is ONE left join against the indexed successor table
    keyed (prev, dst). Unbiased :func:`random_walks` remains the
    one-probe-per-step fast path when p = q = 1 suffices.
    """
    if walk_length < 1:
        raise ValueError("walk_length must be >= 1")
    if walks_per_vertex < 1:
        raise ValueError("walks_per_vertex must be >= 1")
    if p <= 0 or q <= 0:
        raise ValueError("p and q must be positive")
    with loop_regime(edges.sparkSession, edges.count()):
        return _node2vec_loop(
            edges, walk_length, walks_per_vertex, seed, float(p), float(q)
        )


def _node2vec_loop(
    edges: DataFrame,
    walk_length: int,
    walks_per_vertex: int,
    seed: int,
    p: float,
    q: float,
) -> DataFrame:
    e = edges.select("src", "dst").distinct()
    deg = e.groupBy("src").agg(F.count("*").alias("d"))
    succ = (
        e.select("src", "dst")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("d").alias("d_dst")),
            "dst",
            "left",
        )
        .select("src", "dst", F.coalesce("d_dst", F.lit(0)).alias("d_dst"))
        .repartition("src")
        .persist()
    )
    # locality lookup: does edge (prev, dst) exist?
    loc = e.select(
        F.col("src").alias("_ls"), F.col("dst").alias("_ld")
    ).repartition("_ls").persist()

    wpv = walks_per_vertex
    state = (
        deg.select(
            "src",
            "d",
            F.explode(F.sequence(F.lit(0), F.lit(wpv - 1))).alias("wi"),
        )
        .select(
            (F.col("src") * wpv + F.col("wi")).alias("walk_id"),
            F.lit(None).cast("bigint").alias("prev"),
            F.col("src").alias("cur"),
            F.col("d").alias("d_cur"),
            F.col("src").cast("string").alias("path"),
        )
        .localCheckpoint()
    )
    try:
        for s in range(walk_length):
            live = state.filter(F.col("d_cur") > 0)
            parked = state.filter(F.col("d_cur") == 0)
            cand = (
                live.join(succ, F.col("cur") == F.col("src"))
                .join(
                    loc,
                    (F.col("prev") == F.col("_ls"))
                    & (F.col("dst") == F.col("_ld")),
                    "left",
                )
                .select(
                    "walk_id",
                    "prev",
                    "cur",
                    "path",
                    "dst",
                    "d_dst",
                    F.when(F.col("prev").isNull(), F.lit(1.0))
                    .when(F.col("dst") == F.col("prev"), F.lit(1.0 / p))
                    .when(F.col("_ls").isNotNull(), F.lit(1.0))
                    .otherwise(F.lit(1.0 / q))
                    .alias("w"),
                )
            )
            wo = Window.partitionBy("walk_id").orderBy("dst")
            wt = Window.partitionBy("walk_id")
            u = (
                _coin(F.col("walk_id"), s, seed).cast("double") / F.lit(65536.0)
            )
            picked = (
                cand.withColumn(
                    "cum",
                    F.sum("w").over(
                        wo.rowsBetween(Window.unboundedPreceding, 0)
                    ),
                )
                .withColumn("tot", F.sum("w").over(wt))
                .withColumn("t", u * F.col("tot"))
                .filter(
                    ((F.col("cum") - F.col("w")) <= F.col("t"))
                    & (F.col("t") < F.col("cum"))
                )
                .select(
                    "walk_id",
                    F.col("cur").alias("prev"),
                    F.col("dst").alias("cur"),
                    F.col("d_dst").alias("d_cur"),
                    F.concat(
                        F.col("path"), F.lit(","), F.col("dst").cast("string")
                    ).alias("path"),
                )
            )
            state = picked.unionByName(parked).localCheckpoint()
    finally:
        succ.unpersist()
        loc.unpersist()
    return state.select("walk_id", "path")


def node2vec_oracle_sql(
    edges_sql: str,
    walk_length: int = 8,
    walks_per_vertex: int = 1,
    seed: int = 42,
    p: float = 1.0,
    q: float = 1.0,
) -> str:
    """DuckDB replay of :func:`node2vec_walks`: same weights, same
    dst-ordered cumulative sums (sequential adds in the same order →
    identical doubles), same half-open pick interval."""
    wpv = int(walks_per_vertex)
    ip, iq = repr(1.0 / float(p)), repr(1.0 / float(q))
    return f"""
      WITH RECURSIVE
      ed AS (SELECT DISTINCT src, dst FROM ({edges_sql})),
      deg AS (SELECT src, count(*) AS d FROM ed GROUP BY src),
      succ AS (SELECT e.src, e.dst, coalesce(dd.d, 0) AS d_dst
               FROM ed e LEFT JOIN deg dd ON e.dst = dd.src),
      t(step, walk_id, prev, cur, d_cur, path) AS (
        SELECT 0, g.src * {wpv} + u.wi, CAST(NULL AS BIGINT), g.src,
               g.d, CAST(g.src AS VARCHAR)
        FROM deg g CROSS JOIN
             (SELECT unnest(generate_series(0, {wpv - 1})) AS wi) u
        UNION ALL
        (WITH cur AS (SELECT * FROM t WHERE step < {walk_length}),
         cand AS (
           SELECT c.step, c.walk_id, c.prev, c.cur, c.path,
                  s.dst, s.d_dst,
                  CASE WHEN c.prev IS NULL THEN CAST(1.0 AS DOUBLE)
                       WHEN s.dst = c.prev THEN CAST({ip} AS DOUBLE)
                       WHEN l._ls IS NOT NULL THEN CAST(1.0 AS DOUBLE)
                       ELSE CAST({iq} AS DOUBLE) END AS w
           FROM cur c JOIN succ s ON c.cur = s.src
           LEFT JOIN (SELECT src AS _ls, dst AS _ld FROM ed) l
             ON c.prev = l._ls AND s.dst = l._ld
           WHERE c.d_cur > 0),
         pk AS (
           SELECT *,
                  sum(w) OVER (PARTITION BY walk_id ORDER BY dst
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS cum,
                  sum(w) OVER (PARTITION BY walk_id) AS tot,
                  (CAST(concat('0x', substr(md5(concat('{seed}', ':',
                       CAST(walk_id AS VARCHAR), ':',
                       CAST(step AS VARCHAR))), 1, 4)) AS INTEGER)
                   / CAST(65536.0 AS DOUBLE)) * sum(w)
                     OVER (PARTITION BY walk_id) AS tv
           FROM cand)
         SELECT step + 1, walk_id, cur AS prev, dst AS cur,
                d_dst AS d_cur,
                path || ',' || CAST(dst AS VARCHAR) AS path
         FROM pk WHERE (cum - w) <= tv AND tv < cum
         UNION ALL
         SELECT c.step + 1, c.walk_id, c.prev, c.cur, c.d_cur, c.path
         FROM cur c WHERE c.d_cur = 0)
      )
      SELECT walk_id, path FROM t WHERE step = {walk_length}"""
