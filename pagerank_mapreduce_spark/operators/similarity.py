"""Similarity search over embedding columns (ARRAY<FLOAT>).

Two tiers, as a 100 TB design demands:

- ``cosine_topk`` — brute-force exact top-k against a query vector.
  One narrow scan, per-partition TakeOrdered heaps, no shuffle of the
  embedding column beyond k rows. The correctness baseline.
- ``lsh_topk`` — random-hyperplane LSH: bucket by sign bits, probe
  only the query's bucket (and optional neighboring buckets by
  Hamming distance). At scale the bucket column is a partition/
  cluster key so a probe touches a small fraction of files; here it
  is a filter that Catalyst pushes onto the scan of the bucketed
  materialization.

Hyperplanes are generated from a seeded NumPy RNG on the driver and
embedded as literals — deterministic across runs and engines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_mapreduce_spark.functions.vectors import (
    array_lit,
    cosine,
    dot,
    matrix_lit,
    matrix_sql,
    norm,
    sqdist,
    sqdist_sql,
)
from pagerank_mapreduce_spark.session import loop_regime


def _vec_sql(vec_col: str) -> str:
    """``vec_col`` as an ARRAY<DOUBLE> SQL fragment (the string twin
    of ``F.col(vec_col).cast("array<double>")``)."""
    return f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"


def cosine_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query``.

    Ties broken by id for determinism. Output: (id, cos DOUBLE)."""
    q = array_lit(query)
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 8).alias("cos"),
    )
    return scored.orderBy(F.col("cos").desc(), F.col(id_col)).limit(k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket_expr(vec_col: str, planes: np.ndarray):
    """Sign-bit bucket id for a vector column against fixed planes.

    The planes ship as ONE matrix literal and the sign test appears
    once (inside a transform lambda), not once per plane — same
    driver-side argument as ``array_lit``: per-plane F.lit trees
    made the analyzer the bottleneck, not the executors."""
    v = F.col(vec_col).cast("array<double>")
    bits = F.transform(
        matrix_lit(planes),
        lambda p: F.when(dot(v, p) >= 0, F.lit(1)).otherwise(F.lit(0)),
    )
    weights = array_lit([float(1 << i) for i in range(len(planes))])
    return F.aggregate(
        F.zip_with(bits, weights, lambda b, w: b * w),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ).cast("int")


def lsh_bucketize(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 8,
    seed: int = 7,
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the bucketed table (the index-build step). At scale
    this is written out partitioned by ``bucket`` so probes prune."""
    planes = _hyperplanes(dim, n_planes, seed)
    return embeddings.withColumn("bucket", lsh_bucket_expr(vec_col, planes))


def lsh_topk(
    bucketed: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 7,
    probe_hamming: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: score only vectors whose bucket is within
    ``probe_hamming`` bits of the query's bucket."""
    planes = _hyperplanes(len(query), n_planes, seed)
    qbits = sum(
        (1 << i) for i, p in enumerate(planes) if float(np.dot(p, query)) >= 0
    )
    candidates = bucketed.filter(
        F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qbits))) <= probe_hamming
    )
    q = array_lit(query)
    scored = candidates.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 8).alias("cos"),
    )
    return scored.orderBy(F.col("cos").desc(), F.col(id_col)).limit(k)


def ivf_build(
    embeddings: DataFrame,
    n_lists: int = 16,
    seed: int = 7,
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """IVF index build: coarse-quantize with KMeans (Spark ML), assign
    every vector to its nearest centroid's inverted list.

    Returns (assigned, centroids): ``assigned`` is the input plus a
    ``list_id`` column — at scale it is written out partitioned by
    ``list_id`` so a probe scans only nprobe/n_lists of the data;
    ``centroids`` is the (tiny) driver-side codebook a query is ranked
    against. The scale path the LSH variant trades recall for; IVF
    keeps recall tunable via nprobe.

    SIZING: n_lists must scale with the data — n_lists ∝ N (keep
    N/n_lists, the expected list size, roughly constant; FAISS's
    guidance is n_lists ≈ √N to 16√N for mid-range N). A codebook
    sized for N cannot cover 10N: the round-11 scorecard measured
    this path collapsing from r@10 = 0.87 to 0.21 on the 10× fixture
    with n_lists held fixed. Recall must be MEASURED per corpus
    (:func:`ivf_recall_at_k`); the suite gates it at sf0.001."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = embeddings.withColumn(
        "_v", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    model = KMeans(
        k=n_lists, seed=seed, featuresCol="_v", predictionCol="list_id"
    ).fit(feat)
    assigned = model.transform(feat).drop("_v")
    centroids = [c.tolist() for c in model.clusterCenters()]
    return assigned, centroids


def nearest_idx_sql(v_sql: str, centroid_rows) -> str:
    """:func:`nearest_idx` as ONE SQL fragment over a vector-SQL
    fragment — the string form exists because Column-tree construction
    was the measured bottleneck of the trainer loops: every Python
    lambda in the Column form costs dozens of py4j round trips and a
    per-subspace codebook loop spent ~0.9 s of pure driver-side
    expression building PER Lloyd iteration vs ~0.1 s for one parsed
    string (the analyzed plans are identical)."""
    return (
        "CAST(array_min(transform(" + matrix_sql(centroid_rows) + ", "
        f"(c, i) -> struct({sqdist_sql(v_sql, 'c')} AS d, i AS i)"
        ")).i AS INT)"
    )


def _pq_codes_expr(v_sql: str, codebook, sd: int) -> "F.Column":
    """The PQ code array ``[argmin_s0, argmin_s1, ...]`` over a
    vector-SQL fragment as ONE parsed expression (n_sub nearest-
    centroid folds over subvector slices) — see :func:`nearest_idx_sql`
    for why the string form."""
    parts = [
        nearest_idx_sql(f"slice({v_sql}, {s * sd + 1}, {sd})", cb)
        for s, cb in enumerate(codebook)
    ]
    return F.expr("array(" + ",".join(parts) + ")")


def nearest_idx(v, centroid_rows) -> "F.Column":
    """Index of the squared-L2-nearest centroid (ties → lowest index)
    as ONE fold over the codebook literal: ``array_min`` over
    ``(distance, index)`` structs — lexicographic struct comparison is
    exactly first-minimum argmin. Value-identical to the previous
    ``array_position(dists, array_min(dists))`` form but evaluates the
    per-centroid distance fold ONCE instead of twice (the ``dists``
    subexpression appeared in both arguments and higher-order lambdas
    are interpreted, so the duplicate fold was measured ~2× the
    assignment cost on every expr-mode path).

    ``v`` may be a Column or a SQL fragment (str) — the str form
    parses the whole argmin as one expression, see
    :func:`nearest_idx_sql`."""
    if isinstance(v, str):
        return F.expr(nearest_idx_sql(v, centroid_rows))
    pairs = F.transform(
        matrix_lit(centroid_rows),
        lambda c, i: F.struct(sqdist(v, c).alias("d"), i.alias("i")),
    )
    return F.array_min(pairs)["i"].cast("int")


def assign_nearest_centroid(
    embeddings: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "list_id",
    assignment: str = "expr",
) -> DataFrame:
    """Append ``out_col`` = index of the nearest centroid (squared-L2
    argmin, ties -> lowest index). Two modes, identical semantics:

    - ``assignment="expr"`` (default): pure Catalyst expression — a
      per-centroid fold of (x-y)² with first-minimum ``array_position``
      argmin. Bit-for-bit replayable in the DuckDB oracles, which is
      why the catalog entries pin THIS mode. Cost is O(N·k·dim)
      *interpreted* higher-order-function evaluations: fine while the
      codebook is small, but SemDeDup's N/k-constant regime grows k
      with N, making assignment the measured O(N²) scale killer
      (SCALE.md round-8 decade table: 200k vectors × 1600 centroids
      ran 130.5 s in this mode vs 4.6 s vectorized).
    - ``assignment="vectorized"``: Arrow-batched ``mapInPandas`` — per
      batch one BLAS matmul, ``d² = |x|² - 2·X·Cᵀ + |c|²``, then
      ``np.argmin`` (also first-minimum). The production mode: work
      per row is a dim×k dot block at memory speed instead of k
      interpreted folds. Not bit-replayable in SQL (BLAS summation
      order differs from the sequential fold), but an assignment can
      only flip where two centroid distances agree to within rounding
      — measure-zero for real embeddings, and the expanded form is
      exactly what FAISS computes. Equality with "expr" is asserted
      on the fixtures in tests.

    The centroid matrix broadcasts inside the closure (kilobytes——
    same constant-size-codebook argument as ``ivf_build``); the input
    never shuffles in either mode.
    """
    if assignment == "expr":
        return embeddings.withColumn(
            out_col, nearest_idx(_vec_sql(vec_col), centroids)
        )
    if assignment != "vectorized":
        raise ValueError(
            f"assignment must be expr|vectorized, got {assignment!r}"
        )
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    # fresh StructType — StructType.add MUTATES the receiver, and
    # df.schema hands back the DataFrame's cached schema object;
    # mutating it makes df.columns grow a phantom column that the
    # JVM-side plan cannot resolve
    schema = StructType(
        list(embeddings.schema.fields)
        + [StructField(out_col, IntegerType(), False)]
    )

    # cap the d² temporary at ~32 MB regardless of k: an Arrow batch
    # is up to maxRecordsPerBatch (default 10k) rows, and a full
    # rows×k distance block at k=10⁵ would be gigabytes of allocator
    # churn per batch — chunk the rows, not the centroids, so argmin
    # stays a single pass
    chunk = max(1, 4_000_000 // max(len(c2), 1))

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                pdf[out_col] = pd.array([], dtype="int32")
                yield pdf
                continue
            X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            out = np.empty(len(X), dtype="int32")
            for s in range(0, len(X), chunk):
                B = X[s : s + chunk]
                d2 = (B * B).sum(axis=1)[:, None] - 2.0 * (B @ C.T) + c2[None, :]
                out[s : s + chunk] = np.argmin(d2, axis=1)
            pdf = pdf.copy()
            pdf[out_col] = out
            yield pdf

    return embeddings.mapInPandas(_assign, schema)


def assign_nearest_centroid_two_level(
    embeddings: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "list_id",
    coarse: int | None = None,
    coarse_probe: int = 2,
) -> DataFrame:
    """APPROXIMATE nearest-centroid assignment for huge codebooks —
    the k ~ 10⁵ path SCALE.md's decade analysis points to: even the
    BLAS-vectorized exact assignment is O(N·k) flops, so past ~10⁴
    centroids the codebook itself needs an index.

    Two-level scheme (FAISS's IVF-on-IVF / "coarse quantizer"):

    - the first ``coarse`` centroids (default ``⌈√k⌉``) act as
      super-centroids — the same deterministic sampling rule as
      :func:`ivf_sampled_build`, so the structure is reproducible;
    - every centroid is assigned (exactly, driver-side — k×coarse is
      tiny) to its nearest super-centroid;
    - per row: rank super-centroids, take the ``coarse_probe``
      nearest, argmin over only THEIR member centroids.

    Work per row drops from k to ``coarse + probe·k/coarse`` ≈
    ``(1+probe)·√k`` — ~300× at k=10⁵, probe=2. The price is recall:
    the true nearest centroid may live in an unprobed super-cluster.
    ``coarse_probe == coarse`` probes everything and equals the exact
    assignment (asserted in tests); raise ``coarse_probe`` to trade
    flops back for recall. Ties break first-seen (lowest centroid
    index within a super-cluster, lowest super-cluster across) —
    matching the exact modes except for a bit-exact tie spanning two
    super-clusters.

    Measured (SCALE.md round-8, k=1600 / coarse=40 / probe=2 at the
    second decade): 4.2× faster than the exact vectorized mode, with
    assignment recall **0.84 for queries drawn from the codebook's
    distribution and 0.002 for queries far from the whole codebook**
    (the 10× fixture's translated copies) — when a query is distant
    from every centroid, the coarse distances are all nearly equal
    and the ranking is noise. The standard coarse-quantizer caveat:
    sample the codebook FROM the data being assigned (as
    :func:`ivf_sampled_build` does); two-level on a codebook that
    doesn't cover the query distribution degrades to random probing.

    Same execution shape as the vectorized mode: Arrow-batched
    ``mapInPandas``, codebook broadcast in the closure, input never
    shuffled."""
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray(centroids, dtype=np.float64)
    k = len(C)
    if coarse is None:
        coarse = max(1, int(np.ceil(np.sqrt(k))))
    coarse = min(coarse, k)
    coarse_probe = max(1, min(coarse_probe, coarse))
    S_ = C[:coarse]
    s2 = (S_ * S_).sum(axis=1)
    # exact driver-side super-assignment of the centroids (k×coarse)
    dc = (C * C).sum(axis=1)[:, None] - 2.0 * (C @ S_.T) + s2[None, :]
    sup_of = np.argmin(dc, axis=1)
    # member centroid indices per super-cluster, ascending (tie rule)
    members = [np.where(sup_of == s)[0] for s in range(coarse)]
    c2 = (C * C).sum(axis=1)
    schema = StructType(
        list(embeddings.schema.fields)
        + [StructField(out_col, IntegerType(), False)]
    )

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                pdf[out_col] = pd.array([], dtype="int32")
                yield pdf
                continue
            X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            n = len(X)
            ds = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ S_.T) + s2[None, :]
            if coarse_probe < coarse:
                # argpartition is unordered within the cut — sort the
                # probed ids so grouping below is deterministic
                probe = np.argpartition(ds, coarse_probe - 1, axis=1)[
                    :, :coarse_probe
                ]
            else:
                probe = np.tile(np.arange(coarse), (n, 1))
            out = np.full(n, -1, dtype="int32")
            best = np.full(n, np.inf)
            for s in range(coarse):
                rows = np.nonzero((probe == s).any(axis=1))[0]
                cand = members[s]
                if len(rows) == 0 or len(cand) == 0:
                    continue
                Cs = C[cand]
                d = (
                    (X[rows] * X[rows]).sum(axis=1)[:, None]
                    - 2.0 * (X[rows] @ Cs.T)
                    + c2[cand][None, :]
                )
                j = np.argmin(d, axis=1)
                dmin = d[np.arange(len(rows)), j]
                cidx = cand[j]
                # strict < keeps the first-seen winner on exact ties:
                # lowest centroid index within a super-cluster
                # (members ascending, argmin first-minimum), lowest
                # super-cluster id across (ascending iteration) — a
                # bit-exact global tie spanning two super-clusters
                # could differ from the exact mode's global lowest
                # index, the measure-zero caveat shared by every
                # mode switch in this module
                upd = dmin < best[rows]
                out[rows[upd]] = cidx[upd]
                best[rows] = np.minimum(best[rows], dmin)
            pdf = pdf.copy()
            pdf[out_col] = out
            yield pdf

    return embeddings.mapInPandas(_assign, schema)


def spread_sample(
    embeddings: DataFrame,
    n: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list:
    """Pick ``n`` init vectors SPREAD evenly across the id domain —
    the first-class promotion of the round-12 recall-scorecard
    finding: smallest-id ("head") init sampling collapses learned
    codebooks when ids correlate with geometry (every init sample
    lands in one region; Lloyd cannot escape it — measured flat-PQ
    r@10 0.031 head vs 0.131 spread on the 10× translated-copies
    fixture). Spread init costs the same constant-size collect and
    stays equally SQL-replayable.

    Definition (both engines): exact RANK spread — partition the id
    order into ``n`` equal rank-groups ``g = rank * n DIV N`` and
    take the first row of each group (rank ``ceil(i*N/n)``). Rank
    spread, not id-DOMAIN spread, because real corpora stride ids:
    the 10× scale fixture offsets each copy's ids by 10M, so domain
    buckets between copies are empty while rank-groups never are —
    any input with ``N >= n`` rows yields exactly ``n`` picks.

    Scale shape (no global sort, no full-table window): pass 1 is a
    4096-fine-bucket histogram over the id domain (one groupBy with
    map-side combine, constant-size collect) with the (lo, hi) range
    probe fused in as a broadcast scalar subquery — one action, not
    two (round 14); the driver locates each
    target rank's (bucket, rank-within-bucket) from the cumulative
    counts; pass 2 ranks ONLY the ≤ n target buckets (pushed
    ``isin`` filter, window partitioned per bucket). Caveat: a
    pathologically concentrated id distribution (≫ N/4096 of the
    rows inside one fine bucket) makes pass 2's window partition
    large — it still completes (sort spills), it just loses
    parallelism. Both passes scan only (id, vec). Returns the rows
    sorted by id (codebook ordinal = id order, same contract as the
    head init).

    DETERMINISM REQUIREMENT: the two passes recompute ``embeddings``
    independently, so the input must be deterministic — a
    nondeterministic source (``sample`` without a seed, an unordered
    ``limit`` over a shuffling plan) can shift rows between the
    histogram and the ranking pass and miss target ranks. Feed a
    parquet-backed or ``localCheckpoint``-ed relation; a missed
    target raises ValueError below instead of silently returning a
    short codebook."""
    from pyspark.sql import Window

    with loop_regime(embeddings.sparkSession):
        return _spread_sample_jobs(embeddings, n, vec_col, id_col, Window)


def _spread_sample_jobs(
    embeddings: DataFrame, n: int, vec_col: str, id_col: str, Window
) -> list:
    """:func:`spread_sample`'s two bounded jobs (histogram with the
    fused range probe, then the targeted-bucket ranking), run under
    :func:`~pagerank_mapreduce_spark.session.loop_regime`. Like every
    codebook trainer's action they are tiny constant-shape aggregates
    with codebook-sized output, so AQE's re-planning only adds
    latency (measured ~1.2 s per collect on the sf0.1 fixture); the
    DataFrames a trainer returns are lazy and run after the regime
    exits, with AQE."""
    n_fine = 4096
    # the (lo, hi, count) range probe rides the histogram job as a
    # broadcast scalar subquery (round 14, pass fusion): the fine
    # bucket is computed against the subquery's lo/span columns
    # instead of driver literals, so the two bounded passes share ONE
    # action (same data passes, one fewer job + collect round trip
    # per trainer using spread init). total/lo/hi are recovered from
    # the histogram rows (sum of counts; the range constants repeat
    # on every row).
    rng = embeddings.agg(
        F.min(id_col).alias("_lo"),
        F.max(id_col).alias("_hi"),
    )
    fb_of = (
        f"CAST((CAST({{id}} AS BIGINT) - _lo) * {n_fine}"
        f" DIV (CAST(_hi AS BIGINT) - _lo + 1) AS INT)"
    )
    hist = (
        embeddings.select(id_col)
        .crossJoin(F.broadcast(rng))
        .select(
            F.expr(fb_of.format(id=id_col)).alias("_fb"), "_lo", "_hi"
        )
        .groupBy("_fb", "_lo", "_hi")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy("_fb")
        .collect()
    )
    total = sum(int(r["_c"]) for r in hist)
    if total == 0:
        raise ValueError("spread_sample: empty input")
    if total < n:
        raise ValueError(
            f"spread_sample: only {total} rows < n={n} samples requested"
        )
    lo, hi = int(hist[0]["_lo"]), int(hist[0]["_hi"])
    span = hi - lo + 1
    fb = F.expr(
        f"CAST((CAST({id_col} AS BIGINT) - {lo}) * {n_fine}"
        f" DIV {span} AS INT)"
    )
    # locate each target rank ceil(i*N/n) = first rank of group i
    targets = [(i * total + n - 1) // n for i in range(n)]
    want: list[tuple[int, int]] = []  # (fine bucket, rank within it)
    cum = 0
    ti = 0
    for r in hist:
        c = int(r["_c"])
        while ti < n and targets[ti] < cum + c:
            want.append((int(r["_fb"]), targets[ti] - cum))
            ti += 1
        cum += c
    buckets = sorted({b for b, _ in want})
    wanted = set(want)
    w = Window.partitionBy("_fb").orderBy(id_col)
    ranked = (
        embeddings.select(F.col(id_col), F.col(vec_col))
        .withColumn("_fb", fb)
        .filter(F.col("_fb").isin(buckets))
        .withColumn("_r", F.row_number().over(w) - 1)
    )
    # ONE flat membership test on a composite (bucket, rank) key — the
    # previous per-target OR-chain nested n Column terms and overflowed
    # the expression converter's stack at production codebook sizes
    # (n=1600 at the s100 fixture); ranks are bounded by the bucket's
    # row count < 2^33, so the packing is collision-free
    key = F.col("_fb").cast("bigint") * F.lit(1 << 33) + F.col("_r")
    rows = (
        ranked.filter(key.isin([(b << 33) + r for b, r in wanted]))
        .drop("_fb", "_r")
        .orderBy(id_col)
        .collect()
    )
    if len(rows) != n:
        # not an assert: survives python -O, and the common cause is
        # user error (a nondeterministic input shifting rows between
        # the two passes — see the determinism requirement above)
        raise ValueError(
            f"spread_sample: targeted {n} ranks but matched {len(rows)} "
            "rows — the input changed between the histogram and "
            "ranking passes (nondeterministic source?); cache or "
            "localCheckpoint the input"
        )
    return rows


def _init_sample(
    embeddings: DataFrame,
    n: int,
    vec_col: str,
    id_col: str,
    init: str,
    who: str,
) -> list:
    """Shared init-sampler dispatch for the sampled/Lloyd codebook
    builds: ``init="head"`` = the n smallest-id vectors (the original
    FAISS-style sample), ``init="spread"`` = :func:`spread_sample`.
    Both return rows sorted by id; codebook ordinal = position."""
    if init == "spread":
        return spread_sample(embeddings, n, vec_col, id_col)
    if init != "head":
        raise ValueError(f"{who}: init must be 'head' or 'spread', got {init!r}")
    rows = embeddings.select(id_col, vec_col).orderBy(id_col).limit(n).collect()
    if len(rows) < n:
        raise ValueError(f"{who}: {len(rows)} vectors < {n} requested")
    return rows


def ivf_sampled_build(
    embeddings: DataFrame,
    n_lists: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assignment: str = "expr",
) -> tuple[DataFrame, list[list[float]]]:
    """IVF build with a *sampled* codebook: the centroids are the
    vectors with the ``n_lists`` smallest ids (FAISS-style sampling
    init, no Lloyd refinement). Worse balance than KMeans, but fully
    deterministic AND replayable in plain SQL — the DuckDB oracle
    re-derives the same codebook, assignment, and probe, so the
    approximate result is checked exactly (queries.py
    ``_ivf_probe_oracle``). ``ivf_build`` (KMeans) stays the quality
    path; this is the auditable path sharing the same probe.

    Assignment goes through :func:`assign_nearest_centroid` — the
    default ``assignment="expr"`` mode is the oracle-replayable pure
    expression (ties → lowest list id, matching the oracle's ORDER BY
    dist, cid); ``assignment="vectorized"`` is the Arrow/BLAS
    production mode for large codebooks. The tiny ``collect`` fetches
    only the ``n_lists`` codebook rows — codebook builds are
    inherently driver-side (KMeans does the same for its cluster
    centers).

    SIZING: n_lists ∝ N (see :func:`ivf_build` — constant expected
    list size N/n_lists; √N-to-16√N for mid-range N). Gate recall
    with :func:`ivf_recall_at_k` whenever N changes decade."""
    rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_lists)
        .collect()
    )
    if len(rows) < n_lists:
        raise ValueError(
            f"ivf_sampled_build: {len(rows)} vectors < n_lists={n_lists}"
        )
    centroids = [[float(x) for x in r[vec_col]] for r in rows]
    assigned = assign_nearest_centroid(
        embeddings, centroids, vec_col, "list_id", assignment
    )
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "l2",
) -> DataFrame:
    """IVF probe: rank the codebook against the query on the driver
    (n_lists is tiny), then score only vectors in the ``nprobe``
    nearest inverted lists. With nprobe == n_lists this is exactly the
    brute-force result (the recall invariant the tests assert).

    ``metric="cosine"``: rank the lists against the round-9
    NORMALIZED query instead — with a spherical codebook
    (:func:`lloyd_build` ``metric="cosine"``, unit centroids) the L2
    ranking of a unit query IS the cosine ranking (``|q−c|² =
    2−2q·c``), so probe order matches the cosine geometry the
    candidates are scored in. Candidate scoring is unchanged (it was
    always exact cosine)."""
    if metric not in ("l2", "cosine"):
        raise ValueError(
            f"ivf_topk: metric must be 'l2' or 'cosine', got {metric!r}"
        )
    q = np.asarray(
        _unit_py(list(query)) if metric == "cosine" else query, dtype=float
    )
    order = sorted(
        range(len(centroids)),
        key=lambda i: float(np.linalg.norm(np.asarray(centroids[i]) - q)),
    )
    probe = order[:nprobe]
    qcol = array_lit(query)
    scored = assigned.filter(F.col("list_id").isin(probe)).select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), qcol), 8).alias("cos"),
    )
    return scored.orderBy(F.col("cos").desc(), F.col(id_col)).limit(k)


def ivf_recall_at_k(
    embeddings: DataFrame,
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vecs: dict,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact: dict | None = None,
    metric: str = "l2",
) -> float:
    """Mean recall@k of the IVF probe against the exact brute-force
    top-k over the given ``query_vecs`` ({query_id: vector}) — the
    measured number that decides whether a codebook is USABLE, which
    no bench wall or oracle hash can see (the round-11 scorecard
    found learned KMeans collapsing to r@10 = 0.21 at 10× while the
    deterministic codebooks held 0.75+ — a silent quality regression
    class this function turns into a failing test).

    Ties inside the exact top-k are broken (cos desc, id asc) exactly
    as the probe breaks them, so recall 1.0 is reachable. The driver
    loops over QUERIES (tens), not data — each iteration is two
    bounded top-k jobs; at production scale the probe side batches,
    but a recall GATE wants few, well-spread probes.

    ``exact`` ({query_id: set of true top-k ids}, optional) skips the
    brute-force side — pass it when scoring several builds/nprobe
    settings against the same queries (tools/ann_recall.py)."""
    return topk_recall_at_k(
        embeddings,
        lambda qv, kk: ivf_topk(
            assigned, centroids, qv, k=kk, nprobe=nprobe,
            vec_col=vec_col, id_col=id_col, metric=metric,
        ),
        query_vecs,
        k=k,
        vec_col=vec_col,
        id_col=id_col,
        exact=exact,
    )


def topk_recall_at_k(
    embeddings: DataFrame,
    probe,
    query_vecs: dict,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact: dict | None = None,
) -> float:
    """Generic recall@k vs exact brute force for ANY approximate
    top-k path: ``probe(query_vector, k) -> DataFrame`` carrying
    ``id_col`` (pq_topk / ivfpq_topk / int8_topk / lsh_topk /
    ivf_topk partials all fit). Same contract and caveats as
    :func:`ivf_recall_at_k`, which delegates here."""
    hits = total = 0
    for qid in sorted(query_vecs):
        qv = [float(x) for x in query_vecs[qid]]
        if exact is not None:
            true_topk = set(exact[qid])
        else:
            true_topk = {
                r[id_col] for r in cosine_topk(
                    embeddings, qv, k=k, vec_col=vec_col, id_col=id_col
                ).collect()
            }
        got = {r[id_col] for r in probe(qv, k).collect()}
        hits += len(got & true_topk)
        total += len(true_topk)
    return hits / total if total else float("nan")


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 12,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    max_bucket_size: int | None = 512,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucketing: only
    same-bucket pairs are scored (plus nothing else — recall traded
    for the absence of a cross join). Output (a, b, cos).

    Pair generation goes through the same capped members/explode
    shape as MinHash/SimHash (``hot_bucket_guard``): a degenerate
    corpus (many identical embeddings → one hot bucket) would turn a
    raw bucket self-join quadratic; with the cap, oversize buckets
    are dropped whole (with an ``observe`` drop metric) before any
    pair exists. Vectors are then equi-joined back by id for scoring,
    so only surviving candidates ever pay the cosine.

    Pass ``dim`` (the embedding width) to keep the operator fully
    lazy; when omitted, one ``first()`` driver action sniffs it."""
    from pagerank_mapreduce_spark.operators.dedup import (
        explode_member_pairs,
        hot_bucket_guard,
    )

    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    b = lsh_bucketize(embeddings, dim, n_planes, seed, vec_col)
    members = (
        b.groupBy("bucket")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    members = hot_bucket_guard(members, max_bucket_size, "ids")
    # single bucketization → each id is in exactly one bucket, so
    # pairs are already distinct (unlike the multi-band LSH case)
    pairs = explode_member_pairs(members, "ids")
    vecs = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    return (
        pairs.join(
            vecs.select(
                F.col(id_col).alias("a"), F.col("_v").alias("_va")
            ),
            "a",
        )
        .join(
            vecs.select(
                F.col(id_col).alias("b"), F.col("_v").alias("_vb")
            ),
            "b",
        )
        .select(
            "a",
            "b",
            F.round(cosine(F.col("_va"), F.col("_vb")), 8).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def semdedup(
    embeddings: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_size: int | None = 4096,
    codebook: str = "sampled",
    assignment: str = "expr",
    scoring: str = "expr",
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster
    the embedding space, then drop near-duplicates *within* each
    cluster — cross-cluster pairs are never scored, which is the
    entire scale story (k clusters turn an O(N²) pair space into
    O(N²/k) with k chosen so clusters fit an executor).

    Returns the DROP decisions: ``(vec_id, kept_with, cos)`` — one
    row per dropped vector, where ``kept_with`` is the smallest
    same-cluster partner that witnessed a cosine ≥ ``threshold`` and
    ``cos`` the largest such cosine. Survivors = corpus ∖ result.
    The drop rule is deterministic and pairwise ("drop the greater
    id of any over-threshold pair"), matching the paper's
    keep-one-per-ε-group intent without an iterative chain.

    Two clustering modes (``codebook=``):

    - ``"sampled"`` (default): :func:`ivf_sampled_build`'s
      deterministic sampled codebook — the whole pipeline (codebook,
      assignment, pair scoring, drop rule) replays in plain SQL and
      the catalog entry is hash-checked exactly (an honest oracle
      for an approximate operator, like ``sim_ivf_topk``).
    - ``"kmeans"``: :func:`ivf_build`'s Lloyd-refined codebook — the
      quality path at real scale (better-balanced clusters → better
      recall at the same ``n_clusters``); rows-only verifiable.

    Scale ``n_clusters`` with the corpus (the paper uses N/k ≈ 10⁴
    per cluster); ``max_cluster_size`` is the same capped-bucket
    guard as every other pair generator (``hot_bucket_guard`` —
    oversize clusters are dropped whole with an observe() metric
    rather than exploding quadratically). With k ∝ N the
    nearest-centroid assignment is O(N·k) = O(N²) total work, so at
    scale pass ``assignment="vectorized"`` (BLAS-batched
    ``mapInPandas``, see :func:`assign_nearest_centroid`) — the
    round-8 second-decade measurement (SCALE.md) has the expression
    mode at 130.5 s vs 4.6 s vectorized on 200k vectors × 1600
    centroids. ``scoring="matrix"`` replaces the per-pair interpreted
    cosine fold with one BLAS gram matrix per cluster
    (:func:`_semdedup_matrix_score`) — measured SLOWER at dim=64,
    kept for the high-dim regime (rationale there). Both default to
    "expr" because that mode replays bit-for-bit in the catalog's
    DuckDB oracle.

    No reference counterpart — training-data-pipeline extension.
    """
    from pagerank_mapreduce_spark.operators.dedup import (
        explode_member_pairs,
        hot_bucket_guard,
    )

    if codebook == "sampled":
        assigned, _ = ivf_sampled_build(
            embeddings,
            n_lists=n_clusters,
            vec_col=vec_col,
            id_col=id_col,
            assignment=assignment,
        )
    elif codebook == "kmeans":
        assigned, _ = ivf_build(
            embeddings, n_lists=n_clusters, vec_col=vec_col
        )
    else:
        raise ValueError(
            f"codebook must be sampled|kmeans, got {codebook!r}"
        )
    if scoring == "matrix":
        return _semdedup_matrix_score(
            assigned, threshold, vec_col, id_col, max_cluster_size
        )
    if scoring != "expr":
        raise ValueError(f"scoring must be expr|matrix, got {scoring!r}")
    members = (
        assigned.groupBy("list_id")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    members = hot_bucket_guard(members, max_cluster_size, "ids")
    # one cluster per vector → in-cluster pairs are already distinct
    pairs = explode_member_pairs(members, "ids")
    # norms hoisted to the per-VECTOR projection: a vector in a
    # 10⁴-member cluster is scored against 10⁴ partners, so paying
    # norm() per pair is ~3× the fold work of dot() alone. The
    # arithmetic below (dot / (na · nb)) is operation-for-operation
    # what cosine() computes, just with the norm factors evaluated
    # earlier — bitwise-identical results, so the rounded oracle
    # comparison is unaffected.
    v = F.col(vec_col).cast("array<double>")
    vecs = embeddings.select(
        F.col(id_col), v.alias("_v"), norm(v).alias("_n")
    )
    joined = pairs.join(
        vecs.select(
            F.col(id_col).alias("a"),
            F.col("_v").alias("_va"),
            F.col("_n").alias("_na"),
        ),
        "a",
    ).join(
        vecs.select(
            F.col(id_col).alias("b"),
            F.col("_v").alias("_vb"),
            F.col("_n").alias("_nb"),
        ),
        "b",
    )
    scored = joined.select(
        "a",
        "b",
        F.round(
            dot(F.col("_va"), F.col("_vb"))
            / (F.col("_na") * F.col("_nb")),
            8,
        ).alias("cos"),
    ).filter(F.col("cos") >= threshold)
    return scored.groupBy(F.col("b").alias(id_col)).agg(
        F.min("a").alias("kept_with"), F.max("cos").alias("cos")
    )


def _semdedup_matrix_score(
    assigned: DataFrame,
    threshold: float,
    vec_col: str,
    id_col: str,
    max_cluster_size: int | None,
) -> DataFrame:
    """The ``scoring="matrix"`` path of :func:`semdedup`: one
    ``applyInPandas`` over the cluster groups, one BLAS gram matrix
    (``X·Xᵀ / n·nᵀ``) per cluster, drop decisions emitted directly.

    All three scoring shapes were measured (SCALE.md round-8, second
    decade: ~12M in-cluster pairs of 64-dim vectors):

    - the default expression path interprets the dot-product fold per
      PAIR, JVM-side — 4.6 s end-to-end. **It wins at this width.**
    - a per-pair Arrow ``pandas_udf`` ships BOTH vectors of every
      pair through the Python boundary (~12 GB) — measured slower
      than the fold it replaced; deleted.
    - this path: each vector crosses the boundary ONCE (inside the
      groupBy shuffle it needed anyway), m² pair products as one
      ``m×dim`` matmul — 7.9 s: per-group pandas overhead exceeds the
      fold cost at dim=64. Kept because the trade reverses with
      width — the matmul amortizes ~linearly in dim while the
      interpreted fold pays per element — making it the mode to
      reach for at embedding widths in the hundreds-plus.

    The hot-cluster cap applies INSIDE the group kernel (oversize
    clusters emit nothing — same drop-whole semantics as
    ``hot_bucket_guard``, which cannot observe() across
    applyInPandas). ``np.round`` is half-even where the expression
    path's ``F.round`` is half-up: a divergence needs a cosine
    landing exactly on the 9th-decimal midpoint — asserted absent on
    the fixtures, same FP stance as ``assign_nearest_centroid``."""
    import pandas as pd

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2 or (max_cluster_size is not None and m > max_cluster_size):
            return pd.DataFrame(
                {id_col: pd.array([], dtype="int64"),
                 "kept_with": pd.array([], dtype="int64"),
                 "cos": pd.array([], dtype="float64")}
            )
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        X = np.asarray(list(pdf[vec_col]), dtype=np.float64)[order]
        n = np.linalg.norm(X, axis=1)
        cos = np.round((X @ X.T) / np.outer(n, n), 8)
        iu = np.triu_indices(m, k=1)
        hit = cos[iu] >= threshold
        rows_i, cols_j = iu[0][hit], iu[1][hit]
        if len(cols_j) == 0:
            return pd.DataFrame(
                {id_col: pd.array([], dtype="int64"),
                 "kept_with": pd.array([], dtype="int64"),
                 "cos": pd.array([], dtype="float64")}
            )
        out = pd.DataFrame(
            {"j": cols_j, "i": rows_i, "c": cos[rows_i, cols_j]}
        )
        agg = out.groupby("j").agg(i=("i", "min"), c=("c", "max"))
        return pd.DataFrame(
            {
                id_col: ids[agg.index.to_numpy()],
                "kept_with": ids[agg["i"].to_numpy()],
                "cos": agg["c"].to_numpy(),
            }
        )

    return assigned.select("list_id", id_col, vec_col).groupBy(
        "list_id"
    ).applyInPandas(score, f"{id_col} long, kept_with long, cos double")


def _sqdist_py(a: list[float], b: list[float]) -> float:
    """Left-to-right accumulation, matching both Spark's
    ``F.aggregate`` fold and DuckDB's ``list_sum`` so driver-side
    lookup tables agree bit-for-bit with the SQL oracle."""
    d = 0.0
    for x, y in zip(a, b):
        d += (x - y) * (x - y)
    return d


# ------------------------- cosine-metric (spherical) support, round 13


def _round_half_up(x: float, nd: int) -> float:
    """Round a double exactly as Spark's ``F.round`` and DuckDB's
    ``round`` do — half AWAY from zero on the shortest decimal
    representation (``BigDecimal.valueOf(double)`` semantics).
    Python's builtin ``round`` is banker's rounding and disagrees on
    exact halves, so driver-side codebook arithmetic must use this
    to stay replayable (the same pitfall ``int8_topk`` documents)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(
            Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP
        )
    )


def _unit_py(v: list[float], round_to: int = 9) -> list[float]:
    """Driver-side L2 normalization with the engine's rounding: the
    norm is a left-to-right sum of squares (``_sqdist_py``'s order =
    Spark's fold = DuckDB's list_sum), each component rounded
    half-away-from-zero to ``round_to``. Zero vectors pass through
    unchanged (both engines' convention in :func:`with_unit`)."""
    import math

    s = 0.0
    for x in v:
        s += float(x) * float(x)
    n = math.sqrt(s)
    if n == 0.0:
        return [float(x) for x in v]
    return [_round_half_up(float(x) / n, round_to) for x in v]


def with_unit(
    df: DataFrame,
    vec_col: str,
    out_col: str,
    round_to: int = 9,
) -> DataFrame:
    """Append ``out_col`` = the round-``round_to`` L2-normalized copy
    of ``vec_col`` — the cosine-metric pre-transform: on unit
    vectors, squared-L2 is ``2 - 2·cos``, so every L2 argmin /
    ranking in this module becomes a cosine argmax with identical
    tie behavior, and the whole existing assignment/probe machinery
    (and its DuckDB oracle replay) carries over unchanged.

    The rounding is the replayability discipline (see
    :func:`lloyd_build`): engine and oracle normalize with sums in
    the same order, and round-9 collapses any last-ulp divergence to
    identical literals. Zero vectors stay zero (cosine undefined —
    they land wherever ties send them, deterministically). Pure
    expressions, one ``withColumn`` — no shuffle, no Python."""
    nrm = "_unit_nrm"
    v = F.col(vec_col).cast("array<double>")
    d = df.withColumn(nrm, norm(v))
    d = d.withColumn(
        out_col,
        F.when(F.col(nrm) == 0.0, v).otherwise(
            F.transform(v, lambda x: F.round(x / F.col(nrm), round_to))
        ),
    )
    return d.drop(nrm)


def pq_build(
    embeddings: DataFrame,
    n_sub: int = 8,
    n_centroids: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Product-quantization encode: split each vector into ``n_sub``
    contiguous subspaces and store, per subspace, the index of the
    nearest sub-codebook centroid — ``dim`` floats compress to
    ``n_sub`` small ints (the classic Jegou/Douze/Schmid PQ layout).

    Like :func:`ivf_sampled_build`, the codebook is *sampled*, not
    learned: subspace ``s``'s centroids are the ``s``-th slices of the
    ``n_centroids`` smallest-id vectors — fully deterministic and
    replayable in plain SQL, so the DuckDB oracle re-derives codebook,
    assignment, and query scoring exactly. Ties in the argmin go to
    the lowest centroid id on both engines.

    Returns ``(coded, codebook)``: ``coded`` is the input plus a
    ``codes ARRAY<INT>`` column; ``codebook[s][c]`` is the centroid
    subvector. Encoding is expression-only (slice + fold + argmin)
    inside whole-stage codegen — at 100 TB the scan is the cost, and
    the output (id + codes) is ~dim/4 smaller than the input, which
    is the point: the coded relation is what a reranking pipeline
    keeps hot."""
    rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_centroids)
        .collect()
    )
    if len(rows) < n_centroids:
        raise ValueError(
            f"pq_build: {len(rows)} vectors < n_centroids={n_centroids}"
        )
    dim = len(rows[0][vec_col])
    if dim % n_sub:
        raise ValueError(f"pq_build: dim {dim} not divisible by n_sub {n_sub}")
    sd = dim // n_sub
    codebook = [
        [[float(x) for x in r[vec_col][s * sd : (s + 1) * sd]] for r in rows]
        for s in range(n_sub)
    ]
    codes = _pq_codes_expr(_vec_sql(vec_col), codebook, sd)
    return embeddings.withColumn("codes", codes), codebook


def pq_lloyd_build(
    embeddings: DataFrame,
    n_sub: int = 8,
    n_centroids: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 9,
    init_codebook: list[list[list[float]]] | None = None,
    init: str = "head",
) -> tuple[DataFrame, list[list[list[float]]]]:
    """PQ encode with LEARNED per-subspace codebooks — the
    deterministic fixed-iteration Lloyd refinement of
    :func:`pq_build`'s sampled codebook, per subspace (how production
    PQ actually trains: k-means in each subspace — Jegou/Douze/Schmid
    §III). Same exactness discipline as :func:`lloyd_build`: sampled
    init, squared-L2 argmin with ties → lowest centroid ordinal,
    per-dimension means ROUNDED to ``round_to`` (so engine and oracle
    collapse their different summation orders to identical centroid
    literals), emptied centroids keep their previous value, exactly
    ``iters`` iterations. Fully SQL-replayable — the learned-quality
    path WITHOUT going rows-only.

    The round-12 recall scorecard motivates it: the sampled PQ
    codebook measures r@10 = 0.242 at sf0.001; two Lloyd iterations
    lift it (measured in SCALE.md) at zero probe-side cost — the ADC
    probe is identical, only the codebook literals improve.

    Per iteration: ONE aggregation job (subspace × centroid × dim
    means via an exploded struct array), one constant-size collect
    (n_sub·n_centroids·sub_dim = dim·n_centroids doubles — the
    codebook discipline). Returns ``(coded, codebook)`` exactly like
    :func:`pq_build`.

    ``init_codebook`` (optional) replaces the sampled init — used by
    :func:`ivfpq_lloyd_build` (residual samples), and the escape
    hatch when SMALLEST-ID init sampling is geometrically biased:
    the round-12 10× scorecard measured head-init PQ recall
    collapsing to 0.031 on the translated-copies fixture (every init
    sample sits in copy 0's region; 2 Lloyd iterations cannot escape
    it) vs 0.131 with an evenly-id-SPREAD init of the same size —
    when ids correlate with geometry, pass a spread init (equally
    SQL-replayable: evenly-spaced ids instead of LIMIT n).

    ``init="spread"`` (round 12) is that escape hatch made first-
    class: :func:`spread_sample` picks the init vectors at evenly
    SPREAD RANKS in id order (histogram + targeted-bucket passes — no
    global sort) instead of the n smallest ids. Same collect size, same SQL
    replayability (``_pq_lloyd_oracle(init="spread")`` re-derives
    it), measured 4.2× flat-PQ recall lift on the geometry-correlated
    10× fixture. Ignored when ``init_codebook`` is given."""
    if init_codebook is not None:
        if len(init_codebook) != n_sub or any(
            len(cb) != n_centroids for cb in init_codebook
        ):
            raise ValueError(
                "pq_lloyd_build: init_codebook shape != "
                f"[{n_sub}][{n_centroids}][sub_dim]"
            )
        codebook = [
            [[float(x) for x in c] for c in cb] for cb in init_codebook
        ]
        sd = len(codebook[0][0])
    else:
        rows = _init_sample(
            embeddings, n_centroids, vec_col, id_col, init, "pq_lloyd_build"
        )
        dim = len(rows[0][vec_col])
        if dim % n_sub:
            raise ValueError(
                f"pq_lloyd_build: dim {dim} not divisible by n_sub {n_sub}"
            )
        sd = dim // n_sub
        codebook = [
            [
                [float(x) for x in r[vec_col][s * sd : (s + 1) * sd]]
                for r in rows
            ]
            for s in range(n_sub)
        ]
    v_sql = _vec_sql(vec_col)
    with loop_regime(embeddings.sparkSession):
        for _ in range(iters):
            per_sub = []
            for s in range(n_sub):
                sl = f"slice({v_sql}, {s * sd + 1}, {sd})"
                cid = nearest_idx_sql(sl, codebook[s])
                per_sub.append(f"struct({s} AS s, {cid} AS cid, {sl} AS sv)")
            exploded = embeddings.select(
                F.explode(
                    F.expr("array(" + ",".join(per_sub) + ")")
                ).alias("_e")
            ).select("_e.s", "_e.cid", "_e.sv")
            means = (
                exploded.groupBy("s", "cid")
                .agg(
                    *[
                        F.round(
                            F.avg(F.col("sv").getItem(i)), round_to
                        ).alias(f"m{i}")
                        for i in range(sd)
                    ]
                )
                .collect()
            )
            new_cb = [
                [list(codebook[s][c]) for c in range(n_centroids)]
                for s in range(n_sub)
            ]
            for r in means:
                new_cb[r["s"]][r["cid"]] = [
                    float(r[f"m{i}"]) for i in range(sd)
                ]
            codebook = new_cb
    codes = _pq_codes_expr(v_sql, codebook, sd)
    return embeddings.withColumn("codes", codes), codebook


def pq_topk(
    coded: DataFrame,
    codebook: list[list[list[float]]],
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes, with exact-
    cosine refinement of the selected candidates.

    The per-subspace lookup table (query subvector → each centroid,
    squared L2) is computed once on the driver — ``n_sub *
    n_centroids`` doubles — and scoring a vector is ``n_sub`` literal-
    array lookups plus adds: no per-row distance over the full
    vector, which is PQ's entire scale story (the scan reads codes,
    not embeddings). Selection is ADC ascending (ties → id); the
    reported ``cos`` is the exact cosine of the surviving k
    candidates only — the standard PQ-then-rerank shape."""
    n_sub = len(codebook)
    sd = len(codebook[0][0])
    if len(query) != n_sub * sd:
        raise ValueError(
            f"pq_topk: query dim {len(query)} != {n_sub * sd}"
        )
    adc = None
    for s in range(n_sub):
        qs = [float(x) for x in query[s * sd : (s + 1) * sd]]
        table = [_sqdist_py(qs, c) for c in codebook[s]]
        term = F.element_at(array_lit(table), F.col("codes")[s] + 1)
        adc = term if adc is None else adc + term
    q = array_lit(query)
    top = (
        coded.select(F.col(id_col), F.round(adc, 6).alias("adc"), F.col(vec_col))
        .orderBy(F.col("adc").asc(), F.col(id_col))
        .limit(k)
    )
    # exact-cosine refinement AFTER the limit: only the k survivors
    # ever touch their full vector — scoring the whole corpus here
    # would defeat the point of the codes
    return top.select(
        id_col,
        "adc",
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 8).alias(
            "cos"
        ),
    )


# --------------------------- deterministic Lloyd k-means (round 8)


def lloyd_build(
    embeddings: DataFrame,
    n_lists: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assignment: str = "expr",
    round_to: int = 9,
    init: str = "head",
    metric: str = "l2",
    init_rows: list | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF build with a DETERMINISTIC fixed-iteration Lloyd codebook —
    the oracle-replayable middle ground between ``ivf_sampled_build``
    (no refinement) and ``ivf_build`` (Spark ML KMeans, whose
    kmeans|| init and internal summation make the codebook
    irreproducible in SQL):

    - init: the ``n_lists`` smallest-id vectors (the sampled build's
      codebook), or rank-spread samples with ``init="spread"``
      (:func:`spread_sample` — use when ids correlate with geometry;
      the round-12 scorecard measured head init collapsing there);
    - each iteration: nearest-centroid assignment (squared-L2 argmin,
      ties → lowest index — the same contract every assignment mode
      here honors), then per-dimension mean ROUNDED to ``round_to``;
      an emptied cluster keeps its previous centroid (the standard
      Lloyd convention);
    - exactly ``iters`` iterations, no convergence test.

    SIZING: n_lists ∝ N (see :func:`ivf_build`); gate recall with
    :func:`ivf_recall_at_k` whenever N changes decade.

    The rounding is what makes the update replayable: engine and
    oracle average the same doubles in different orders (~1e-15
    apart) and the round collapses both to identical centroid
    literals, so the NEXT iteration's assignment compares identical
    codebooks. Per-iteration driver work is one k×dim collect — the
    constant-size-codebook argument of every build here. Returns
    (assigned, centroids) like the other builds.

    ``metric="cosine"`` (round 13) is deterministic SPHERICAL
    k-means — the fix for the 10× scorecard's binding finding that
    L2-trained codebooks probe badly against cosine ground truth
    (r@10 ~0.27 on the geometry-correlated fixture): training runs
    on round-9 L2-NORMALIZED vectors (:func:`with_unit`), so the
    squared-L2 argmin IS the cosine argmax (``|u−c|² = 2−2u·c`` on
    units) with identical tie behavior, and each updated centroid is
    re-normalized (driver-side, half-away-from-zero rounding —
    :func:`_unit_py`) back onto the sphere, the spherical-k-means
    mean-direction update. Still exactly ``iters`` iterations, still
    one aggregation job per iteration, still SQL-replayable end to
    end (the oracle normalizes with the same rounding — queries.py
    ``_lloyd_cosine_probe_oracle``). The returned ``assigned`` maps
    the ORIGINAL vectors by cosine (= L2 argmin of their normalized
    copies against the unit centroids); the returned centroids are
    unit vectors — probe them with a NORMALIZED query and the
    existing L2 probe ranking is cosine ranking (``ivf_topk``'s
    ``metric="cosine"`` does exactly that).

    ``init_rows`` (round 13): precomputed init sample rows (id,
    vector), e.g. one :func:`spread_sample` result shared between
    this build and a caller that also needs the sample ids
    (``ivfpq_lloyd_build`` — avoids recomputing the sample and
    re-relying on input determinism). Overrides ``init``."""
    if metric not in ("l2", "cosine"):
        raise ValueError(
            f"lloyd_build: metric must be 'l2' or 'cosine', got {metric!r}"
        )
    en = None
    spark = embeddings.sparkSession
    if metric == "cosine":
        # materialize the round-9 unit copy ONCE (localCheckpoint):
        # every downstream consumer (the per-iteration mean jobs, the
        # final assignment, and the caller's probe filter) otherwise
        # re-derives the normalization EXPRESSION, and because filter
        # pushdown substitutes it into higher-order lambdas where
        # argument subtrees are re-evaluated per array element, the
        # probe degraded to ~dim·k re-normalizations per row
        # (measured 4.85 s vs 0.37 s for the materialized relation on
        # the sf0.1 fixture). The checkpoint is the "build the index"
        # materialization every real IVF index performs anyway; the
        # doubles written are exactly the ones the lazy plan computed,
        # so results are bit-identical.
        en = with_unit(embeddings, vec_col, "_vn_assign", round_to)
        en = en.localCheckpoint()
        e = en.select(
            F.col(id_col), F.col("_vn_assign").alias("_v")
        )
    else:
        e = embeddings.select(
            F.col(id_col).alias(id_col),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    if init_rows is not None:
        if len(init_rows) != n_lists:
            raise ValueError(
                f"lloyd_build: {len(init_rows)} init_rows != n_lists"
                f" = {n_lists}"
            )
        vecs = [list(r[1] if isinstance(r, tuple) else r[vec_col])
                for r in init_rows]
        centroids = (
            [_unit_py(v, round_to) for v in vecs]
            if metric == "cosine"
            else [[float(x) for x in v] for v in vecs]
        )
    else:
        rows = _init_sample(e, n_lists, "_v", id_col, init, "lloyd_build")
        # cosine: e is already normalized, so the sample rows are the
        # unit init centroids directly (same literals the oracle gets)
        centroids = [[float(x) for x in r["_v"]] for r in rows]
    with loop_regime(spark):
        for _ in range(iters):
            assigned = assign_nearest_centroid(
                e, centroids, "_v", "list_id", assignment
            )
            means = (
                assigned.select(
                    "list_id", F.posexplode("_v").alias("_dim", "_x")
                )
                .groupBy("list_id", "_dim")
                .agg(F.round(F.avg("_x"), round_to).alias("_m"))
                .collect()
            )
            by_list: dict[int, dict[int, float]] = {}
            for r in means:
                by_list.setdefault(r["list_id"], {})[r["_dim"]] = r["_m"]
            dim = len(centroids[0])
            # spherical update (cosine): mean direction, back onto the
            # sphere — but ONLY for clusters that actually updated.
            # Emptied clusters keep the previous centroid VERBATIM (it
            # is already unit): re-normalizing a round-9 unit vector is
            # not idempotent (norm = 1±eps, re-round can shift a last
            # digit), and the oracle's coalesce keeps the old literal
            # unchanged. An all-zero mean (exactly cancelling members)
            # keeps the zero — the probe ties it deterministically last.
            centroids = [
                (
                    _unit_py([by_list[i][d] for d in range(dim)], round_to)
                    if metric == "cosine"
                    else [by_list[i][d] for d in range(dim)]
                )
                if i in by_list
                else centroids[i]
                for i in range(n_lists)
            ]
    if metric == "cosine":
        # en is the checkpointed unit-augmented relation from above
        assigned = assign_nearest_centroid(
            en, centroids, "_vn_assign", "list_id", assignment
        ).drop("_vn_assign")
    else:
        assigned = assign_nearest_centroid(
            embeddings, centroids, vec_col, "list_id", assignment
        )
    return assigned, centroids


# --------------------------------------------------- IVF-PQ (round 8)


def ivfpq_build(
    embeddings: DataFrame,
    n_lists: int = 8,
    n_sub: int = 8,
    n_centroids: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]]]:
    """IVF-PQ index build (Jegou/Douze/Schmid; FAISS's IndexIVFPQ):
    coarse-quantize each vector with the sampled codebook, then
    PQ-encode the RESIDUAL ``v - centroid[list]`` — residuals are
    smaller and better-centered than raw vectors, which is why the
    production ANN stack quantizes them instead.

    Both codebooks stay SQL-replayable: the coarse codebook is the
    ``n_lists`` smallest-id vectors (``ivf_sampled_build``); the PQ
    codebook samples the residuals of the NEXT ``n_centroids`` ids —
    the coarse rows' own residuals are identically zero (each is its
    own centroid), so sampling them would collapse every subspace to
    a single zero centroid. The sample residuals are recomputed
    driver-side with the same left-to-right arithmetic as the
    expressions, so the codebook literals agree bit-for-bit with the
    SQL oracle's derivation.

    Returns ``(coded, centroids, codebook)``: ``coded`` adds
    ``list_id`` and ``codes ARRAY<INT>``; encoding is expression-only
    (subtract + slice + fold argmin) inside codegen."""
    assigned, centroids = ivf_sampled_build(
        embeddings, n_lists, vec_col, id_col
    )
    rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_lists + n_centroids)
        .collect()
    )
    if len(rows) < n_lists + n_centroids:
        raise ValueError(
            f"ivfpq_build: {len(rows)} vectors < n_lists + n_centroids"
            f" = {n_lists + n_centroids}"
        )
    dim = len(rows[0][vec_col])
    if dim % n_sub:
        raise ValueError(
            f"ivfpq_build: dim {dim} not divisible by n_sub {n_sub}"
        )
    sd = dim // n_sub

    def _assign_py(vec: list[float]) -> int:
        best, bi = None, 0
        for i, c in enumerate(centroids):
            d = _sqdist_py(vec, c)
            if best is None or d < best:
                best, bi = d, i
        return bi

    res_samples = []
    for r in rows[n_lists:]:
        vec = [float(x) for x in r[vec_col]]
        c = centroids[_assign_py(vec)]
        res_samples.append([x - y for x, y in zip(vec, c)])
    codebook = [
        [rs[s * sd : (s + 1) * sd] for rs in res_samples]
        for s in range(n_sub)
    ]
    resid_sql = (
        f"zip_with({_vec_sql(vec_col)}, "
        f"element_at({matrix_sql(centroids)}, (`list_id` + 1)), "
        "(x, y) -> x - y)"
    )
    coded = assigned.withColumn(
        "codes", _pq_codes_expr(resid_sql, codebook, sd)
    )
    return coded, centroids, codebook


def ivfpq_lloyd_build(
    embeddings: DataFrame,
    n_lists: int = 8,
    n_sub: int = 8,
    n_centroids: int = 8,
    coarse_iters: int = 2,
    pq_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 9,
    init: str = "head",
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]]]:
    """IVF-PQ with BOTH codebooks learned — the fully-trained FAISS
    IndexIVFPQ shape: deterministic fixed-iteration Lloyd for the
    coarse quantizer (:func:`lloyd_build`), then per-subspace Lloyd
    (:func:`pq_lloyd_build`) over the RESIDUALS ``v −
    centroid[list]``, initialized from the residual samples of the
    ``n_centroids`` ids after the coarse-init window (the
    :func:`ivfpq_build` convention). Every step keeps the rounding
    discipline, so the full train-encode pipeline — two coupled
    k-means — replays in SQL and the learned production architecture
    needs no rows-only concession.

    Probe with :func:`ivfpq_topk`, unchanged (only the codebook
    literals improve). Returns ``(coded, centroids, codebook)``
    exactly like :func:`ivfpq_build`.

    ``init="spread"`` (round 12) rank-spreads BOTH inits: the coarse
    codebook via :func:`lloyd_build`'s spread option, and the
    residual-PQ samples as a spread over the rows EXCLUDING the
    coarse sample ids (the spread analogue of the head build's
    "next n_centroids after the coarse window" convention — keeps
    the two sample sets disjoint so PQ never initializes from a
    near-centroid's near-zero residual)."""
    if init == "spread":
        # one spread_sample, shared: the same rows seed lloyd_build's
        # init (via init_rows) AND supply the exclusion ids for the
        # residual-PQ sample — the coarse selection is computed once,
        # saving two Spark job rounds per build and relying on input
        # determinism only once (round-13 ADVICE fix).
        coarse_rows = spread_sample(embeddings, n_lists, vec_col, id_col)
        assigned, centroids = lloyd_build(
            embeddings,
            n_lists=n_lists,
            iters=coarse_iters,
            vec_col=vec_col,
            id_col=id_col,
            round_to=round_to,
            init_rows=coarse_rows,
        )
        coarse_ids = [r[id_col] for r in coarse_rows]
        rows = spread_sample(
            embeddings.filter(~F.col(id_col).isin(coarse_ids)),
            n_centroids,
            vec_col,
            id_col,
        )
    else:
        assigned, centroids = lloyd_build(
            embeddings,
            n_lists=n_lists,
            iters=coarse_iters,
            vec_col=vec_col,
            id_col=id_col,
            round_to=round_to,
            init=init,
        )
        rows = (
            embeddings.select(id_col, vec_col)
            .orderBy(id_col)
            .limit(n_lists + n_centroids)
            .collect()
        )
        if len(rows) < n_lists + n_centroids:
            raise ValueError(
                f"ivfpq_lloyd_build: {len(rows)} vectors < n_lists + "
                f"n_centroids = {n_lists + n_centroids}"
            )
    dim = len(rows[0][vec_col])
    if dim % n_sub:
        raise ValueError(
            f"ivfpq_lloyd_build: dim {dim} not divisible by n_sub {n_sub}"
        )
    sd = dim // n_sub

    def _assign_py(vec: list[float]) -> int:
        best, bi = None, 0
        for i, c in enumerate(centroids):
            d = _sqdist_py(vec, c)
            if best is None or d < best:
                best, bi = d, i
        return bi

    sample_rows = rows if init == "spread" else rows[n_lists:]
    res_samples = []
    for r in sample_rows:
        vec = [float(x) for x in r[vec_col]]
        c = centroids[_assign_py(vec)]
        res_samples.append([x - y for x, y in zip(vec, c)])
    init_cb = [
        [rs[s * sd : (s + 1) * sd] for rs in res_samples]
        for s in range(n_sub)
    ]
    resid_sql = (
        f"zip_with({_vec_sql(vec_col)}, "
        f"element_at({matrix_sql(centroids)}, (`list_id` + 1)), "
        "(x, y) -> x - y)"
    )
    # materialize (list_id, residual) ONCE: the residual expression
    # nests the coarse assignment, and the per-subspace Lloyd lambdas
    # downstream re-evaluate their argument subtree per codebook
    # element — lazily that multiplied the whole coarse-assign +
    # zip_with chain by ~n_sub·n_centroids per row per iteration
    # (measured ~0.7 s off the sf0.1 build, more at scale where the
    # residual table IS the index artifact a real IVF-PQ build
    # materializes). Values are the same doubles; bit-identical.
    resid_df = assigned.withColumn(
        "_rv", F.expr(resid_sql)
    ).localCheckpoint()
    coded, codebook = pq_lloyd_build(
        resid_df,
        n_sub=n_sub,
        n_centroids=n_centroids,
        iters=pq_iters,
        vec_col="_rv",
        id_col=id_col,
        round_to=round_to,
        init_codebook=init_cb,
    )
    return coded.drop("_rv"), centroids, codebook


def ivfpq_topk(
    coded: DataFrame,
    centroids: list[list[float]],
    codebook: list[list[list[float]]],
    query: list[float],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ probe: rank the coarse codebook against the query on
    the driver, and for each of the ``nprobe`` nearest lists build
    the per-subspace ADC lookup table against the RESIDUAL query
    ``q - centroid[list]`` (the asymmetric-distance trick: the query
    stays exact, only the database side is quantized). Scoring a row
    is ``n_sub`` literal-array lookups plus adds — the scan reads
    (list_id, codes), never the full vectors; the exact-cosine rerank
    after the limit touches the k survivors only, PQ's standard
    select-then-refine shape."""
    q = np.asarray(query, dtype=float)
    order = sorted(
        range(len(centroids)),
        key=lambda i: float(np.linalg.norm(np.asarray(centroids[i]) - q)),
    )
    probe = order[:nprobe]
    n_sub = len(codebook)
    sd = len(codebook[0][0])
    if len(query) != n_sub * sd:
        raise ValueError(
            f"ivfpq_topk: query dim {len(query)} != {n_sub * sd}"
        )
    parts = []
    for lid in probe:
        qr = [float(x) - float(c) for x, c in zip(query, centroids[lid])]
        adc = None
        for s in range(n_sub):
            qs = qr[s * sd : (s + 1) * sd]
            table = [_sqdist_py(qs, c) for c in codebook[s]]
            term = F.element_at(array_lit(table), F.col("codes")[s] + 1)
            adc = term if adc is None else adc + term
        parts.append(
            coded.filter(F.col("list_id") == lid).select(
                F.col(id_col),
                F.round(adc, 6).alias("adc"),
                F.col(vec_col),
            )
        )
    scored = parts[0]
    for p in parts[1:]:
        scored = scored.unionAll(p)
    top = scored.orderBy(F.col("adc").asc(), F.col(id_col)).limit(k)
    qcol = array_lit(query)
    return top.select(
        id_col,
        "adc",
        F.round(
            cosine(F.col(vec_col).cast("array<double>"), qcol), 8
        ).alias("cos"),
    )


def int8_quantize(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|v|/127``,
    ``q[j] = round(v[j]/scale) ∈ [-127, 127]`` (the standard
    serving-side embedding compression — 4× less memory/bandwidth
    than float32, which at 100 TB is the difference between an index
    fitting executor memory or spilling). Zero vectors quantize to
    all-zero with scale 0. Output: (id, scale DOUBLE, qvec ARRAY<INT>).

    Pure built-in expressions (aggregate/transform), bit-replayable:
    the division is IEEE double, round() is half-away-from-zero in
    both Spark and DuckDB, so the oracle reproduces codes exactly."""
    v = F.col(vec_col).cast("array<double>")
    scaled = embeddings.select(
        F.col(id_col),
        (
            F.aggregate(
                v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))
            )
            / F.lit(127.0)
        ).alias("scale"),
        v.alias("_v"),
    )
    return scaled.select(
        id_col,
        "scale",
        F.transform(
            "_v",
            lambda x: F.when(F.col("scale") == 0.0, F.lit(0))
            .otherwise(F.round(x / F.col("scale")).cast("int"))
            .cast("int"),
        ).alias("qvec"),
    )


def int8_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by QUANTIZED cosine: both sides int8-quantized, scored as
    the cosine of the integer code vectors — the per-vector scales
    cancel out of cosine entirely, so the score is pure integer dot /
    integer norms (exact arithmetic up to the final sqrt). The exact
    float cosine rides along per returned row, so callers see the
    quantization error directly instead of trusting it. Scan shape is
    identical to :func:`cosine_topk`: one pass, partial top-k per
    partition, no shuffle beyond the final limit."""
    # quantize the query DRIVER-SIDE with the engine's exact
    # arithmetic: the scale fold is left-to-right greatest(|x|) (same
    # doubles as F.aggregate's sequential fold), the division is IEEE
    # double either way, and _round_half_up(x, 0) IS F.round(x)'s
    # BigDecimal.valueOf half-away-from-zero — so the codes are
    # bit-identical to the previous one-row createDataFrame round
    # trip, without spending a whole Spark job (plan + schedule,
    # ~0.3 s) on a single constant row. Non-finite components are
    # rejected up front: the driver max-abs loop would silently skip
    # NaN where the engine's greatest() fold propagates it — the two
    # codes must never be allowed to diverge (r13 ADVICE).
    _mx = 0.0
    for _x in query:
        _fx = float(_x)
        if _fx != _fx or _fx in (float("inf"), float("-inf")):
            raise ValueError(
                f"int8_topk: non-finite query component {_fx!r} — "
                "driver-side and engine-side quantization would "
                "diverge on NaN/inf instead of failing identically"
            )
        _ax = abs(_fx)
        if _ax > _mx:
            _mx = _ax
    _scale = _mx / 127.0
    qq = (
        [0 for _ in query]
        if _scale == 0.0
        else [int(_round_half_up(float(_x) / _scale, 0)) for _x in query]
    )
    coded = int8_quantize(embeddings, vec_col, id_col)
    qi = F.col("qvec").cast("array<double>")
    qlit = array_lit([float(x) for x in qq])
    scored = coded.select(
        F.col(id_col),
        F.round(cosine(qi, qlit), 8).alias("q_cos"),
    )
    top = scored.orderBy(F.col("q_cos").desc(), F.col(id_col)).limit(k)
    exact = embeddings.select(
        F.col(id_col),
        F.round(
            cosine(F.col(vec_col).cast("array<double>"), array_lit(query)),
            8,
        ).alias("cos"),
    )
    return top.join(exact, id_col).select(id_col, "q_cos", "cos")


def ivf_int8_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-pruned int8 scoring — the FAISS ``IVF,SQ8`` composition.
    The round-12 10× scorecard motivates it: int8 alone survives hard
    geometry (r@10 0.915 where every quantizer collapses) but scans
    the whole corpus; IVF alone prunes to ``nprobe`` lists but scores
    at float bandwidth. Composed, the scan touches only the probed
    lists AND moves 4× fewer bytes per candidate — at 100 TB the
    probed partition files are the I/O, so the two factors multiply.

    Plan shape: the ``list_id`` probe filter prunes first (a pushed
    ``isin`` on the bucketed/partitioned index layout), then
    :func:`int8_topk` runs its one-pass quantized scan over the
    survivors — same probe contract as :func:`ivf_topk` (centroids
    ranked by L2 on the driver, ties → lowest list id), same output
    contract as :func:`int8_topk` (``q_cos`` quantized score, exact
    ``cos`` alongside so quantization error stays visible)."""
    q = np.asarray(query, dtype=float)
    order = sorted(
        range(len(centroids)),
        key=lambda i: float(np.linalg.norm(np.asarray(centroids[i]) - q)),
    )
    probe = order[:nprobe]
    cand = assigned.filter(F.col("list_id").isin(probe)).select(
        id_col, vec_col
    )
    return int8_topk(cand, query, k=k, vec_col=vec_col, id_col=id_col)


def _probe_pairs_vectorized(
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    qvec_col: str,
) -> DataFrame:
    """The batch-join query probe as ONE Arrow/BLAS kernel: per query
    row the ``nprobe`` nearest list ids (squared-L2 expanded form,
    ties → lowest list id via stable argsort — the
    :func:`assign_nearest_centroid` vectorized contract). Emits the
    queries' columns plus ``list_id`` (nprobe rows per query), same
    relation the expr path explodes. Centroids broadcast inside the
    closure (kilobytes, the codebook discipline)."""
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray(centroids, dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    npb = min(int(nprobe), len(centroids))
    schema = StructType(
        list(queries.schema.fields)
        + [StructField("list_id", IntegerType(), False)]
    )
    # same d² temporary cap as assign_nearest_centroid: chunk rows so
    # the rows×k block stays ~32 MB however large the codebook
    chunk = max(1, 4_000_000 // max(len(c2), 1))

    def _probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                out = pdf.copy()
                out["list_id"] = pd.array([], dtype="int32")
                yield out
                continue
            X = np.asarray(list(pdf[qvec_col]), dtype=np.float64)
            picks = np.empty((len(pdf), npb), dtype=np.int64)
            for lo in range(0, len(pdf), chunk):
                hi = min(lo + chunk, len(pdf))
                xb = X[lo:hi]
                d2 = (
                    (xb * xb).sum(axis=1)[:, None]
                    - 2.0 * (xb @ C.T)
                    + c2[None, :]
                )
                # stable sort on distance: equal distances keep index
                # order, i.e. ties → lowest list id
                picks[lo:hi] = np.argsort(d2, axis=1, kind="stable")[
                    :, :npb
                ]
            out = pdf.loc[pdf.index.repeat(npb)].reset_index(drop=True)
            out["list_id"] = picks.reshape(-1).astype("int32")
            yield out

    return queries.mapInPandas(_probe, schema)


def ivf_knn_join(
    assigned: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "qid",
    qvec_col: str = "qv",
    exclude_self: bool = True,
    broadcast: bool | None = None,
    max_broadcast_pairs: int = 4_000_000,
    prune_scan: bool = False,
    probe_assignment: str = "expr",
) -> DataFrame:
    """Batch ANN join through the IVF index — the production shape
    for MANY queries (``sim_knn_join``'s brute-force join scores
    |queries| × n pairs; this scores only pairs sharing a probed
    list, Σ_lists |list| × queries-probing-it). Unlike
    :func:`ivf_topk` (one driver-side probe per query), the
    query-to-list assignment is an EXPRESSION (struct array_sort over
    the centroid matrix literal, ties → lowest list id), so a million
    queries cost one job, not a driver loop.

    ``probe_assignment`` (round 13): ``"expr"`` (default) is that
    SQL-replayable expression — but it evaluates an INTERPRETED
    O(n_lists·dim) fold per query row, and under the N/k-constant
    codebook sizing n_lists grows a decade per decade of corpus: at
    the s100 fixture (200k vectors, 1600 lists) the probe-ranking
    expression alone cost 26 s of the 41 s join (measured; it was
    invisible at 16-160 lists). ``"vectorized"`` computes the same
    nprobe list ids per query in one Arrow/BLAS kernel (argsort of
    the expanded ``|q|²−2qCᵀ+|c|²`` distance block, ties → lowest
    list id via stable sort — the :func:`assign_nearest_centroid`
    vectorized contract, equality asserted on the fixtures in tests);
    the catalog entry pins "expr" so the oracle replays bit-for-bit.

    FLOAT-DIVERGENCE CAVEAT (r13 ADVICE): the expanded form is not
    bit-identical to the expr probe's sequential ``(x−y)²`` fold —
    EXACT ties rank identically in both modes (both break ties by
    lowest list id), but a pair of centroids whose true distances to
    a query differ by less than the ~1e-13-relative rearrangement
    error can rank differently, changing which lists are probed and
    hence the candidates. That needs the two nearest centroids to be
    equidistant from the query to ~13 significant digits WITHOUT
    being exactly tied — adversarially constructible (the near-tie
    equality test in tests/test_similarity_internals.py probes
    exactly that construction), not observed on any fixture. Callers
    that must replay bit-for-bit pin ``"expr"``.

    Plan shape at 100 TB: for a BOUNDED query batch the probed
    (qid, list_id, qv) pairs are tiny → broadcast, and the big side
    joins on ``list_id`` with no shuffle. But at the corpus-scale
    SELF-join (every document queries the index) the pairs relation
    is |corpus| × nprobe rows of full vectors — gigabytes, where a
    forced broadcast hint means a driver/executor OOM instead of a
    plan. So the hint is GATED (round 13): ``broadcast=None`` (auto)
    counts the query side through a ``limit(cap+1)`` — a bounded
    probe that never scans past ``max_broadcast_pairs // nprobe``
    rows — and falls back to a shuffled ``list_id`` join when the
    batch is too big (AQE may still upgrade it back to broadcast if
    runtime stats allow; skewed hot lists are AQE skew-join
    territory). ``broadcast=True/False`` pins the choice jobless.

    ``prune_scan=True`` materializes the probed-list union first
    (one tiny distinct job, ≤ n_lists rows) and applies it as a
    LITERAL ``isin`` filter on the index side — with the index
    stored partitioned by ``list_id``
    (:func:`sources.partitioned.write_partitioned`), that filter is
    a PartitionFilters entry and the scan reads ONLY the probed
    lists' files (``scan_is_pruned`` pins it in tests). With few
    queries probing few lists this is the difference between
    scanning nprobe/n_lists of the corpus and scanning all of it.

    Per-query top-k is a window over candidates only. Each candidate
    vector lives in exactly one list, so no dedup step is needed.

    Output: (qid, nid, cos DOUBLE round-6), ties → lowest nid."""
    from pyspark.sql import Window

    if probe_assignment == "expr":
        qv = F.col(qvec_col).cast("array<double>")
        dists = F.transform(matrix_lit(centroids), lambda c: sqdist(qv, c))
        probe_ids = F.transform(
            F.slice(
                F.array_sort(
                    F.transform(
                        dists,
                        lambda d, i: F.struct(d.alias("d"), i.alias("cid")),
                    )
                ),
                1,
                nprobe,
            ),
            lambda s: s["cid"],
        )
        pairs = queries.select(
            F.col(qid_col),
            F.col(qvec_col),
            F.explode(probe_ids).alias("list_id"),
        )
    elif probe_assignment == "vectorized":
        pairs = _probe_pairs_vectorized(
            queries.select(qid_col, qvec_col),
            centroids,
            nprobe,
            qvec_col,
        )
    else:
        raise ValueError(
            "probe_assignment must be expr|vectorized, got "
            f"{probe_assignment!r}"
        )
    if prune_scan:
        # probed-list union as a LITERAL filter: ≤ n_lists rows, one
        # bounded job; on a partitioned-by-list_id index layout this
        # becomes PartitionFilters (directory pruning, not row eval)
        probed_union = sorted(
            r["list_id"]
            for r in pairs.select("list_id").distinct().collect()
        )
        assigned = assigned.filter(F.col("list_id").isin(probed_union))
    if broadcast is None:
        cap = max(1, max_broadcast_pairs // max(1, nprobe))
        # bounded count: stops scanning at cap+1 query rows, so the
        # auto probe costs O(cap) regardless of the batch size
        n_seen = queries.select(qid_col).limit(cap + 1).count()
        broadcast = n_seen <= cap
    cand = assigned.join(
        F.broadcast(pairs) if broadcast else pairs, "list_id"
    )
    if exclude_self:
        cand = cand.filter(F.col(id_col) != F.col(qid_col))
    scored = cand.select(
        F.col(qid_col),
        F.col(id_col).alias("nid"),
        F.round(
            cosine(
                F.col(vec_col).cast("array<double>"),
                F.col(qvec_col).cast("array<double>"),
            ),
            6,
        ).alias("cos"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("cos").desc(), F.col("nid"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


# ------------------------------------------------ MMR diversity re-rank


def mmr_rerank(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    n_candidates: int = 50,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_ids: tuple[int, ...] = (),
    round_to: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily select ``k`` of the top-``n_candidates`` cosine
    hits, trading relevance against redundancy with the selected set::

        mmr(c) = λ·rel(c) − (1−λ)·max over selected s of sim(c, s)

    (max over the empty set = 0, so the first pick is pure scaled
    relevance). The retrieval diversifier: near-duplicate hits stop
    crowding out distinct-but-relevant ones.

    Scale shape: relevance scoring is the one full distributed scan
    (same as cosine_topk); everything after runs over the CONSTANT-
    size candidate relation — n_candidates rows, ≤ n² pairwise sims.
    The greedy argmax chain is inherently sequential (each pick
    changes the next step's objective), the module family's
    sanctioned ``applyInPandas`` case (the CUSUM/EWMA precedent): ONE
    Arrow-batched kernel over the single-group pair relation runs all
    k steps executor-side — the first shape (k separate
    orderBy-limit-1 jobs) spent ~3 s of pure driver round-trips on
    50 rows (SCALE.md r10).

    Determinism: rel and pairwise sims are rounded by Spark
    expressions; the kernel's mmr rounding uses Decimal(double)
    .quantize(HALF_UP) — the exact-decimal-expansion semantics of
    Java's BigDecimal behind F.round, away-from-zero on ties like
    DuckDB's round — and combines λ·rel − (1−λ)·maxsim with the same
    C-double order as the SQL; ties break by id. λ and 1−λ are
    embedded via repr() by :func:`mmr_oracle_sql` so both engines
    combine bit-identical doubles. Output: (rank, ``id_col``, mmr)."""
    import decimal

    import pandas as pd

    one_minus = 1.0 - lam
    base = embeddings
    if exclude_ids:
        base = base.filter(~F.col(id_col).isin(*exclude_ids))
    cand = (
        base.select(
            F.col(id_col).alias("id"),
            F.round(
                cosine(F.col(vec_col).cast("array<double>"), array_lit(query)),
                round_to,
            ).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), F.col("id"))
        .limit(n_candidates)
        # one partition + checkpoint: the top-n is reused for the
        # vector join below and pins the candidate set once
        .coalesce(1)
        .localCheckpoint()
    )
    cv = cand.join(
        embeddings.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        ),
        "id",
    ).select("id", "_v")
    a, b = cv.alias("a"), cv.alias("b")
    sims = a.join(b, F.col("a.id") != F.col("b.id")).select(
        F.col("a.id").alias("u"),
        F.col("b.id").alias("v"),
        F.round(cosine(F.col("a._v"), F.col("b._v")), round_to).alias("s"),
    )
    pairs = cand.join(sims, cand["id"] == sims["u"], "left").select(
        "id", "rel", "v", "s"
    )
    quantum = decimal.Decimal(1).scaleb(-round_to)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        def r(x: float) -> float:
            # Decimal(repr(x)), NOT Decimal(x): Spark's Round on
            # DOUBLE goes through BigDecimal.valueOf = Double.toString
            # = the SHORTEST round-trip decimal — exactly Python's
            # repr(). Decimal(x) would quantize the exact binary
            # expansion instead and diverge one ulp on values whose
            # shortest repr ends in ...5 (found by the parity gate:
            # 0.1623655 → 0.162366 shortest-repr vs 0.162365 exact)
            return float(
                decimal.Decimal(repr(x)).quantize(
                    quantum, rounding=decimal.ROUND_HALF_UP
                )
            )

        rel = {}
        sim: dict[int, dict[int, float]] = {}
        for i, rl, v, s in zip(
            pdf["id"], pdf["rel"], pdf["v"], pdf["s"]
        ):
            i = int(i)
            rel[i] = float(rl)
            if not pd.isna(v):
                sim.setdefault(i, {})[int(v)] = float(s)
        picked: list[int] = []
        out: list[tuple[int, int, float]] = []
        for step in range(1, k + 1):
            best_m = None
            best_id = None
            for c in sorted(rel):
                if c in picked:
                    continue
                # max over the selected set, which can be NEGATIVE for
                # cosines — 0.0 only for the empty set (first pick)
                ms = None
                for p in picked:
                    s = sim.get(c, {}).get(p)
                    if s is not None and (ms is None or s > ms):
                        ms = s
                if ms is None:
                    ms = 0.0
                m = r((lam * rel[c]) - (one_minus * ms))
                if best_m is None or m > best_m:
                    best_m, best_id = m, c
            if best_id is None:
                break
            picked.append(best_id)
            out.append((step, best_id, best_m))
        return pd.DataFrame(
            out, columns=["rank", id_col, "mmr"]
        )

    return (
        pairs.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(greedy, f"rank int, {id_col} long, mmr double")
    )


def mmr_oracle_sql(
    query_id: int = 0,
    k: int = 10,
    n_candidates: int = 50,
    lam: float = 0.7,
    round_to: int = 6,
) -> str:
    """DuckDB replay of :func:`mmr_rerank` against the embeddings
    table with the query = vector ``query_id`` (excluded from the
    candidates, mirroring the catalog entry): the greedy recursion
    carries the selected set as a LIST and each generation picks the
    argmax via a correlated max-sim subquery — the identical rounded
    arithmetic, λ literals repr()'d from the same Python doubles."""
    lm = repr(float(lam))
    om = repr(1.0 - float(lam))
    r = int(round_to)
    return f"""
      WITH RECURSIVE
      q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
            WHERE vec_id = {query_id}),
      cand AS (SELECT e.vec_id AS id,
                      round(list_cosine_similarity(
                        CAST(e.embedding AS DOUBLE[]), q.qv), {r}) AS rel
               FROM embeddings e, q WHERE e.vec_id <> {query_id}
               ORDER BY rel DESC, e.vec_id LIMIT {n_candidates}),
      cv AS (SELECT c.id, CAST(e.embedding AS DOUBLE[]) AS v
             FROM cand c JOIN embeddings e ON e.vec_id = c.id),
      sims AS (SELECT a.id AS u, b.id AS v2,
                      round(list_cosine_similarity(a.v, b.v), {r}) AS s
               FROM cv a JOIN cv b ON a.id <> b.id),
      sel(step, picked, id, mmr) AS (
        (SELECT 1, [c.id], c.id, round({lm} * c.rel, {r}) FROM cand c
         ORDER BY round({lm} * c.rel, {r}) DESC, c.id LIMIT 1)
        UNION ALL
        (SELECT cur.step + 1, list_append(cur.picked, pick.id),
                pick.id, pick.m
         FROM sel cur, LATERAL (
           SELECT c.id,
                  round({lm} * c.rel - {om} * coalesce(
                    (SELECT max(s.s) FROM sims s
                     WHERE s.u = c.id
                       AND list_contains(cur.picked, s.v2)),
                    CAST(0.0 AS DOUBLE)), {r}) AS m
           FROM cand c WHERE NOT list_contains(cur.picked, c.id)
           ORDER BY m DESC, c.id LIMIT 1) pick
         WHERE cur.step < {k})
      )
      SELECT step AS rank, id AS vec_id, mmr FROM sel"""
