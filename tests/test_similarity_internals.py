"""Focused pins for the round-13 similarity-internals optimizations.

The r13 optimization round changed HOW several similarity operators
build their expressions and jobs without changing WHAT they compute:

- ``nearest_idx`` became a single ``array_min`` fold over
  (distance, index) structs (was the double-fold
  ``array_position(dists, array_min(dists))``), and grew a SQL-string
  construction path (``nearest_idx_sql``) so trainer loops parse ONE
  expression instead of building py4j Column trees per iteration;
- the trainers run under ``session.loop_regime`` (AQE off, restored);
- ``int8_topk`` quantizes the query driver-side with arithmetic that
  must stay bit-identical to the engine's ``int8_quantize``
  expression.

These tests pin the equivalences directly, so a future refactor of
any one layer fails HERE with a named invariant instead of as an
opaque oracle-hash mismatch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pagerank_mapreduce_spark.operators.similarity import (
    _round_half_up,
    int8_quantize,
    nearest_idx,
    nearest_idx_sql,
)
from pagerank_mapreduce_spark.session import loop_regime


@pytest.fixture(scope="module")
def vec_df(spark):
    rows = [
        (1, [1.0, 2.0]),
        (2, [2.9, 4.2]),
        (3, [0.0, 0.0]),
        (4, [2.0, 3.0]),  # exactly equidistant to cb[0] and cb[1]
        (5, [-1.5, 7.25]),
    ]
    return spark.createDataFrame(rows, "id long, emb array<double>")


# codebook with a duplicated row (0 and 2) so ties exercise the
# lowest-index contract, plus a pair straddling row 4's midpoint
CB = [[1.0, 2.0], [3.0, 4.0], [1.0, 2.0], [5.0, 0.5]]


def test_nearest_idx_sql_string_matches_column_form(vec_df):
    """The parsed-string argmin and the Column-tree argmin are the
    same expression: identical assignments on every row, including
    the duplicated-centroid tie (row 1 -> index 0, never 2)."""
    a = vec_df.select(
        "id",
        nearest_idx(F.col("emb").cast("array<double>"), CB).alias("x"),
    ).collect()
    b = vec_df.select(
        "id", nearest_idx("CAST(`emb` AS ARRAY<DOUBLE>)", CB).alias("x")
    ).collect()
    assert a == b
    got = {r["id"]: r["x"] for r in a}
    assert got[1] == 0  # exact match on centroid 0 (dup at 2 loses)
    assert got[3] == 0  # origin ties 0/2 -> lowest index


def test_nearest_idx_matches_double_fold_reference(vec_df):
    """The single-fold struct argmin equals the pre-r13
    array_position(dists, array_min(dists)) - 1 reference on every
    row (same distances, same first-minimum tie rule)."""
    from pagerank_mapreduce_spark.functions.vectors import (
        matrix_lit,
        sqdist,
    )

    v = F.col("emb").cast("array<double>")
    dists = F.transform(matrix_lit(CB), lambda c: sqdist(v, c))
    ref = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    rows = vec_df.select(
        "id",
        ref.alias("old"),
        nearest_idx(v, CB).alias("new"),
    ).collect()
    assert all(r["old"] == r["new"] for r in rows), rows


def test_trainer_conf_restores_aqe_even_on_error(spark):
    before = spark.conf.get("spark.sql.adaptive.enabled")
    with loop_regime(spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == before
    with pytest.raises(RuntimeError):
        with loop_regime(spark):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.adaptive.enabled") == before


def test_trainer_conf_is_reentrant(spark):
    """Nested trainer scopes (ivfpq_lloyd_build runs spread_sample /
    pq_lloyd_build inside its own scope) must keep AQE off until the
    OUTERMOST scope exits and restore the value IT saved — the flat
    save/restore re-enabled AQE when an inner scope exited and could
    restore a stale 'false' (r13 ADVICE)."""
    before = spark.conf.get("spark.sql.adaptive.enabled")
    with loop_regime(spark):
        with loop_regime(spark):
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        # inner exit must NOT restore yet
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == before
    # error inside the inner scope still unwinds both levels cleanly
    with pytest.raises(RuntimeError):
        with loop_regime(spark):
            with loop_regime(spark):
                raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.adaptive.enabled") == before


def test_array_sql_rejects_non_finite():
    """A NaN/inf codebook entry must fail HERE, naming the bad index,
    not far downstream as an opaque ParseException (r13 ADVICE)."""
    from pagerank_mapreduce_spark.functions.vectors import array_sql

    assert array_sql([1.0, -2.5]).startswith("array(")
    with pytest.raises(ValueError, match="index 1"):
        array_sql([0.0, float("nan")])
    with pytest.raises(ValueError, match="non-finite"):
        array_sql([float("inf")])


def test_int8_topk_rejects_non_finite_query(spark):
    """Driver-side quantization silently skipped NaN in its max-abs
    loop where the engine's greatest() fold propagates it — both
    paths must fail identically instead (r13 ADVICE)."""
    from pagerank_mapreduce_spark.operators.similarity import int8_topk

    df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="non-finite"):
        int8_topk(df, [1.0, float("nan")])
    with pytest.raises(ValueError, match="non-finite"):
        int8_topk(df, [float("-inf"), 0.0])


def test_driver_side_query_quantization_matches_engine(spark):
    """int8_topk's driver-side query quantization must reproduce the
    engine expression bit-for-bit — exercised on the cases where a
    naive round() would diverge: exact .5 quotients (banker's vs
    half-away-from-zero), negatives, zeros, and a zero vector."""
    queries = [
        [1.0, -2.0, 63.5, 127.0],   # 63.5/scale lands on an exact half
        [0.0, 0.0, 0.0, 0.0],        # zero vector -> scale 0 -> all 0
        [-127.0, 1.5, -1.5, 0.5],
        [0.3333333333333333, -0.6666666666666666, 1e-12, -1e-12],
    ]
    for q in queries:
        # engine side: the int8_quantize expression on a one-row frame
        # (the pre-r13 implementation shape)
        row = int8_quantize(
            spark.createDataFrame(
                [(0, [float(x) for x in q])],
                "vec_id long, embedding array<double>",
            ),
            "embedding",
            "vec_id",
        ).first()
        engine_codes = [int(x) for x in row["qvec"]]
        # driver side: the r13 arithmetic, replicated from int8_topk
        mx = 0.0
        for x in q:
            ax = abs(float(x))
            if ax > mx:
                mx = ax
        scale = mx / 127.0
        driver_codes = (
            [0 for _ in q]
            if scale == 0.0
            else [int(_round_half_up(float(x) / scale, 0)) for x in q]
        )
        assert driver_codes == engine_codes, (q, driver_codes, engine_codes)


def test_ivf_knn_join_vectorized_probe_matches_expr(spark, sf_dir):
    """probe_assignment="vectorized" (Arrow/BLAS argsort, the round-13
    scale path for large codebooks — the expr probe's interpreted
    O(n_lists·dim) fold per query surfaced as 26 s of a 41 s join at
    the s100 fixture) must reproduce the expr probe's output rows
    exactly on the fixture."""
    from pagerank_mapreduce_spark.operators.similarity import (
        ivf_knn_join,
        ivf_sampled_build,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned, cents = ivf_sampled_build(emb, n_lists=8)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    def rows(mode):
        return sorted(
            (r["qid"], r["nid"], r["cos"])
            for r in ivf_knn_join(
                assigned, cents, q, k=3, nprobe=2,
                probe_assignment=mode,
            ).collect()
        )
    assert rows("expr") == rows("vectorized")
    with pytest.raises(ValueError):
        ivf_knn_join(assigned, cents, q, probe_assignment="nope")


def test_vectorized_probe_matches_expr_on_adversarial_near_ties(spark):
    """r13 ADVICE: the vectorized probe's expanded |q|²−2qCᵀ+|c|²
    distances are not bit-identical to the expr probe's sequential
    fold, so NEAR-tied centroids are the divergence surface. Probe it
    adversarially: a codebook containing an exact duplicate pair, a
    query exactly equidistant between two centroids (tie must break
    to the lowest list id in BOTH modes), and pairs whose distances
    differ by only ~1e-9 relative (far above the ~1e-13 rearrangement
    error, so both modes must rank them identically). 64 queries ×
    16 centroids — a denser tie surface than the corpus fixture."""
    from pagerank_mapreduce_spark.operators.similarity import (
        assign_nearest_centroid,
    )

    eps = 1e-9
    cents = []
    base = [float(i) for i in range(8)]
    for j in range(16):
        c = list(base)
        if j == 1:
            c = list(cents[0])  # exact duplicate of centroid 0
        else:
            c[j % 8] += float(j)
            if j in (5, 7):
                # near-tie partners of centroids 4 and 6
                c = [x + eps for x in cents[j - 1]]
        cents.append(c)
    rows = []
    for i in range(64):
        v = [x + (i % 7) * 0.125 for x in base]
        if i % 5 == 0:
            # exactly midway between centroids 2 and 3
            v = [(a + b) / 2.0 for a, b in zip(cents[2], cents[3])]
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {}
    for mode in ("expr", "vectorized"):
        got[mode] = sorted(
            (r["vec_id"], r["list_id"])
            for r in assign_nearest_centroid(
                df, cents, "embedding", "list_id", mode
            ).collect()
        )
    assert got["expr"] == got["vectorized"]
