"""Bit-exactness differentials for the r18 Arrow/numpy ANN kernels.

VERDICT r17 item 3's gate: the vectorized kernels must reproduce the
interpreted SQL expression forms EXACTLY — same HALF_UP decimal-string
rounding, same left-to-right float64 fold order, same lowest-code
argmin ties — verified here against the reference forms in
`tests/vecref.py` (`_dq_vec_sql`, `_pq_code_sql`, `_pq_reconstruct_sql`,
`lsh_bucket`) and `dot`/`l2_norm` on adversarial `.5`-boundary fixtures
plus real corpus data.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cassandra_fs_pp_spark.operators.similarity import (
    _sq_stats_and_centroids,
    _sq_stats_row,
    coarse_centroids,
    dot,
    l2_norm,
)
from cassandra_fs_pp_spark.operators.veckernels import (
    pq_assign_codes,
    pq_reconstruct,
    round_half_up,
    seq_dot,
    seq_l2,
    sq_dequantize,
)
from tests.vecref import _dq_vec_sql, _pq_code_sql, _pq_reconstruct_sql

SF001 = "/root/testdata/sf0.01"


def _adversarial_round_values() -> list[float]:
    vals: list[float] = []
    # exact representable k + 0.5 ties, and their ulp neighbors, across
    # the magnitudes the kernels see (codes 0..255, fixed-point 1e9..1e11)
    for k in [0, 1, 2, 3, 7, 100, 254, 255, 1000, 10**6, 10**9, 10**11]:
        t = k + 0.5
        vals += [
            t,
            math.nextafter(t, -math.inf),
            math.nextafter(t, math.inf),
            float(k),
            k + 0.25,
            k + 0.75,
        ]
    # the canonical binary-vs-decimal disagreement points
    vals += [0.49999999999999994, 2.4999999999999996, 999999999.4999999]
    # negatives (HALF_UP = away from zero)
    vals += [-0.5, -1.5, -2.5, math.nextafter(-2.5, 0.0), -0.49999999999999994]
    rng = random.Random(18)
    vals += [rng.uniform(0, 300) for _ in range(20000)]
    vals += [rng.uniform(0, 1e11) for _ in range(20000)]
    return [float(v) for v in vals]


def test_round_half_up_matches_spark_round(spark):
    vals = _adversarial_round_values()
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got_spark = [r["r"] for r in df.selectExpr("round(v, 0) AS r").collect()]
    got_np = round_half_up(np.array(vals)).tolist()
    bad = [
        (v, s, n)
        for v, s, n in zip(vals, got_spark, got_np)
        if s != n
    ]
    assert not bad, bad[:10]


def test_seq_folds_match_interpreted_lambdas(spark):
    rng = random.Random(7)
    rows = [
        (
            i,
            [rng.uniform(-2, 2) for _ in range(17)],
            [rng.uniform(-2, 2) for _ in range(17)],
        )
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "i long, a array<double>, b array<double>")
    got = {
        r["i"]: (r["d"], r["n"])
        for r in df.select(
            "i",
            dot(F.col("a"), F.col("b")).alias("d"),
            l2_norm(F.col("a")).alias("n"),
        ).collect()
    }
    A = np.array([r[1] for r in rows])
    B = np.array([r[2] for r in rows])
    D = seq_dot(A, B)
    N = seq_l2(A)
    for idx, (i, _, _) in enumerate(rows):
        assert got[i][0] == D[idx], i
        assert got[i][1] == N[idx], i


def _emb(spark):
    return spark.read.parquet(f"{SF001}/embeddings.parquet")


def test_sq_dequantize_matches_sql(spark):
    emb = _emb(spark)
    stats = _sq_stats_row(emb, vec_col="embedding")
    sql_rows = {
        r["vec_id"]: list(r["dqv"])
        for r in emb.crossJoin(F.broadcast(stats))
        .selectExpr("vec_id", f"{_dq_vec_sql('embedding', 255)} AS dqv")
        .collect()
    }
    mn_mx = stats.collect()[0]
    mn = np.array(mn_mx["__mn"])
    mx = np.array(mn_mx["__mx"])
    raw = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    X = np.stack([raw[i] for i in sorted(raw)])
    DQ = sq_dequantize(X, mn, mx, 255)
    for row_i, i in enumerate(sorted(raw)):
        assert sql_rows[i] == DQ[row_i].tolist(), i

    # NaN, +-inf and finite values past the int range, with ANSI off:
    # cast(round(...) as int) makes NaN code 0 and saturates the rest to
    # the int32 range (Java d2i)
    nan, inf = float("nan"), float("inf")
    edge = [[nan, 1.0], [inf, -inf], [1e12, -1e12]]
    df = spark.createDataFrame(
        [(i, v, [0.0, 0.0], [4.0, 4.0]) for i, v in enumerate(edge)],
        "vec_id long, embedding array<double>, __mn array<double>,"
        " __mx array<double>",
    )
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        sql_edge = [
            list(r["dqv"])
            for r in df.selectExpr(
                "vec_id", f"{_dq_vec_sql('embedding', 255)} AS dqv"
            )
            .orderBy("vec_id")
            .collect()
        ]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    DQ = sq_dequantize(np.array(edge), np.zeros(2), np.full(2, 4.0), 255)
    assert sql_edge == DQ.tolist(), (sql_edge, DQ.tolist())


def test_sq_dequantize_zero_range_and_tie_rows(spark):
    # engineered: dim 0 constant (rng = 0 -> code 0, dq = mn); dim 1 has
    # rng = 2 with values landing scaled EXACTLY on k + 0.5 (v = mn +
    # (k+0.5) * rng / levels is representable for rng=2, levels=255? --
    # instead drive the tie through round_half_up directly: use rng =
    # levels so scaled = v - mn exactly when v - mn is exact).
    levels = 4
    rows = []
    for k in range(levels):
        v1 = k + 0.5  # scaled == v1 when mn=0, rng=levels -> exact tie
        rows.append((k, [7.25, float(v1)]))
    rows.append((levels, [7.25, 0.0]))
    rows.append((levels + 1, [7.25, float(levels)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stats = _sq_stats_row(df, vec_col="embedding")
    st = stats.collect()[0]
    assert list(st["__mn"]) == [7.25, 0.0]
    assert st["__mx"][0] == 7.25  # rng 0 on dim 0
    sql_rows = {
        r["vec_id"]: list(r["dqv"])
        for r in df.crossJoin(F.broadcast(stats))
        .selectExpr("vec_id", f"{_dq_vec_sql('embedding', levels)} AS dqv")
        .collect()
    }
    X = np.array([r[1] for r in rows])
    DQ = sq_dequantize(
        X, np.array(st["__mn"]), np.array(st["__mx"]), levels
    )
    for row_i, (i, _) in enumerate(rows):
        assert sql_rows[i] == DQ[row_i].tolist(), i


def test_pq_codes_match_sql_with_ties(spark):
    """pq_assign_codes and the pq_codes_map kernel vs the _pq_code_sql
    reference form, ANSI off (the argmin contract in the veckernels
    docstring): ties to the lowest code, a term saturating at 2^63 with
    wrapping sums, a NULL element adding 0 like a NaN one, and an empty
    batch."""
    from cassandra_fs_pp_spark.operators.veckernels import pq_codes_map

    dsub, ks = 4, 4
    rng = random.Random(3)
    book = [[rng.uniform(-1, 1) for _ in range(dsub)] for _ in range(ks)]
    # centroid 2 duplicates centroid 1: every vector is equidistant to
    # both -> the argmin must keep the LOWER code (1), never 2.
    book[2] = list(book[1])
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dsub)]) for i in range(300)
    ]
    # a vector EXACTLY on centroid 3 (distance 0) and one exactly between
    # centroids 0 and 1 in the quantized-integer domain
    rows.append((300, list(book[3])))
    edges = [
        (301, [1e5, 0.0, 0.0, 0.0]),  # the first term saturates
        (302, [None, 0.5, -0.5, 0.25]),
        (303, [float("nan"), 0.5, -0.5, 0.25]),
    ]

    def sql_codes(book, rows, dsub):
        df = spark.createDataFrame(rows, "vec_id long, v array<double>")
        ansi = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "false")
        try:
            want = {
                r["vec_id"]: r["c"]
                for r in df.selectExpr(
                    "vec_id", f"{_pq_code_sql(book, 'v', 1, dsub)} AS c"
                ).collect()
            }
        finally:
            spark.conf.set("spark.sql.ansi.enabled", ansi)
        got = {
            r["vec_id"]: r["__ks"][0]
            for r in df.mapInArrow(
                pq_codes_map([book]), schema="vec_id long, __ks array<int>"
            ).collect()
        }
        assert got == want
        return want

    want = sql_codes(book, rows + edges, dsub)
    X = np.array([r[1] for r in rows])
    codes = pq_assign_codes(X, [np.asarray(book)], dsub)[:, 0]
    for row_i, (i, _) in enumerate(rows):
        assert want[i] == codes[row_i], i
    assert 2 not in set(codes.tolist())  # duplicate centroid loses ties
    assert want[302] == want[303]  # NULL and NaN both add 0
    # the contract's worked example: [NULL, 4] ignores its first
    # component and [NaN, 1] is nearest to [1, 1]
    small = [[0.0, 0.0], [1.0, 1.0], [5.0, 5.0]]
    ex = sql_codes(small, [(0, [None, 4.0]), (1, [float("nan"), 1.0])], 2)
    assert ex == {0: 2, 1: 1}
    # a NULL vector has every distance 0: code 0, not the code nearest
    # the origin
    assert sql_codes(small[::-1], [(0, None)], 2) == {0: 0}
    # an empty batch: no codes, and the kernel yields nothing
    assert pq_assign_codes(np.empty((0, dsub)), [np.asarray(book)], dsub).shape == (0, 1)
    empty = pa.RecordBatch.from_arrays(
        [pa.array([], pa.int64()), pa.array([], pa.list_(pa.float64()))],
        names=["vec_id", "v"],
    )
    assert list(pq_codes_map([book])(iter([empty]))) == []


def test_pq_reconstruct_matches_sql(spark):
    dsub, ks, m = 3, 4, 2
    rng = random.Random(5)
    cb = [
        [[rng.uniform(-1, 1) for _ in range(dsub)] for _ in range(ks)]
        for _ in range(m)
    ]
    rows = [(i, i % ks, (i * 7) % ks) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, __k0 int, __k1 int")
    sql_rows = {
        r["vec_id"]: list(r["pqv"])
        for r in df.selectExpr(
            "vec_id", f"{_pq_reconstruct_sql(cb, '__k')} AS pqv"
        ).collect()
    }
    codes = np.array([[r[1], r[2]] for r in rows])
    R = pq_reconstruct(codes, [np.asarray(b) for b in cb])
    for row_i, (i, _, _) in enumerate(rows):
        assert sql_rows[i] == R[row_i].tolist(), i


def test_sq_stats_and_centroids_match_separate_passes(spark):
    emb = _emb(spark)
    mn, mx, cent_pairs = _sq_stats_and_centroids(
        emb, cell_col="label", vec_col="embedding"
    )
    st = _sq_stats_row(emb, vec_col="embedding").collect()[0]
    assert mn == [float(x) for x in st["__mn"]]
    assert mx == [float(x) for x in st["__mx"]]
    cents = {
        int(r["cell"]): [float(x) for x in r["centroid"]]
        for r in coarse_centroids(
            emb, cell_col="label", vec_col="embedding"
        ).collect()
    }
    assert dict(cent_pairs) == cents


def test_fused_sq8_scoring_matches_expression_form(spark):
    """End-to-end kernel-vs-SQL differential on the real sf0.01 corpus:
    the fused score_sq8_map cosine must equal the r17 expression form
    (dequantize-once + interpreted dot/l2) bit-for-bit on every
    (query, candidate) pair of the ivf_adc candidate stream."""
    from cassandra_fs_pp_spark.operators.veckernels import score_sq8_map

    emb = _emb(spark)
    stats = _sq_stats_row(emb, vec_col="embedding")
    st = stats.collect()[0]
    q = emb.filter((F.col("vec_id") % 37) == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    dq_corpus = (
        emb.crossJoin(F.broadcast(stats))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.expr(_dq_vec_sql("embedding", 255)).alias("dqv"),
        )
        .select("neighbor_id", "dqv", l2_norm(F.col("dqv")).alias("nn"))
    )
    want = {
        (r["query_id"], r["neighbor_id"]): r["adc_cos"]
        for r in dq_corpus.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("qv"), F.col("dqv")) / (F.col("qn") * F.col("nn"))
            ).alias("adc_cos"),
        )
        .collect()
    }
    cand = (
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("vec"),
        )
        .crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qn", "qv", "vec")
    )
    got = {
        (r["query_id"], r["neighbor_id"]): r["adc_cos"]
        for r in cand.mapInArrow(
            score_sq8_map(
                64, [float(x) for x in st["__mn"]], [float(x) for x in st["__mx"]], 255
            ),
            schema="query_id long, neighbor_id long, adc_cos double",
        ).collect()
    }
    assert want == got


def test_fused_pq_scoring_matches_expression_form(spark):
    """score_pq_map vs the r17 expression pipeline (residualize ->
    _pq_code_sql -> _pq_reconstruct_sql -> interpreted dot/l2)."""
    from cassandra_fs_pp_spark.operators.similarity import (
        pq_train_codebooks,
        residualize,
    )
    from cassandra_fs_pp_spark.operators.veckernels import score_pq_map
    from cassandra_fs_pp_spark.session import local_table

    m, ks, dim = 4, 4, 64
    dsub = dim // m
    emb = _emb(spark)
    _, _, cent_pairs = _sq_stats_and_centroids(
        emb, cell_col="label", vec_col="embedding"
    )
    cent = local_table(
        spark, [(c, list(v)) for c, v in cent_pairs],
        "cell int, centroid array<double>",
    )
    res = residualize(emb, cent)
    cb = pq_train_codebooks(res, vec_col="rvec", m=m, ks=ks, iterations=1)
    q = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    encoded = res.select(
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        "centroid",
        *[
            F.expr(_pq_code_sql(cb[j], "rvec", j * dsub + 1, dsub)).alias(
                f"__k{j}"
            )
            for j in range(m)
        ],
    )
    pq_corpus = encoded.select(
        "neighbor_id",
        "cell",
        F.zip_with(
            F.col("centroid"),
            F.expr(_pq_reconstruct_sql(cb, "__k")),
            lambda c, r: c + r,
        ).alias("pqv"),
    ).select("neighbor_id", "cell", "pqv", l2_norm(F.col("pqv")).alias("nn"))
    want = {
        (r["query_id"], r["neighbor_id"]): r["adc_cos"]
        for r in pq_corpus.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("qv"), F.col("pqv")) / (F.col("qn") * F.col("nn"))
            ).alias("adc_cos"),
        )
        .collect()
    }
    cand = (
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("cell"),
            F.col("embedding").alias("vec"),
        )
        .crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qn", "qv", "cell", "vec")
    )
    got = {
        (r["query_id"], r["neighbor_id"]): r["adc_cos"]
        for r in cand.mapInArrow(
            score_pq_map(dim, dsub, cb, dict(cent_pairs)),
            schema="query_id long, neighbor_id long, adc_cos double",
        ).collect()
    }
    assert want == got


def test_pq_codes_map_matches_sql_on_corpus(spark):
    """The training-loop kernel vs the m literal _pq_code_sql
    projections on the real residual corpus."""
    from cassandra_fs_pp_spark.operators.similarity import _assign_codes, residualize
    from cassandra_fs_pp_spark.session import local_table

    m, ks, dim = 8, 8, 64
    dsub = dim // m
    emb = _emb(spark)
    _, _, cent_pairs = _sq_stats_and_centroids(
        emb, cell_col="label", vec_col="embedding"
    )
    cent = local_table(
        spark, [(c, list(v)) for c, v in cent_pairs],
        "cell int, centroid array<double>",
    )
    res = residualize(emb, cent)
    first = (
        emb.filter(F.col("vec_id") < ks).orderBy("vec_id").collect()
    )
    cb = [
        [
            [float(x) for x in r["embedding"]][j * dsub : (j + 1) * dsub]
            for r in first
        ]
        for j in range(m)
    ]
    want = {
        r["vec_id"]: [r[f"__k{j}"] for j in range(m)]
        for r in res.select(
            "vec_id",
            *[
                F.expr(_pq_code_sql(cb[j], "rvec", j * dsub + 1, dsub)).alias(
                    f"__k{j}"
                )
                for j in range(m)
            ],
        ).collect()
    }
    got = {
        r["vec_id"]: list(r["__ks"])
        for r in _assign_codes(res, cb, "vec_id", "rvec").collect()
    }
    assert want == got


def test_ann_kernel_plans_use_arrow_python(spark):
    """Plan pin (VERDICT r17 item 3 done-criterion): the PQ/ADC paths run
    their quantized arithmetic behind Arrow Python nodes, and no
    interpreted higher-order `aggregate(zip_with(...))` projection remains
    on the corpus-scoring side (probe-side folds over the bounded
    |q| x |cells| table are allowed)."""
    import __spark_entry__ as entrymod
    from cassandra_fs_pp_spark.operators.similarity import _assign_codes

    for name in ["ann_ivf_adc_topk", "ann_ivf_pq_topk"]:
        df = entrymod.queries()[name](spark, SF001)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # two fused kernels per query: candidate scoring + fp32 rerank
        assert plan.count("MapInArrow") == 2, (name, plan)
        # the interpreted SQ8/PQ projections are gone from the corpus side
        assert "dqv" not in plan, name
        assert "pqv" not in plan, name
    # the training-loop code assignment is a MapInArrow kernel
    emb = _emb(spark)
    cb0 = [[[0.0] * 8] * 8] * 8
    codes = _assign_codes(emb, cb0, "embedding")
    tplan = codes._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in tplan, tplan


def test_kernel_cosines_null_on_zero_denominator(spark):
    """A zero vector makes ``qn * nn`` 0. Spark's non-ANSI Divide (and
    ``try_divide``) gives NULL, which sorts LAST under desc(); a numpy
    division gives NaN, which sorts FIRST. Every Arrow cosine kernel
    must equal the ``try_divide(dot, qn * l2_norm)`` expression form,
    NULLs included, and lsh_topk must rank the zero vector last."""
    from cassandra_fs_pp_spark.operators.similarity import lsh_topk
    from cassandra_fs_pp_spark.operators.veckernels import (
        score_fp32_map,
        score_pq_map,
        score_sq8_map,
    )

    dim, dsub = 4, 2
    emb = spark.createDataFrame(
        [
            (0, [1.0, 2.0, 3.0, 4.0]),
            (1, [0.0, 0.0, 0.0, 0.0]),
            (2, [-1.0, 0.5, 2.0, 0.0]),
            (3, [0.25, -3.0, 1.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    q = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    pairs = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("vec"))
        .crossJoin(q)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )

    def cos_of(df, vec, out):
        return {
            (r["query_id"], r["neighbor_id"]): r[out]
            for r in df.select(
                "query_id",
                "neighbor_id",
                F.try_divide(
                    dot(F.col("qv"), F.col(vec)), F.col("qn") * l2_norm(F.col(vec))
                ).alias(out),
            ).collect()
        }

    def kernel(df, fn, cols, out):
        return {
            (r["query_id"], r["neighbor_id"]): r[out]
            for r in df.select("query_id", "neighbor_id", "qn", "qv", *cols)
            .mapInArrow(fn, schema=f"query_id long, neighbor_id long, {out} double")
            .collect()
        }

    want = cos_of(pairs, "vec", "cos_raw")
    assert want[(0, 1)] is None and want[(1, 0)] is None
    got = kernel(pairs.withColumnRenamed("vec", "nv"), score_fp32_map(dim), ["nv"], "cos_raw")
    assert got == want
    # a scorer takes no NULL vector: the batch fails instead of a NaN
    # cosine, which would rank FIRST where the expression form's NULL
    # ranks last
    null_nv = pa.RecordBatch.from_arrays(
        [
            pa.array([0, 1], pa.int64()),
            pa.array([2, 3], pa.int64()),
            pa.array([1.0, 1.0]),
            pa.array([[1.0] * dim, [1.0] * dim], pa.list_(pa.float64())),
            pa.array([[1.0] * dim, None], pa.list_(pa.float64())),
        ],
        names=["query_id", "neighbor_id", "qn", "qv", "nv"],
    )
    with pytest.raises(ValueError):
        list(score_fp32_map(dim)(iter([null_nv])))

    stats = _sq_stats_row(emb, vec_col="embedding")
    st = stats.collect()[0]
    dq = pairs.crossJoin(F.broadcast(stats)).withColumn(
        "dqv", F.expr(_dq_vec_sql("vec", 255))
    )
    got = kernel(
        pairs,
        score_sq8_map(dim, list(st["__mn"]), list(st["__mx"]), 255),
        ["vec"],
        "adc_cos",
    )
    assert got == cos_of(dq, "dqv", "adc_cos")

    # zero centroid and a zero codeword: the zero vector reconstructs to
    # zero, so its neighbor-side norm is 0 too
    cb = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [2.0, -1.0]]]
    pq = pairs.select(
        "*",
        *[
            F.expr(_pq_code_sql(cb[j], "vec", j * dsub + 1, dsub)).alias(f"__k{j}")
            for j in range(2)
        ],
    ).withColumn(
        "pqv",
        F.zip_with(
            F.array(*[F.lit(0.0)] * dim),
            F.expr(_pq_reconstruct_sql(cb, "__k")),
            lambda c, r: c + r,
        ),
    )
    want = cos_of(pq, "pqv", "adc_cos")
    assert want[(0, 1)] is None
    got = kernel(
        pairs.withColumn("cell", F.lit(0)),
        score_pq_map(dim, dsub, cb, {0: [0.0] * dim}),
        ["cell", "vec"],
        "adc_cos",
    )
    assert got == want

    top = lsh_topk(emb, k=3, bits=1, tables=8, dim=dim).collect()
    assert any(1 in (r["query_id"], r["neighbor_id"]) for r in top)
    exact = cos_of(pairs, "vec", "cosine")
    assert {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in top} == {
        (r["query_id"], r["neighbor_id"]): exact[(r["query_id"], r["neighbor_id"])]
        for r in top
    }
    for r in top:
        if r["neighbor_id"] == 1:
            n_q = sum(1 for s in top if s["query_id"] == r["query_id"])
            assert r["rank"] == n_q, r  # NULL cosine ranks last


def test_scorers_null_element_scores_null(spark):
    """A NULL vector element makes the expression form's dot fold NULL,
    so the cosine is NULL and ranks last under DESC.  The scorers read
    the element as NaN, whose cosine would rank FIRST; each must give
    NULL there.  The PQ ADC score is the exception on the candidate
    side: its argmin ignores the element, and the kernel keeps the
    expression form's number."""
    from types import SimpleNamespace

    from cassandra_fs_pp_spark.operators.veckernels import (
        blas_topk_map,
        query_matrix,
        score_fp32_map,
        score_pq_map,
        score_sq8_map,
        unit_cosine_map,
    )

    dim = 2
    pairs = spark.createDataFrame(
        [
            (0, 1, [1.0, 0.0], [None, 1.0]),
            (0, 2, [1.0, 0.0], [3.0, 4.0]),
            (1, 2, [None, 1.0], [3.0, 4.0]),
        ],
        "query_id long, neighbor_id long, qv array<double>, vec array<double>",
    ).withColumn("qn", l2_norm(F.col("qv")))

    def cos_of(df, vec):
        return {
            (r[0], r[1]): r[2]
            for r in df.select(
                "query_id",
                "neighbor_id",
                F.try_divide(
                    dot(F.col("qv"), F.col(vec)), F.col("qn") * l2_norm(F.col(vec))
                ),
            ).collect()
        }

    def kernel(df, fn, cols, out):
        return {
            (r[0], r[1]): r[2]
            for r in df.select("query_id", "neighbor_id", "qn", "qv", *cols)
            .mapInArrow(fn, schema=f"query_id long, neighbor_id long, {out} double")
            .collect()
        }

    want = cos_of(pairs, "vec")
    assert want == {(0, 1): None, (0, 2): 0.6, (1, 2): None}
    nv = pairs.withColumnRenamed("vec", "nv")
    assert kernel(nv, score_fp32_map(dim), ["nv"], "cos_raw") == want

    dq = pairs.select(
        "*",
        F.array(F.lit(0.0), F.lit(0.0)).alias("__mn"),
        F.array(F.lit(4.0), F.lit(4.0)).alias("__mx"),
    ).withColumn("dqv", F.expr(_dq_vec_sql("vec", 255)))
    got = kernel(pairs, score_sq8_map(dim, [0.0, 0.0], [4.0, 4.0], 255), ["vec"], "c")
    assert got == cos_of(dq, "dqv") and got[(0, 1)] is None

    cb = [[[0.0], [1.0]], [[1.0], [4.0]]]
    pq = pairs.select(
        "*",
        *[F.expr(_pq_code_sql(cb[j], "vec", j + 1, 1)).alias(f"__k{j}") for j in range(2)],
    ).withColumn("pqv", F.expr(_pq_reconstruct_sql(cb, "__k")))
    want_pq = cos_of(pq, "pqv")
    assert want_pq[(0, 1)] == 0.0 and want_pq[(1, 2)] is None
    got = kernel(
        pairs.withColumn("cell", F.lit(0)),
        score_pq_map(dim, 1, cb, {0: [0.0, 0.0]}),
        ["cell", "vec"],
        "c",
    )
    assert got == want_pq

    # the unit-row scorers: a NULL element on either side scores NULL
    bc = SimpleNamespace(value=query_matrix([(0, [1.0, 0.0]), (1, [None, 1.0])]))
    vecs = pa.array([[None, 1.0], [3.0, 4.0], [3.0, 4.0]], pa.list_(pa.float64()))
    ids = pa.array([1, 2, 2], pa.int64())
    want = {(0, 1): None, (0, 2): pytest.approx(0.6), (1, 2): None}

    def scored(batch) -> dict:
        cols = [c.to_pylist() for c in batch.columns]
        return dict(zip(zip(cols[0], cols[1]), cols[2]))

    (out,) = unit_cosine_map(bc)(
        iter(
            [
                pa.RecordBatch.from_arrays(
                    [ids, vecs, pa.array([0, 0, 1], pa.int64())],
                    names=["neighbor_id", "__cv", "query_id"],
                )
            ]
        )
    )
    assert scored(out) == want
    (top,) = blas_topk_map(bc, 2, "cosine")(
        iter([pa.RecordBatch.from_arrays([ids[:2], vecs[:2]], names=["id", "vec"])])
    )
    assert scored(top) == want


def test_fixed_mean_follows_non_ansi_cast(spark):
    """The fixed-point mean's BIGINT term is the non-ANSI cast of the
    vector kernels' contract: NaN adds 0 and a term at or beyond +-2^63
    saturates.  The session's ANSI cast raised CAST_OVERFLOW on one NaN
    element instead, so kmeans_assign with ``iterations >= 2`` failed."""
    from cassandra_fs_pp_spark.operators.similarity import kmeans_assign

    nan = float("nan")
    cells = spark.createDataFrame(
        [(0, [nan, 1.0]), (0, [2.0, 3.0]), (1, [1e10, -1e10])],
        "label int, embedding array<double>",
    )
    got = {r["cell"]: list(r["centroid"]) for r in coarse_centroids(cells).collect()}
    assert got[0] == [1.0, 2.0]
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        sums = (
            cells.select(F.col("label").alias("cell"), F.posexplode("embedding"))
            .groupBy("cell", "pos")
            .agg(
                (
                    F.sum(F.round(F.col("col") * 1e9).cast("long")).cast("double")
                    / 1e9
                    / F.count(F.lit(1))
                ).alias("m")
            )
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert {(r["cell"], r["pos"]): r["m"] for r in sums} == {
        (c, p): m for c, ms in got.items() for p, m in enumerate(ms)
    }
    assert got[1] == [(2**63 - 1) / 1e9, -(2**63) / 1e9]

    vecs = spark.createDataFrame(
        [(0, [nan, 1.0]), (1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [5.0, 5.0]), (4, [5.0, 6.0])],
        "vec_id long, embedding array<float>",
    )
    rows = kmeans_assign(vecs, k=3, iterations=2).collect()
    assert sorted(r["vec_id"] for r in rows) == [0, 1, 2, 3, 4]


def test_pq_codes_saturate_like_cast(spark):
    """A residual element above ~9.6e4 quantizes to >= 2^63. Non-ANSI
    ``CAST(... AS BIGINT)`` saturates it to Long.MAX_VALUE (NaN casts to
    0) and the BIGINT sum then wraps; numpy's astype wrapped the element
    itself to INT64_MIN, which flips the argmin of row 0 (code 1 in
    SQL). ANSI mode raises CAST_OVERFLOW instead, so the reference form
    runs with it off."""
    dsub = 2
    book = [[0.0, 0.0], [0.0, 1.0], [2.0, -3.0]]
    rows = [
        (0, [1e5, 0.0]),
        (1, [float("nan"), 0.9]),
        (2, [0.2, 0.1]),
        (3, [-1.5e5, 2.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        want = {
            r["vec_id"]: r["c"]
            for r in df.selectExpr(
                "vec_id", f"{_pq_code_sql(book, 'v', 1, dsub)} AS c"
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert want[0] == 1
    X = np.array([r[1] for r in rows])
    codes = pq_assign_codes(X, [np.asarray(book)], dsub)[:, 0]
    assert {i: int(c) for (i, _), c in zip(rows, codes)} == want


def test_ivf_adc_topk_empty_corpus(spark):
    """An empty corpus gives an empty top-k on every ANN path; the fused
    IVF,SQ8 stats/centroid pass used to fold its empty collect with
    ``max()`` and raise ValueError."""
    from cassandra_fs_pp_spark.operators.similarity import (
        adc_topk,
        ivf_adc_topk,
        ivf_topk,
    )

    empty = spark.createDataFrame(
        [], "vec_id long, label int, embedding array<float>"
    )
    assert _sq_stats_and_centroids(empty) == ([], [], [])
    for out in (ivf_adc_topk(empty), adc_topk(empty), ivf_topk(empty)):
        assert out.collect() == []


def test_sq_stats_fold_matches_spark_min_max(spark):
    """The per-cell min/max of ``_sq_stats_and_centroids`` fold to the
    global stats in Spark's order: a NULL element is skipped (a cell whose
    position is all NULL included) and NaN is the largest double.  ANSI
    mode is off here: under it the fixed-point centroid sum already
    raises CAST_OVERFLOW on a NaN element."""
    df = spark.createDataFrame(
        [
            (0, 0, [float("nan"), 1.0]),
            (1, 0, [1.0, None]),
            (2, 1, [2.0, None]),
            (3, 1, [-1.0, None]),
        ],
        "vec_id long, label int, embedding array<double>",
    )
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        mn, mx, cent_pairs = _sq_stats_and_centroids(df)
        st = _sq_stats_row(df).collect()[0]
        cents = [
            (r["cell"], list(r["centroid"]))
            for r in coarse_centroids(df).orderBy("cell").collect()
        ]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert repr(mn) == repr(list(st["__mn"])) == "[-1.0, 1.0]"
    assert repr(mx) == repr(list(st["__mx"])) == "[nan, 1.0]"
    assert cent_pairs == cents


def test_python_workers_import_shipped_package(tmp_path):
    """A driver started outside the repo root, with no PYTHONPATH, still
    runs the Arrow kernels: ``session.tune`` ships the package zip to the
    Python workers, which otherwise fail with ModuleNotFoundError."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "drive.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from cassandra_fs_pp_spark.operators.similarity import (\n"
        "    adc_topk, block_matmul_topk)\n"
        "from cassandra_fs_pp_spark.session import get_spark\n"
        "spark = get_spark('workers', master='local[2]', shuffle_partitions=2)\n"
        "df = spark.createDataFrame(\n"
        "    [(i, [float(i % 3), 1.0, float(i)]) for i in range(8)],\n"
        "    'vec_id long, embedding array<float>')\n"
        "print('rows', adc_topk(df, k=2, query_mod=4).count(),\n"
        "      block_matmul_topk(df, k=2, queries=df.filter('vec_id < 2')).count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 4 4" in out.stdout, out.stdout


def test_lsh_buckets_match_column_form(spark):
    """The LSH bucket kernel vs the Column form ``vecref.lsh_bucket`` on
    the sf0.01 corpus and on the edges: a NaN dot sets its bit (Spark
    orders NaN above every double, numpy's ``NaN >= 0`` is false), a
    NULL element or a NULL vector clears every bit and nulls the norm,
    and a zero vector's 0.0 dots set every bit."""
    from cassandra_fs_pp_spark.operators.similarity import (
        _lsh_buckets,
        hyperplane_lsh_perms,
    )
    from tests.vecref import lsh_bucket

    def both(df, planes):
        want = {
            r["vec_id"]: r["b"]
            for r in df.select(
                "vec_id", lsh_bucket(F.col("embedding"), planes).alias("b")
            ).collect()
        }
        got = {
            r["vec_id"]: (r["__bt"][0], r["__n"])
            for r in _lsh_buckets(
                df.select("vec_id", "embedding"), planes, 1, len(planes),
                keep_vec=True,
            ).collect()
        }
        assert {i: b for i, (b, _) in got.items()} == want
        return want, {i: n for i, (_, n) in got.items()}

    nan, inf = float("nan"), float("inf")
    edges = spark.createDataFrame(
        [
            (0, [nan, 1.0]),
            (1, [None, 1.0]),
            (2, None),
            (3, [0.0, 0.0]),
            (4, [inf, -1.0]),
            (5, [0.5, -2.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    want, norms = both(edges, [[1.0, 0.0], [0.0, 1.0], [-1.0, -1.0]])
    assert want[0] == 7 and want[3] == 7
    assert want[1] == 0 and want[2] == 0
    assert norms[1] is None and norms[2] is None and norms[3] == 0.0
    emb = _emb(spark)
    want, _ = both(emb, hyperplane_lsh_perms(6, 64, 9))
    assert len(set(want.values())) > 8  # a real spread of buckets
