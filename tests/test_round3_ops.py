"""Differential tests for the round-3 breadth batch: nearest as-of,
CUSUM closed form, blocked fuzzy join, grid radius join, triangle
census, Misra-Gries heavy hitters. Each operator is checked against an
independent naive implementation on randomized inputs (the oracle gate
covers the registry queries; these pin the operators' semantics on
layouts the testdata does not exercise)."""

from __future__ import annotations

import itertools
import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from cassandra_fs_pp_spark.operators.fuzzyjoin import blocked_levenshtein_join
from cassandra_fs_pp_spark.operators.geo import grid_radius_join
from cassandra_fs_pp_spark.operators.graph import triangle_stats
from cassandra_fs_pp_spark.operators.joins import asof_join
from cassandra_fs_pp_spark.operators.stats import heavy_hitters_exact
from cassandra_fs_pp_spark.operators.windows import cusum


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_asof_nearest_matches_naive_loop(spark):
    rng = random.Random(7)
    t0 = datetime(2024, 1, 1)
    left = [
        (i, rng.randrange(3), t0 + timedelta(seconds=rng.randrange(10000)))
        for i in range(120)
    ]
    right = [
        (rng.randrange(3), t0 + timedelta(seconds=rng.randrange(10000)), float(i))
        for i in range(80)
    ]
    tol = 600
    ldf = spark.createDataFrame(left, ["lid", "k", "ts"])
    rdf = spark.createDataFrame(right, ["k", "ts", "v"])
    got = {
        r["lid"]: r["v"]
        for r in asof_join(
            ldf,
            rdf,
            on="ts",
            by=["k"],
            value_cols=["v"],
            direction="nearest",
            tolerance_s=tol,
        ).collect()
    }
    for lid, k, ts in left:
        best = None
        for rk, rts, v in right:
            if rk != k:
                continue
            gap = abs((rts - ts).total_seconds())
            back = rts <= ts
            if gap > tol:
                continue
            # nearest; ties prefer the backward (earlier-or-equal) side
            key = (gap, 0 if back else 1)
            if best is None or key < best[0]:
                best = (key, v)
        assert got[lid] == (best[1] if best else None), lid


def test_cusum_closed_form_equals_recurrence(spark):
    rng = random.Random(11)
    rows = [
        (k, i, rng.randrange(-50, 60)) for k in range(5) for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["k", "i", "x"])
    got = {
        (r["k"], r["i"]): r["cusum"]
        for r in cusum(df, ["k"], "i", "x", drift=3).collect()
    }
    for k in range(5):
        s = 0
        for i in range(200):
            x = dict(((kk, ii), xx) for kk, ii, xx in rows)[(k, i)]
            s = max(0, s + x - 3)
            assert got[(k, i)] == s, (k, i)


def test_blocked_levenshtein_equals_cross_join(spark):
    rng = random.Random(13)
    alphabet = "abcde"
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(2, 9)))
        for _ in range(58)
    ]
    # empty-string edges on both sides: lev("", x) = len(x)
    words.insert(3, "")
    words.insert(40, "")
    probes = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words[:25])], ["pid", "pw"]
    )
    master = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words[25:])], ["mid", "mw"]
    )
    for threshold in (1, 2, 3):
        want = {}
        for i, pw in enumerate(words[:25]):
            for j, mw in enumerate(words[25:]):
                d = _lev(pw, mw)
                if d <= threshold:
                    want[(i, j)] = d
        for method in ("pigeonhole", "length"):
            got = {
                (r["pid"], r["mid"]): r["dist"]
                for r in blocked_levenshtein_join(
                    probes, master, "pw", "mw",
                    threshold=threshold, method=method,
                ).collect()
            }
            assert got == want, (threshold, method)


def test_grid_radius_join_equals_naive_pairs(spark):
    rng = random.Random(17)
    pts = [
        (i, rng.randrange(-2000, 2000), rng.randrange(-2000, 2000))
        for i in range(300)
    ]
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    r = 150
    got = {
        (row["id_a"], row["id_b"]): row["dist_sq"]
        for row in grid_radius_join(df, radius=r).collect()
    }
    want = {}
    for (i, xi, yi), (j, xj, yj) in itertools.combinations(pts, 2):
        d2 = (xi - xj) ** 2 + (yi - yj) ** 2
        if d2 <= r * r:
            want[(min(i, j), max(i, j))] = d2
    assert got == want


def test_point_in_polygon_join_concave_and_prune_exact(spark):
    """Hand-picked points around the concave L-region decide correctly
    (the notch is OUTSIDE); random points match a pure-python even-odd
    reference run WITHOUT the bbox-cell prune (prune exactness)."""
    from cassandra_fs_pp_spark.operators.geo import point_in_polygon_join

    regions = [
        (1, [(100, 100), (300, 120), (180, 320)]),
        # concave L: the (500..700, 500..700) notch is outside
        (2, [(400, 400), (700, 400), (700, 500),
             (500, 500), (500, 700), (400, 700)]),
    ]
    hand = [
        (0, 150, 150),   # inside triangle
        (1, 290, 300),   # outside triangle (near vertex)
        (2, 450, 450),   # inside L (lower-left arm)
        (3, 650, 450),   # inside L (lower-right arm)
        (4, 450, 650),   # inside L (upper arm)
        (5, 650, 650),   # in the NOTCH -> outside
        (6, 399, 450),   # just left of L -> outside
    ]
    rng = random.Random(23)
    pts = hand + [
        (10 + i, rng.randrange(0, 800), rng.randrange(0, 800))
        for i in range(400)
    ]
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    got = {
        (r["id"], r["region_id"])
        for r in point_in_polygon_join(df, regions, cell=200).collect()
    }
    assert (0, 1) in got and (2, 2) in got and (3, 2) in got and (4, 2) in got
    assert not any(i == k for k, _ in got for i in (1, 5, 6) if k == i)

    def inside(px, py, verts):
        n, cross = len(verts), 0
        for i in range(n):
            x1, y1 = verts[i]
            x2, y2 = verts[(i + 1) % n]
            if (y1 <= py) != (y2 <= py):
                num = (x1 - px) * (y2 - y1) + (x2 - x1) * (py - y1)
                if (num > 0) if (y2 - y1 > 0) else (num < 0):
                    cross += 1
        return cross % 2 == 1

    want = {
        (i, rid)
        for (i, px, py) in pts
        for rid, verts in regions
        if inside(px, py, verts)
    }
    assert got == want


def test_triangle_stats_equals_bruteforce(spark):
    rng = random.Random(19)
    n = 40
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randrange(n), rng.randrange(n)) for _ in range(200)
            )
            if a != b
        }
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    row = triangle_stats(df).collect()[0]
    eset = set(edges)
    nodes = sorted({v for e in edges for v in e})
    tri = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in eset and (b, c) in eset and (a, c) in eset
    )
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    assert row["n_nodes"] == len(nodes)
    assert row["n_edges"] == len(edges)
    assert row["n_wedges"] == wedges
    assert row["n_triangles"] == tri


def test_heavy_hitters_exact_on_skewed_multipartition_data(spark):
    rng = random.Random(23)
    # Zipf-ish: token_i has ~ C/i occurrences; singleton tail beyond.
    vals = []
    for i in range(1, 200):
        vals += [f"tok{i:03d}"] * (2000 // i)
    vals += [f"tail{i}" for i in range(3000)]
    rng.shuffle(vals)
    df = spark.createDataFrame([(v,) for v in vals], ["tok"]).repartition(8)
    got = [(r["tok"], r["cnt"]) for r in heavy_hitters_exact(
        df, "tok", k=15, capacity=400
    ).orderBy(F.desc("cnt"), F.asc("tok")).collect()]
    from collections import Counter

    want = sorted(
        Counter(vals).items(), key=lambda kv: (-kv[1], kv[0])
    )[:15]
    assert got == want


def test_asof_nearest_prefers_backward_on_exact_tie(spark):
    t0 = datetime(2024, 1, 1)
    ldf = spark.createDataFrame([(1, t0 + timedelta(seconds=100))], ["lid", "ts"])
    rdf = spark.createDataFrame(
        [
            (t0 + timedelta(seconds=90), 1.0),
            (t0 + timedelta(seconds=110), 2.0),
        ],
        ["ts", "v"],
    )
    out = asof_join(
        ldf, rdf, on="ts", value_cols=["v"], direction="nearest"
    ).collect()
    assert out[0]["v"] == 1.0


def test_stream_cusum_matches_batch_closed_form(spark, tmp_path):
    import numpy as np
    import pandas as pd

    from cassandra_fs_pp_spark.streaming.filestream import (
        cusum_stateful,
        run_available_now,
    )

    rng = np.random.default_rng(5)
    n = 400
    ts = pd.date_range("2024-06-01", periods=n, freq="min")
    frames = []
    for lo, hi in ((0, 200), (200, 400)):  # state must carry across files
        frames.append(
            pd.concat(
                [
                    pd.DataFrame(
                        {
                            "k": k,
                            "ts": ts[lo:hi],
                            "x": rng.integers(-40, 50, hi - lo),
                        }
                    )
                    for k in (1, 2)
                ]
            )
        )
    d = str(tmp_path / "in")
    import os

    os.makedirs(d)
    for i, f in enumerate(frames):
        spark.createDataFrame(f).coalesce(1).write.mode(
            "append"
        ).parquet(d)
    schema = "k long, ts timestamp, x long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    got = (
        run_available_now(
            cusum_stateful(stream, key_col="k", ts_col="ts", x_col="x", drift=3)
        )
        .orderBy("k", "ts")
        .toPandas()
    )
    batch = (
        cusum(spark.read.parquet(d), ["k"], "ts", "x", drift=3)
        .orderBy("k", "ts")
        .toPandas()
    )
    assert got["cusum"].tolist() == batch["cusum"].tolist()


def test_gram_matrix_partition_invariant_and_correct(spark):
    import numpy as np

    from cassandra_fs_pp_spark.operators.similarity import gram_matrix

    rng = np.random.default_rng(31)
    dim = 8
    X = rng.normal(size=(100, dim)).astype(np.float32)
    rows = [(i, [float(v) for v in X[i]]) for i in range(len(X))]
    outs = []
    for parts in (1, 7):
        df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(
            parts
        )
        out = {
            (r["i"], r["j"]): r["gram_sum"]
            for r in gram_matrix(df, dim=dim).collect()
        }
        outs.append(out)
    assert outs[0] == outs[1]  # exact partition invariance
    Q = np.floor(X.astype(np.float64) * 10000).astype(np.int64)
    G = Q.T @ Q
    want = {
        (i, j): int(G[i, j]) for i in range(dim) for j in range(i, dim)
    }
    assert outs[0] == want


def test_ewma_fold_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(41)
    vals = rng.normal(size=50)
    rows = [(1, i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["k", "i", "x"])
    g = df.groupBy("k").agg(
        F.array_sort(F.collect_list(F.struct("i", "x"))).alias("s")
    )
    out = g.select(
        F.expr(
            "aggregate(slice(transform(s, r -> r.x), 2, size(s) - 1),"
            " element_at(transform(s, r -> r.x), 1), (a, x) -> (a + x) / 2D)"
        ).alias("e")
    ).collect()[0]["e"]
    want = (
        pd.Series(vals).ewm(alpha=0.5, adjust=False).mean().iloc[-1]
    )
    assert out == pytest.approx(want, rel=1e-12)


def test_incremental_rollup_merge_equals_recompute(spark):
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    merged = (
        entrymod.op_incremental_rollup(spark, sf)
        .orderBy("user_id")
        .collect()
    )
    ev = spark.read.parquet(sf + "/events.parquet").withColumn(
        "__cents", F.round(F.col("value") * 100).cast("long")
    )
    full = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("__cents").alias("sum_cents"),
        )
        .orderBy("user_id")
        .collect()
    )
    assert [(r["user_id"], r["n_events"], r["sum_cents"]) for r in merged] == [
        (r["user_id"], r["n_events"], r["sum_cents"]) for r in full
    ]


def test_bitmap_distinct_matches_count_distinct(spark):
    rng = random.Random(47)
    rows = [
        (rng.choice(["a", "b", "c"]), rng.randrange(0, 500))
        for _ in range(4000)
    ]
    df = spark.createDataFrame(rows, ["k", "uid"])
    words = (
        df.select(
            "k",
            F.expr("cast(floor(uid / 63) as bigint)").alias("w"),
            F.expr("shiftleft(cast(1 as bigint), cast(uid % 63 as int))")
            .alias("m"),
        )
        .groupBy("k", "w")
        .agg(F.expr("bit_or(m)").alias("bm"))
    )
    got = {
        r["k"]: r["n"]
        for r in words.groupBy("k")
        .agg(F.sum(F.bit_count("bm")).cast("long").alias("n"))
        .collect()
    }
    want = {
        r["k"]: r["n"]
        for r in df.groupBy("k")
        .agg(F.countDistinct("uid").alias("n"))
        .collect()
    }
    assert got == want


def test_table_digest_partition_invariant(spark):
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    base = {
        (r["bucket"]): (r["n_rows"], r["digest"])
        for r in entrymod.dq_table_digest(spark, sf).collect()
    }
    # same digest from a deliberately re-partitioned scan (commutativity)
    o = spark.read.parquet(sf + "/orders.parquet").repartition(13)
    o.createOrReplaceTempView("__digest_probe")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
    )
    from cassandra_fs_pp_spark.functions.text import hash60

    again = {
        r["bucket"]: (r["n_rows"], r["digest"])
        for r in o.select(
            F.pmod(F.col("o_orderkey"), F.lit(64)).alias("bucket"),
            hash60(row_str).alias("h"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("digest"),
        )
        .collect()
    }
    assert base == again


def test_cdc_chunks_resync_after_insertion(spark):
    from cassandra_fs_pp_spark.functions.text import cdc_chunk_expr

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through fields of golden wheat while clouds drift slowly past "
        "the mountain ridge where eagles circle high above the valley"
    ) * 3
    shifted = "inserted prefix text! " + base
    df = spark.createDataFrame([(1, base), (2, shifted)], ["doc_id", "s"])
    out = {
        r["doc_id"]: r["chunks"]
        for r in df.select(
            "doc_id", F.expr(cdc_chunk_expr("s")).alias("chunks")
        ).collect()
    }
    # chunks partition the string exactly
    assert "".join(out[1]) == base
    assert "".join(out[2]) == shifted
    # CDC boundaries re-synchronize: most of the base doc's distinct
    # chunks reappear verbatim in the shifted doc (fixed-width spans
    # would share ~none after a 22-char shift)
    distinct = set(out[1])
    common = distinct & set(out[2])
    assert len(common) >= len(distinct) * 0.6, (len(common), len(distinct))


def test_cdc_chunks_frame_matches_expr_form(spark):
    """The row-exploded cdc_chunks (codegen'd boundary hashing, bound-
    array cutting) must produce byte-identical chunk arrays to the
    reference single-expression form on every edge class: empty text,
    shorter-than-window text, boundary-at-position-1, and normal docs."""
    from cassandra_fs_pp_spark.functions.text import (
        cdc_chunk_expr,
        cdc_chunks,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through fields of golden wheat while clouds drift slowly past "
    ) * 4
    rows = [
        (1, base),
        (2, "inserted prefix text! " + base),
        (3, ""),
        (4, "short"),
        (5, "exactly8"),
        (6, base[37:222]),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "s"])
    expr_form = {
        r["doc_id"]: r["chunks"]
        for r in df.select(
            "doc_id", F.expr(cdc_chunk_expr("s")).alias("chunks")
        ).collect()
    }
    frame_form = {
        r["doc_id"]: r["chunks"]
        for r in cdc_chunks(df, "s").select("doc_id", "chunks").collect()
    }
    assert expr_form == frame_form


def test_ks_statistic_matches_naive(spark):
    rng = random.Random(53)
    s1 = [round(rng.uniform(0, 10), 1) for _ in range(300)]
    s2 = [round(rng.gauss(6, 2), 1) for _ in range(200)]
    rows = [("a", v) for v in s1] + [("b", v) for v in s2]
    df = spark.createDataFrame(rows, ["k", "value"])
    g = df.groupBy("value").agg(
        F.sum(F.when(F.col("k") == "a", 1).otherwise(0)).cast("long").alias("da"),
        F.sum(F.when(F.col("k") == "b", 1).otherwise(0)).cast("long").alias("db"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(F.sum("da").over(w).alias("c1"), F.sum("db").over(w).alias("c2"))
    n1, n2 = len(s1), len(s2)
    d_num = c.select(
        F.max(F.abs(F.col("c1") * n2 - F.col("c2") * n1)).alias("m")
    ).collect()[0]["m"]
    # naive ECDF max-gap over distinct values
    want = 0
    for v in sorted(set(s1) | set(s2)):
        c1 = sum(1 for x in s1 if x <= v)
        c2 = sum(1 for x in s2 if x <= v)
        want = max(want, abs(c1 * n2 - c2 * n1))
    assert d_num == want


def test_holt_linear_fold_matches_loop(spark):
    """ts_holt_linear's struct-state fold == the naive Python recurrence
    (alpha = beta = 1/2), bit-for-bit, including 1- and 2-element series."""
    import numpy as np

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    got = {
        r["user_id"]: (r["n_events"], r["holt_level"], r["holt_trend"])
        for r in entrymod.ts_holt_linear(spark, sf).collect()
    }
    ev = (
        spark.read.parquet(sf + "/events.parquet")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    series = {}
    for r in sorted(ev, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        series.setdefault(r["user_id"], []).append(r["value"])
    assert got.keys() == series.keys()
    for uid, v in series.items():
        if len(v) == 1:
            l, b = v[0], 0.0
        else:
            l, b = v[1], v[1] - v[0]
            for x in v[2:]:
                l2 = (x + (l + b)) / 2
                b = ((l2 - l) + b) / 2
                l = l2
        n, gl, gb = got[uid]
        assert n == len(v)
        assert gl == l and gb == b, uid  # exact: same op order, exact halving


def test_approx_quantiles_within_rank_error(spark):
    """percentile_approx at accuracy=10000 must land within the GK rank
    window: the sketch value sits between the exact values at ranks
    floor((q - eps)*n) and ceil((q + eps)*n), eps = 1/accuracy."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    rows = entrymod.a_approx_quantiles(spark, sf).collect()
    assert rows
    vals_by_type = {}
    for r in (
        spark.read.parquet(sf + "/events.parquet")
        .select("event_type", "value")
        .collect()
    ):
        vals_by_type.setdefault(r["event_type"], []).append(r["value"])
    eps = 1.0 / 10000
    for r in rows:
        vals = sorted(vals_by_type[r["event_type"]])
        n = len(vals)
        assert r["n"] == n
        for q, got in ((0.5, r["p50_sketch"]), (0.99, r["p99_sketch"])):
            lo = vals[max(0, int((q - eps) * n) - 1)]
            hi = vals[min(n - 1, int((q + eps) * n) + 1)]
            assert lo <= got <= hi, (r["event_type"], q, got, lo, hi)


def _power_replay(Q, dim=64, B=1 << 12, iters=64):
    """Pure-numpy replay of the pca_power_project fixed-point spec."""
    import numpy as np

    def tdiv(a, b):
        a = np.asarray(a, dtype=np.int64)
        return np.sign(a) * (np.abs(a) // b)

    G = Q.T @ Q
    gdiv = int(np.abs(G).max()) // ((1 << 20) - 1) + 1
    Gs = tdiv(G, gdiv)
    v = np.full(dim, B, dtype=np.int64)
    for _ in range(iters):
        w = Gs @ v
        v = tdiv(w * B, max(int(np.abs(w).max()), 1))
    va = v
    n1 = int((va * va).sum())
    v = np.where(np.arange(dim) % 2 == 0, B, -B).astype(np.int64)
    for _ in range(iters):
        w = Gs @ v
        wr = tdiv(w, 1 << 10)
        p = int((wr * va).sum())
        w2 = n1 * wr - p * va
        m = max(int(np.abs(w2).max()), 1)
        q = m // (1 << 38) + 1
        v = tdiv(tdiv(w2, q) * B, max(m // q, 1))
    vb = v

    def signfix(vec):
        order = np.lexsort((np.arange(dim), -np.abs(vec)))
        return -vec if vec[order[0]] < 0 else vec

    return signfix(va), signfix(vb)


def test_pca_power_project_exact_replay_and_gap_convergence(spark):
    """pca_power_project's integer projections equal the numpy replay of
    the fixed-point spec EXACTLY (the property the DuckDB oracle relies
    on); the two axes are near-orthogonal; and on a corpus with a real
    spectral gap the power axes match LAPACK eigh to cos >= 0.9999."""
    import numpy as np

    from cassandra_fs_pp_spark.operators.similarity import (
        GRAM_SCALE,
        pca_power_project,
    )
    from cassandra_fs_pp_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Q = np.floor(X * GRAM_SCALE).astype(np.int64)
    va, vb = _power_replay(Q)

    got = {
        r["vec_id"]: (r["pc1_fp"], r["pc2_fp"], r["pc1"], r["pc2"])
        for r in pca_power_project(emb, dim=64).collect()
    }
    f1, f2 = Q @ va, Q @ vb
    den_a = GRAM_SCALE * np.sqrt(float((va * va).sum()))
    den_b = GRAM_SCALE * np.sqrt(float((vb * vb).sum()))
    for r, i in enumerate(ids):
        assert got[i][0] == f1[r] and got[i][1] == f2[r], i
        assert got[i][2] == f1[r] / den_a and got[i][3] == f2[r] / den_b, i

    # axes near-orthogonal (exact deflation + fixed-point rounding)
    orth = abs(float(np.dot(va, vb))) / (
        np.linalg.norm(va) * np.linalg.norm(vb)
    )
    assert orth < 1e-3

    # spectral-gap corpus: strong planted axes -> power == eigh
    rng = np.random.default_rng(11)
    ax1 = rng.normal(size=64)
    ax1 /= np.linalg.norm(ax1)
    ax2 = rng.normal(size=64)
    ax2 -= ax2.dot(ax1) * ax1
    ax2 /= np.linalg.norm(ax2)
    Xg = (
        rng.normal(size=(400, 1)) * ax1 * 5.0
        + rng.normal(size=(400, 1)) * ax2 * 2.0
        + rng.normal(size=(400, 64)) * 0.1
    )
    Qg = np.floor(Xg * GRAM_SCALE).astype(np.int64)
    va_g, vb_g = _power_replay(Qg)
    vals, vecs = np.linalg.eigh((Qg.T @ Qg).astype(np.float64))
    c1 = abs(np.dot(va_g, vecs[:, -1])) / np.linalg.norm(va_g)
    c2 = abs(np.dot(vb_g, vecs[:, -2])) / np.linalg.norm(vb_g)
    assert c1 >= 0.9999 and c2 >= 0.9999, (c1, c2)


def test_hll_deterministic_reference_and_merge(spark):
    """a_hll_deterministic (r15): (a) engine registers/denominator/
    estimate equal a pure-Python md5 reference exactly; (b) the
    __merged__ row (register-wise max over per-key registers) equals
    the direct global computation — HLL's mergeability, bit-exact;
    (c) the small-range linear-counting estimate lands within 3 sigma
    (~10% at m=1024) of the true distinct count."""
    import hashlib
    import math

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    rows = {r["key"]: r for r in entry.a_hll_deterministic(spark, sf).collect()}

    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_type", "user_id"
    ).collect()

    def h60(v: str) -> int:
        return int(hashlib.md5(v.encode()).hexdigest()[:15], 16)

    regs: dict[str, dict[int, int]] = {}
    truth: dict[str, set] = {}
    for r in ev:
        h = h60(str(r["user_id"]))
        reg, w = h % 1024, h // 1024
        rho = 51 - w.bit_length() if w > 0 else 51
        for key in (r["event_type"], "__merged__"):
            d = regs.setdefault(key, {})
            d[reg] = max(d.get(reg, 0), rho)
            truth.setdefault(key, set()).add(r["user_id"])

    assert set(rows) == set(regs)
    for key, d in regs.items():
        got = rows[key]
        n_present = len(d)
        present_sum = sum(1 << (51 - r) for r in d.values())
        denom = present_sum + (1024 - n_present) * (1 << 51)
        assert got["n_present"] == n_present, key
        assert got["denom"] == denom, key
        assert got["est_raw"] == entry.HLL_DET_ALPHA_NUM / float(denom), key
        zeros = 1024 - n_present
        if zeros:
            lc = round(math.log(1024.0 / zeros) * 1e9) * 1024
            assert got["lc_nano"] == lc, key
            # small-range regime: linear counting within 3 sigma
            est = 1024 * math.log(1024.0 / zeros)
            true = len(truth[key])
            assert abs(est - true) <= max(3 * 1.04 / math.sqrt(1024) * true, 10), (
                key, est, true
            )


def test_countmin_reference_merge_and_guarantee(spark):
    """a_countmin_freq (r15): (a) estimates equal a pure-Python md5
    reference exactly; (b) CM's guarantee est >= true holds for every
    probe; (c) mergeability BY ADDITION: per-event_type sketches sum
    cell-wise to the global sketch (the property that makes CM the
    distributed frequency sketch)."""
    import hashlib
    from collections import Counter

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = {r["user_id"]: r for r in entry.a_countmin_freq(spark, sf).collect()}
    assert got, "no probe users at sf0.001"

    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_type", "user_id"
    ).collect()

    def bucket(j: int, u) -> int:
        h = int(hashlib.md5(f"cm{j}:{u}".encode()).hexdigest()[:15], 16)
        return h % entry.CM_W

    cells: Counter = Counter()
    by_key: dict[str, Counter] = {}
    true: Counter = Counter()
    for r in ev:
        true[r["user_id"]] += 1
        for j in range(entry.CM_D):
            b = bucket(j, r["user_id"])
            cells[(j, b)] += 1
            by_key.setdefault(r["event_type"], Counter())[(j, b)] += 1
    # (c) additive merge
    summed: Counter = Counter()
    for c in by_key.values():
        summed.update(c)
    assert summed == cells
    # (a)+(b)
    probes = {u for u in true if u % entry.CM_PROBE_MOD == 0}
    assert set(got) == probes
    for u in probes:
        est = min(cells[(j, bucket(j, u))] for j in range(entry.CM_D))
        assert got[u]["est_cnt"] == est, u
        assert got[u]["true_cnt"] == true[u], u
        assert got[u]["over"] == est - true[u], u
        assert est >= true[u], u


def test_bottomk_quantiles_merge_and_rank_error(spark):
    """a_bottomk_quantiles (r16): (a) the __merged__ row equals a
    direct global bottom-k over the raw rows (the classic bottom-k
    merge property: bottom-k of a union == bottom-k of the per-part
    bottom-ks); (b) every estimate is an actual sample element picked
    at position ceil(q*n) of the (value, event_id) order (pure-Python
    replay); (c) each estimate's true CDF position lands within 0.1 of
    its target quantile (the ~3%-stderr bottom-k bound at k=256, with
    slack)."""
    import hashlib
    import math

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = {r["key"]: r for r in entry.a_bottomk_quantiles(spark, sf).collect()}
    ev = (
        spark.read.parquet(sf + "/events.parquet")
        .select("event_type", "event_id", "value")
        .collect()
    )

    def h60(x) -> int:
        return int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16)

    by_key: dict = {}
    for r in ev:
        by_key.setdefault(r["event_type"], []).append(
            (h60(r["event_id"]), r["event_id"], r["value"])
        )
    samples = {
        k: sorted(v)[: entry.BK_K] for k, v in by_key.items()
    }
    # (a) merged sample from per-key samples == direct global bottom-k
    union = sorted(x for v in samples.values() for x in v)[: entry.BK_K]
    direct = sorted(
        (h60(r["event_id"]), r["event_id"], r["value"]) for r in ev
    )[: entry.BK_K]
    assert union == direct
    samples["__merged__"] = union
    # (b) estimates replay: element at ceil(q*n) of (value, id) order
    values = {r["event_type"] for r in ev} | {"__merged__"}
    assert set(got) == values
    for k, samp in samples.items():
        vs = sorted((v, i) for _h, i, v in samp)
        n = len(vs)
        assert got[k]["n_sample"] == n
        for q, col in ((0.25, "q25"), (0.5, "q50"), (0.9, "q90")):
            want = vs[max(1, math.ceil(q * n)) - 1][0]
            assert got[k][col] == want, (k, col)
    # (c) rank-error bound vs the TRUE per-key distribution
    for k, rows in by_key.items():
        allv = sorted(v for _h, _i, v in rows)
        n_all = len(allv)
        if n_all < 50:
            continue  # too few rows for a meaningful CDF position
        for q, col in ((0.25, "q25"), (0.5, "q50"), (0.9, "q90")):
            est = got[k][col]
            pos = sum(1 for v in allv if v <= est) / n_all
            assert abs(pos - q) < 0.1, (k, col, pos)


def test_bloom_membership_guarantees_and_merge(spark):
    """a_bloom_membership (r16): (a) pure-Python replay of the filter
    words and probe lookups; (b) the no-false-negative guarantee holds
    per key (truly => claimed); (c) the __merged__ filter equals the
    word-wise OR of the per-key filters AND the direct global build;
    (d) the absent-twin probes exercise the false-positive path
    honestly (false_pos == claimed AND NOT truly)."""
    import hashlib

    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = {
        (r["key"], r["probe_id"]): r
        for r in entry.a_bloom_membership(spark, sf).collect()
    }
    ev = (
        spark.read.parquet(sf + "/events.parquet")
        .select("event_type", "user_id")
        .collect()
    )
    m = entry.BF_WORDS * entry.BF_BITS

    def bits_of(uid) -> list:
        return [
            int(hashlib.md5(f"{j}:{uid}".encode()).hexdigest()[:15], 16) % m
            for j in range(entry.BF_D)
        ]

    members: dict = {}
    for r in ev:
        members.setdefault(r["event_type"], set()).add(r["user_id"])
    members["__merged__"] = set().union(*members.values())
    # (a) replay filters word-by-word
    filters: dict = {}
    for k, uids in members.items():
        words = [0] * entry.BF_WORDS
        for u in uids:
            for b in bits_of(u):
                words[b // entry.BF_BITS] |= 1 << (b % entry.BF_BITS)
        filters[k] = words
    # (c) merged == OR of per-key == direct global (same loop builds
    # the global directly from the merged member set; OR-merge below)
    orred = [0] * entry.BF_WORDS
    for k, w in filters.items():
        if k != "__merged__":
            for i, x in enumerate(w):
                orred[i] |= x
    assert orred == filters["__merged__"]
    base = {u for u in members["__merged__"] if u % entry.BF_PROBE_MOD == 0}
    probes = base | {u + entry.BF_ABSENT_SHIFT for u in base}
    assert set(got) == {
        (k, p) for k in members for p in probes
    }
    saw_fp_path = 0
    for (k, p), r in got.items():
        want_claimed = all(
            filters[k][b // entry.BF_BITS] >> (b % entry.BF_BITS) & 1
            for b in bits_of(p)
        )
        truly = p in members[k]
        assert r["claimed"] == want_claimed, (k, p)
        assert r["truly"] == truly, (k, p)
        assert r["false_pos"] == (want_claimed and not truly), (k, p)
        if truly:
            assert r["claimed"], (k, p)  # (b) no false negatives
        if not truly:
            saw_fp_path += 1
    assert saw_fp_path, "absent twins must exist to exercise the fp path"
