"""Tests for dedup (P2/P3), validity (P7/P8), and join (J1/J4) operators."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cassandra_fs_pp_spark.operators.dedup import dedup_keep_first, dedup_rows
from cassandra_fs_pp_spark.operators.joins import asof_join, calibration_join
from cassandra_fs_pp_spark.operators.validity import null_out_of_range, quality_gate

T0 = dt.datetime(2021, 1, 1)


def test_dedup_keep_first_is_deterministic(spark):
    # same time key from two "files"; keep-first by (file_seq, record)
    rows = [
        (T0, 2, 10, "b"),  # file 2
        (T0, 1, 5, "a"),  # file 1 -> kept
        (T0 + dt.timedelta(hours=1), 1, 6, "c"),
    ]
    df = spark.createDataFrame(
        rows, "time timestamp, file_seq int, record int, val string"
    )
    out = dedup_keep_first(df, keys=["time"], order_by=["file_seq", "record"])
    got = {r["time"]: r["val"] for r in out.collect()}
    assert got[T0] == "a"
    assert len(got) == 2


def test_dedup_rows(spark):
    df = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], "a int, b string")
    assert dedup_rows(df).count() == 2


def test_null_out_of_range_family_expansion(spark):
    df = spark.createDataFrame(
        [(1.0, 5.0, 0.7, 200.0)],
        "`TDR1_T` double, `TDR2_T` double, `EC(1)` double, `other` double",
    )
    out = null_out_of_range(df, {"TDR_T": (-50, 10), "EC": (0.5, 1.0)})
    row = out.collect()[0]
    assert row["TDR1_T"] == 1.0 and row["TDR2_T"] == 5.0
    assert row["EC(1)"] == 0.7
    assert row["other"] == 200.0  # untouched: no spec matches

    df2 = spark.createDataFrame(
        [(100.0, 0.2)], "`TDR1_T` double, `EC(1)` double"
    )
    row2 = null_out_of_range(df2, {"TDR_T": (-50, 10), "EC": (0.5, 1.0)}).collect()[0]
    assert row2["TDR1_T"] is None and row2["EC(1)"] is None


def test_quality_gate_null_flag_default(spark):
    df = spark.createDataFrame(
        [(1.0, 160), (2.0, 100), (3.0, None)], "v double, q int"
    )
    out = df.select(quality_gate(F.col("v"), F.col("q")).alias("g")).collect()
    assert [r["g"] for r in out] == [1.0, None, 3.0]  # null flag -> 150 -> kept


def test_calibration_join_fallback_to_mean(spark):
    fact = spark.createDataFrame(
        [("s1", 0.5), ("s2", 0.5), ("s3", 0.5)], "sensor_id string, raw double"
    )
    calib = spark.createDataFrame(
        [("s1", 100.0, 1.0), ("s2", 200.0, 3.0)], "sensor_id string, m double, c double"
    )
    out = calibration_join(fact, calib)
    got = {r["sensor_id"]: r["calibrated"] for r in out.collect()}
    assert got["s1"] == pytest.approx(100.0 * 0.5 + 1.0)
    assert got["s2"] == pytest.approx(200.0 * 0.5 + 3.0)
    # s3 falls back to mean m=150, mean c=2
    assert got["s3"] == pytest.approx(150.0 * 0.5 + 2.0)


def test_asof_join_backward_and_tolerance(spark):
    left = spark.createDataFrame(
        [("u", T0 + dt.timedelta(seconds=10)), ("u", T0 + dt.timedelta(seconds=100))],
        "k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", T0, 1.0), ("u", T0 + dt.timedelta(seconds=50), 2.0)],
        "k string, ts timestamp, v double",
    )
    out = asof_join(left, right, on="ts", by=["k"], value_cols=["v"]).orderBy("ts")
    assert [r["v"] for r in out.collect()] == [1.0, 2.0]

    out_tol = asof_join(
        left, right, on="ts", by=["k"], value_cols=["v"], tolerance_s=20
    ).orderBy("ts")
    # first left row: gap 10s <= 20 ok; second: gap 50s > 20 -> null
    assert [r["v"] for r in out_tol.collect()] == [1.0, None]


def test_asof_join_forward(spark):
    left = spark.createDataFrame([("u", T0)], "k string, ts timestamp")
    right = spark.createDataFrame(
        [("u", T0 + dt.timedelta(seconds=5), 9.0)], "k string, ts timestamp, v double"
    )
    out = asof_join(
        left, right, on="ts", by=["k"], value_cols=["v"], direction="forward"
    )
    assert out.collect()[0]["v"] == 9.0


def test_connected_components_vs_union_find(spark):
    """Iterative min-label propagation == brute-force union-find, on a
    graph whose long chain needs multiple propagation rounds."""
    import random

    from cassandra_fs_pp_spark.operators.graph import connected_components

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(0, 30)]          # 31-node chain
    edges += [(100 + i, 100 + rng.randrange(i)) for i in range(1, 20)]  # random tree
    edges += [(200, 201), (202, 202)]                    # pair + self-loop
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for a, b in edges:
        expected[a] = find(a)
        expected[b] = find(b)
    # normalize: component label must be the min node id of the component
    mins = {}
    for n, r in expected.items():
        mins.setdefault(r, n)
        mins[r] = min(mins[r], n)
    expected = {n: mins[r] for n, r in expected.items()}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == expected


def test_upsert_snapshot_semantics(spark):
    """Full-row replace: updates win (including intentional NULLs),
    inserts append, untouched base rows pass through unchanged."""
    from cassandra_fs_pp_spark.operators.joins import upsert_snapshot

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, bal double",
    )
    changes = spark.createDataFrame(
        [(2, None, 99.0), (4, "d", 40.0)], "k long, name string, bal double"
    )
    got = {r.k: (r.name, r.bal) for r in upsert_snapshot(base, changes, "k").collect()}
    assert got == {
        1: ("a", 10.0),
        2: (None, 99.0),  # NULL from the change row wins
        3: ("c", 30.0),
        4: ("d", 40.0),
    }
    import pytest as _pytest

    with _pytest.raises(ValueError):
        upsert_snapshot(base, changes.drop("bal"), "k")


def test_hll_mergeable_estimate_within_bounds(spark, sf_dir):
    """Union of per-day HLL sketches estimates the global distinct count
    within the sketch's error bounds (lgConfigK=12 -> ~1.6% std error),
    and never exceeds the sum of daily exacts."""
    import __spark_entry__ as entrymod

    row = entrymod.a_hll_mergeable(spark, sf_dir).collect()[0]
    from cassandra_fs_pp_spark.sources.tables import load_table

    exact = (
        load_table(spark, sf_dir, "events")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()[0]
        .n
    )
    assert abs(row.est_total - exact) <= max(2, 0.05 * exact)
    assert row.est_total <= row.sum_daily_exact


def test_scd2_intervals_contiguous(spark):
    """SCD2 build invariants: per (user, type) intervals are ordered,
    non-overlapping, contiguous (valid_to == next valid_from), exactly one
    open current row, and consecutive values actually change."""
    import __spark_entry__ as m

    rows = m.queries()["op_scd2_intervals"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault((r["user_id"], r["event_type"]), []).append(r)
    assert by_key
    for key, ivs in by_key.items():
        ivs.sort(key=lambda r: r["valid_from"])
        opens = [r for r in ivs if r["valid_to"] is None]
        assert len(opens) == 1 and ivs[-1]["is_current"]
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"], key
            assert a["value"] != b["value"], key


def _numpy_pagerank(edges, n, iterations):
    """Float power-iteration reference: ``(1-d)/N + d * sum(rank/outdeg)``
    at d = 0.85, dangling mass not redistributed."""
    import numpy as np

    d = 0.85
    outdeg = np.zeros(n)
    for s, _ in edges:
        outdeg[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        for s, t in edges:
            contrib[t] += r[s] / outdeg[s]
        r = (1 - d) / n + d * contrib
    return r


def test_pagerank_exact_tracks_float_and_partition_invariant(spark):
    """Fixed-point integer PageRank must (a) agree with the float
    iteration to well under the 1e-12 truncation granularity times the
    iteration count, and (b) return IDENTICAL integers at 1 and 8
    partitions — the order-insensitivity that earns it a full oracle."""
    from cassandra_fs_pp_spark.operators.graph import pagerank_exact

    # directed graph incl. a dangling node (3) and a no-in-edge node (0)
    edges = [(0, 1), (0, 2), (1, 2), (2, 1), (1, 3), (4, 3), (0, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    fp1 = {
        r.node: r.rank_fp
        for r in pagerank_exact(df.coalesce(1), iterations=8).collect()
    }
    fp8 = {
        r.node: r.rank_fp
        for r in pagerank_exact(df.repartition(8), iterations=8).collect()
    }
    assert fp1 == fp8
    fl = _numpy_pagerank(edges, 5, iterations=8)
    for node, v in fp1.items():
        # per-step truncation discards < outdeg ulps of 1e-12 mass
        assert abs(v / 1e12 - fl[node]) < 1e-9, node


def test_global_row_number_matches_single_partition_window(spark):
    import random

    from pyspark.sql import Window as W

    from cassandra_fs_pp_spark.operators.stats import global_row_number

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 50), rng.random()) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, k long, v double").repartition(8)

    got = {
        r.id: r.rn
        for r in global_row_number(df, ["k", "v", "id"], out_col="rn").collect()
    }
    want = {
        r.id: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(W.orderBy("k", "v", "id"))
        ).collect()
    }
    assert got == want


def test_global_running_sum_null_policy_and_materialize(spark):
    """NULL val_col contributes 0 to other rows' prefix but its OWN
    running_sum is NULL (the SUM-over-window - col shape pack_sequences'
    oracle uses); fractional val_col is rejected at entry; and
    materialize=False (pure-lazy lineage, no localCheckpoint) returns
    identical values."""
    from pyspark.sql import Window as W

    from cassandra_fs_pp_spark.operators.stats import global_running_sum

    rows = [(0, 5), (1, None), (2, 7), (3, None), (4, 1), (5, 3)]
    df = spark.createDataFrame(rows, "id long, v int").repartition(4)

    want = {
        r.id: r.rs
        for r in df.withColumn(
            "rs",
            (
                F.sum("v").over(
                    W.orderBy("id").rowsBetween(W.unboundedPreceding, 0)
                )
                - F.col("v")
            ).cast("long"),
        ).collect()
    }
    for mat in (True, False):
        got = {
            r.id: r.rs
            for r in global_running_sum(
                df, "v", ["id"], out_col="rs", exclusive=True, materialize=mat
            ).collect()
        }
        assert got == want, f"materialize={mat}"

    inc = {
        r.id: r.rs
        for r in global_running_sum(df, "v", ["id"], out_col="rs").collect()
    }
    assert inc == {0: 5, 1: None, 2: 12, 3: None, 4: 13, 5: 16}

    with pytest.raises(TypeError, match="integral"):
        global_running_sum(
            df.withColumn("v", F.col("v").cast("double")), "v", ["id"]
        )


def test_interval_overlap_join_exact_and_no_double_count(spark):
    """Bucketized range join: exact pair set (differential vs the naive
    range condition) and EXACTLY one output row per overlapping pair even
    when intervals span many buckets."""
    from pyspark.sql import functions as F

    from cassandra_fs_pp_spark.operators.joins import interval_overlap_join

    def mk(rows, p):
        return spark.createDataFrame(
            rows, f"user_id long, {p}_id long, {p}_start string, {p}_end string"
        ).select(
            "user_id",
            f"{p}_id",
            F.col(f"{p}_start").cast("timestamp").alias(f"{p}_start"),
            F.col(f"{p}_end").cast("timestamp").alias(f"{p}_end"),
        )

    # intervals spanning up to 5 one-hour buckets; one pair overlaps at a
    # single boundary second; one pair doesn't overlap at all
    a = mk(
        [
            (1, 10, "2024-01-01 00:30:00", "2024-01-01 04:30:00"),
            (1, 11, "2024-01-01 06:00:00", "2024-01-01 06:10:00"),
            (2, 12, "2024-01-01 00:00:00", "2024-01-01 01:00:00"),
        ],
        "a",
    )
    b = mk(
        [
            (1, 20, "2024-01-01 02:00:00", "2024-01-01 07:00:00"),  # hits 10 & 11
            (1, 21, "2024-01-01 04:30:00", "2024-01-01 05:00:00"),  # touches 10
            (2, 22, "2024-01-01 01:00:01", "2024-01-01 02:00:00"),  # misses 12
        ],
        "b",
    )
    out = interval_overlap_join(
        a, b, l_start="a_start", l_end="a_end",
        r_start="b_start", r_end="b_end", bucket_s=3600, keys=("user_id",),
    ).collect()
    pairs = sorted((r["a_id"], r["b_id"]) for r in out)
    assert pairs == [(10, 20), (10, 21), (11, 20)]
    assert len(pairs) == len(set(pairs)), "pair double-counted across buckets"


def test_interval_overlap_join_plan_is_equi_join(spark):
    import re

    import __spark_entry__ as entrymod

    df = entrymod.queries()["j_interval_overlap"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert not re.search(r"\(\d+\) BroadcastNestedLoopJoin", plan), plan
    assert not re.search(r"\(\d+\) CartesianProduct", plan)
    assert re.search(r"\(\d+\) (SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)


def test_debounce_gap_boundary_is_inclusive(spark):
    """A gap of EXACTLY gap_s does not break the burst (int() truncation
    of 0.3s used to split it one microsecond early)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from cassandra_fs_pp_spark.operators.dedup import debounce_keep_first

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("k", t0),
        ("k", t0 + dt.timedelta(microseconds=300_000)),   # exactly 0.3s
        ("k", t0 + dt.timedelta(microseconds=700_000)),   # 0.4s later > 0.3
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    kept = debounce_keep_first(df, ["k"], "ts", 0.3).collect()
    assert len(kept) == 2  # first burst absorbs the exact-gap event
    assert sorted(r["burst_n"] for r in kept) == [1, 2]


def test_salted_join_with_map_column(spark):
    from pyspark.sql import functions as F

    from cassandra_fs_pp_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(1, {"a": "b"}), (1, {"c": "d"}), (2, {"e": "f"})],
        "k long, attrs map<string,string>",
    )
    small = spark.createDataFrame([(1, "one"), (2, "two")], "k long, name string")
    out = salted_join(big, small, on=["k"]).collect()
    assert len(out) == 3
    assert {r["name"] for r in out} == {"one", "two"}


def test_validity_ranges_compose_not_overwrite(spark):
    from pyspark.sql import functions as F

    from cassandra_fs_pp_spark.operators.validity import null_out_of_range

    df = spark.createDataFrame(
        [(-20.0,), (-3.0,), (2.0,), (8.0,)], "TDR1_T double"
    )
    out = null_out_of_range(
        df, {"TDR_T": (-50.0, 10.0), "TDR1_T": (0.0, 5.0)}
    ).collect()
    vals = [r["TDR1_T"] for r in out]
    # intersection of both matching specs: only (0, 5) survives
    assert vals.count(None) == 3 and 2.0 in vals


def test_set_similarity_join_vs_bruteforce(spark):
    """Prefix-filter set-similarity join == brute-force all-pairs Jaccard
    on a random token corpus (and the prefix/length filters must not drop
    a single qualifying pair — the theorem's guarantee, checked end to end).
    """
    import itertools
    import random

    from pyspark.sql import functions as F

    from cassandra_fs_pp_spark.operators.textdedup import set_similarity_join

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(60)]
    docs = []
    for i in range(80):
        base = rng.sample(vocab, rng.randint(4, 20))
        docs.append((i, base))
        if i % 3 == 0:  # a near-dup: drop one token, add one
            mut = base[1:] + [rng.choice(vocab)]
            docs.append((1000 + i, mut))
    df = spark.createDataFrame(docs, "doc_id long, toks array<string>")

    t = 0.55
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_union"])
        for r in set_similarity_join(df, "doc_id", "toks", threshold=t).collect()
    }

    sets = {i: set(tk) for i, tk in docs}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and inter >= t * union:
            want[(a, b)] = (inter, union)
    assert got == want
    assert len(want) > 20  # the fixture actually exercises matches


def test_bloom_semi_join_exact_vs_plain_semi(spark):
    """Bloom pre-filter + semi join == plain semi join (false positives
    removed, no true key lost), including a tiny m_bits that FORCES
    false positives through the bloom stage."""
    from pyspark.sql import functions as F

    from cassandra_fs_pp_spark.operators.joins import bloom_semi_join

    big = spark.range(0, 20000).select(
        F.col("id"), (F.col("id") % 997).alias("v")
    )
    small = spark.range(0, 40).select((F.col("id") * 7 + 1).alias("key"))
    for m_bits in (64, 1 << 16):  # 64 bits ~ all-pass bloom
        got = {
            r["id"]
            for r in bloom_semi_join(
                big, small, "v", "key", m_bits=m_bits
            ).collect()
        }
        keys = {i * 7 + 1 for i in range(40)}
        want = {i for i in range(20000) if i % 997 in keys}
        assert got == want, m_bits


def test_kcore_vs_python_peeling(spark):
    """Distributed k-core peeling == Python reference peeling (the k-core
    is unique, so any peeling order converges to the same subgraph),
    on a graph with a clique, a chain that fully peels, and a ladder."""
    import random

    from cassandra_fs_pp_spark.operators.graph import k_core

    rng = random.Random(13)
    edges = set()
    for a in range(10):          # K10 clique: survives any k <= 9
        for b in range(a + 1, 10):
            edges.add((a, b))
    edges |= {(100 + i, 101 + i) for i in range(30)}   # chain: peels at k=2
    for i in range(40):          # random sparse tail
        a, b = rng.randrange(200, 260), rng.randrange(200, 260)
        if a != b:
            edges.add((min(a, b), max(a, b)))

    for k in (2, 3, 5):
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            changed = False
            for n in [n for n, nb in adj.items() if len(nb) < k]:
                for m in adj.pop(n):
                    adj[m].discard(n)
                changed = True
        want = {n: len(nb) for n, nb in adj.items()}

        df = spark.createDataFrame(sorted(edges), "src long, dst long")
        got = {
            r["node"]: r["core_degree"] for r in k_core(df, k=k).collect()
        }
        assert got == want, k


def test_bfs_levels_vs_python(spark):
    """Distributed frontier BFS == Python BFS (exact hop distances),
    on a graph with two components, a chain longer than max_hops (the
    cap must truncate, not mislabel), and multiple sources."""
    import collections
    import random

    from cassandra_fs_pp_spark.operators.graph import bfs_levels

    rng = random.Random(29)
    edges = {(100 + i, 101 + i) for i in range(20)}  # chain of 21 nodes
    for _ in range(60):  # random component
        a, b = rng.randrange(0, 40), rng.randrange(0, 40)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    sources = [0, 5, 100]
    max_hops = 6

    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = {s: 0 for s in sources if s in adj}
    frontier = list(want)
    for hop in range(1, max_hops + 1):
        nxt = []
        for n in frontier:
            for m in adj[n]:
                if m not in want:
                    want[m] = hop
                    nxt.append(m)
        frontier = nxt

    e = spark.createDataFrame(sorted(edges), "src long, dst long")
    s = spark.createDataFrame([(x,) for x in sources], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_levels(e, s, max_hops=max_hops).collect()
    }
    assert got == want
    assert max(want.values()) == max_hops  # the cap actually truncated


def test_containment_join_vs_bruteforce(spark):
    """A-side prefix-filtered containment join == brute-force directional
    containment on random token sets, including a small-doc-inside-
    big-doc case symmetric Jaccard would miss."""
    import itertools
    import random

    from cassandra_fs_pp_spark.operators.textdedup import containment_join

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(80)]
    docs = []
    for i in range(60):
        base = rng.sample(vocab, rng.randint(5, 25))
        docs.append((i, base))
        if i % 4 == 0:  # a contained fragment: first 80% of the tokens
            frag = base[: max(2, int(len(base) * 0.8))]
            docs.append((1000 + i, frag))
    df = spark.createDataFrame(docs, "doc_id long, toks array<string>")

    t = 0.8
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_inter"], r["n_a"])
        for r in containment_join(df, "doc_id", "toks", threshold=t).collect()
    }
    sets = {i: set(tk) for i, tk in docs}
    want = {}
    for a, b in itertools.permutations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if sets[a] and inter >= t * len(sets[a]):
            want[(a, b)] = (inter, len(sets[a]))
    assert got == want
    # fragments really are detected as contained in their source
    assert any(a >= 1000 and b == a - 1000 for a, b in want)


def test_calibration_group_mean_exact_and_partition_invariant(spark):
    """r12 exact-aggregate form of J1: matches the semantic
    join+avg within float tolerance, and — the property the operator
    exists for — is BIT-identical under repartitioning (a plain
    avg(double) is summation-order-dependent, so engine / partition /
    task order each move the last bits; the 8x sweep caught two
    round-6 ties from exactly that)."""
    from cassandra_fs_pp_spark.operators.joins import calibration_group_mean

    import random

    rng = random.Random(7)
    fact_rows = [
        (f"s{rng.randrange(8)}", rng.randrange(11) / 100.0) for _ in range(4000)
    ]
    # NULL raw rows (both on a hit and a miss sensor): avg(calibrated)
    # drops them from numerator AND denominator — the operator must too
    fact_rows += [("s0", None), ("s7", None), ("s7", None)]
    fact = spark.createDataFrame(fact_rows, "sensor_id string, raw double")
    calib = spark.createDataFrame(
        [(f"s{i}", round(rng.uniform(0.1, 9.9), 5), i / 10.0) for i in range(6)],
        "sensor_id string, m double, c double",
    )

    got = {
        r["sensor_id"]: (r["avg_cal"], r["n"])
        for r in calibration_group_mean(fact, calib).collect()
    }
    want = {
        r["sensor_id"]: (r["avg_cal"], r["n"])
        for r in calibration_join(fact, calib)
        .groupBy("sensor_id")
        .agg(F.avg("calibrated").alias("avg_cal"), F.count("calibrated").alias("n"))
        .collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert got[k][1] == want[k][1]
        assert got[k][0] == pytest.approx(want[k][0], rel=1e-9)

    # partition invariance: EXACT float equality, not approx
    a = calibration_group_mean(fact.repartition(1), calib).collect()
    b = calibration_group_mean(fact.repartition(13), calib).collect()
    assert {r["sensor_id"]: r["avg_cal"] for r in a} == {
        r["sensor_id"]: r["avg_cal"] for r in b
    }


def test_calibration_group_mean_matches_exact_rational_reference(spark):
    """The operator's docstring claims every intermediate is exact until
    ONE final IEEE expression per group. Verify against a pure-Python
    rational-arithmetic reference that replays the SAME algebra
    (Fraction sums, then the identical fixed IEEE op sequence) — so the
    claim is pinned by construction, not just by DuckDB agreement."""
    import random
    from fractions import Fraction

    from cassandra_fs_pp_spark.operators.joins import calibration_group_mean

    rng = random.Random(99)
    fact_rows = [
        (f"s{rng.randrange(10)}", rng.randrange(100) / 100.0)
        for _ in range(3000)
    ]
    calib_rows = [
        (f"s{i}", rng.randrange(1, 999999) / 100000.0, rng.randrange(50) / 10.0)
        for i in range(7)
    ]
    fact = spark.createDataFrame(fact_rows, "sensor_id string, raw double")
    calib = spark.createDataFrame(calib_rows, "sensor_id string, m double, c double")
    got = {
        r["sensor_id"]: (r["avg_cal"], r["n"])
        for r in calibration_group_mean(fact, calib).collect()
    }

    # reference: exact fixed-point means (DECIMAL(38,6) == Fraction on the
    # 6dp grid; inputs are 5dp/1dp so the cast is lossless), exact grid
    # sums, then the operator's IEEE sequence.  Spark's CAST(double AS
    # DECIMAL(38,k)) rounds the double's SHORTEST decimal representation
    # HALF_UP (java.math.RoundingMode.HALF_UP on BigDecimal(d.toString)),
    # NOT Python round()'s banker's half-even — emulate it exactly so a
    # product landing on a half-grid point pins the right tie rule.
    from decimal import ROUND_HALF_UP, Decimal

    def cast_dec(x: float, scale: int) -> Fraction:
        q = Decimal(1).scaleb(-scale)
        return Fraction(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

    cal = {s: (cast_dec(m, 6), cast_dec(c, 6)) for s, m, c in calib_rows}
    avg_m = float(sum(m for m, _ in cal.values())) / len(cal)
    avg_c = float(sum(c for _, c in cal.values())) / len(cal)
    groups: dict[str, list[float]] = {}
    for s, raw in fact_rows:
        groups.setdefault(s, []).append(raw)
    want = {}
    for s, raws in groups.items():
        if s in cal:
            m, c = cal[s]
            # per-row double product lands on the 7dp grid; the
            # DECIMAL(38,7) cast recovers the exact grid value
            s_hit = sum(
                cast_dec(float(m) * (1.0 - raw) + float(c), 7)
                for raw in raws
            )
            # the operator's fixed IEEE sequence with empty miss side
            avg = (float(s_hit) + avg_m * 0.0 + avg_c * 0) / len(raws)
        else:
            t = sum(cast_dec(1.0 - raw, 2) for raw in raws)
            avg = (0.0 + avg_m * float(t) + avg_c * len(raws)) / len(raws)
        want[s] = (avg, len(raws))
    assert set(got) == set(want)
    for s in want:
        assert got[s] == want[s], (s, got[s], want[s])
