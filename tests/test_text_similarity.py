"""Tests for text analysis, near-dup dedup, and similarity search."""

import pytest
from pyspark.sql import functions as F

from cassandra_fs_pp_spark.functions.text import (
    fingerprint,
    lang_id,
    quality_score,
    token_count_bpe,
    token_count_ws,
)
from cassandra_fs_pp_spark.operators.similarity import (
    block_matmul_topk,
    brute_force_topk,
    embedding_near_dups,
    ivf_adc_topk,
    ivf_pq_topk,
    ivf_topk,
    matryoshka_topk,
    semantic_decontaminate,
)
from cassandra_fs_pp_spark.operators.textdedup import (
    exact_dup_groups,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signatures_wide,
    simhash,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_token_counts_and_quality(spark):
    df = _docs(spark, ["Hello, world! This is a test."])
    row = df.select(
        token_count_ws(F.col("text")).alias("ws"),
        token_count_bpe(F.col("text")).alias("bpe"),
        quality_score(F.col("text")).alias("q"),
    ).collect()[0]
    assert row["ws"] == 6
    assert row["bpe"] == 9  # Hello , world ! This is a test .
    assert 0.0 <= row["q"] <= 1.0


def test_lang_id_heuristic(spark):
    df = _docs(
        spark,
        [
            "the cat sat on the mat and it is happy",
            "der hund und die katze ist nicht da",
            "le chat est dans la maison pour que",
            "xyzzy qwerty plugh",  # no stopword hits -> und
        ],
    )
    out = [r["l"] for r in df.select(lang_id(F.col("text")).alias("l")).collect()]
    assert out == ["en", "de", "fr", "und"]


def test_fingerprint_whitespace_invariant(spark):
    df = _docs(spark, ["a  b\tc", "A b C "])
    fps = [r["fp"] for r in df.select(fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_exact_dup_groups(spark):
    df = _docs(spark, ["same text here", "same  TEXT here", "unique one"])
    groups = exact_dup_groups(df).collect()
    assert len(groups) == 1
    assert groups[0]["n_docs"] == 2
    assert groups[0]["keep_id"] == 0


def test_minhash_lsh_finds_planted_near_dup(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = [
        base,
        base + " lambda",  # near-dup of 0
        "completely different words entirely unrelated content here now",
    ]
    df = _docs(spark, texts)
    sigs = minhash_signatures_wide(df, num_hashes=16)
    pairs = lsh_candidate_pairs(sigs, num_hashes=16, bands=8)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (0, 1) in got
    verified = jaccard_verify(df, pairs, threshold=0.8).collect()
    assert any(r["doc_a"] == 0 and r["doc_b"] == 1 for r in verified)
    jac = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in verified}
    assert jac[(0, 1)] == pytest.approx(10 / 11)


def test_simhash_near_dup_low_hamming(spark):
    base = " ".join(f"word{i}" for i in range(40))
    texts = [base, base + " extra", "zz yy xx ww vv uu tt ss rr qq"]
    df = _docs(spark, texts)
    sh = {r["doc_id"]: r["simhash"] for r in simhash(df, bits=32).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sh[0], sh[1]) < ham(sh[0], sh[2])
    assert ham(sh[0], sh[1]) <= 4


def test_brute_force_topk_and_ivf_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = brute_force_topk(emb, k=3).collect()
    approx = ivf_topk(emb, k=3, nprobe=3).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # embeddings are iid random -> cells don't cluster, so expected recall
    # is ~nprobe/ncells = 0.3; assert it's at least in that regime (the
    # operator's win on REAL clustered data is higher)
    assert recall >= 0.25
    # every query keeps exactly k ranked neighbors
    from collections import Counter

    per_q = Counter(r["query_id"] for r in exact)
    assert set(per_q.values()) == {3}


def test_cosine_null_on_zero_norm_vector(spark):
    """A zero-norm vector scores NULL (as the Arrow kernels and the DuckDB
    oracle do) under the session's ANSI mode instead of failing the
    query with DIVIDE_BY_ZERO, in the exact scores and in the IVF
    centroid probes; NULL ranks after every real cosine."""
    df = spark.createDataFrame(
        [(1, 0, [1.0, 0.0]), (2, 0, [0.0, 1.0]), (3, 0, [0.0, 0.0])],
        "vec_id long, label int, embedding array<double>",
    )
    want = [
        (1, 2, 0.0, 1), (1, 3, None, 2),
        (2, 1, 0.0, 1), (2, 3, None, 2),
        (3, 1, None, 1), (3, 2, None, 2),
    ]
    for out in (
        brute_force_topk(df, k=2),
        ivf_topk(df, k=2, nprobe=1),
        ivf_adc_topk(df, k=2, nprobe=1, fixed_queries=4),
        ivf_pq_topk(
            df, dim=2, m=1, ks=2, k=2, nprobe=1, fixed_queries=4,
            codebooks=[[[1.0, 0.0], [0.0, 1.0]]],
        ),
    ):
        got = sorted(
            (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in out.collect()
        )
        assert got == want
    # a NULL cosine fails the near-dup threshold ...
    got = embedding_near_dups(df, threshold=-1.0).collect()
    assert [(r["id_a"], r["id_b"], r["cosine"]) for r in got] == [(1, 2, 0.0)]
    # ... and ranks after every real eval match
    evalset = spark.createDataFrame(
        [(10, [0.0, 0.0]), (11, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    got = semantic_decontaminate(df, evalset, tau=0.5).collect()
    assert sorted(tuple(r) for r in got) == [
        (1, 11, 1.0, True), (2, 11, 0.0, False), (3, 10, None, None),
    ]


def test_blas_topk_ranks_zero_norm_last_like_brute_force(spark):
    """block_matmul_topk and matryoshka_topk normalise rows before their
    BLAS matmul; a zero-norm row scores NULL there too, so it ranks after
    every real cosine (and NULL ties break on neighbor_id), exactly as in
    brute_force_topk."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0]), (4, [-1.0, 0.2])],
        "vec_id long, embedding array<double>",
    )

    def ranks(out):
        return sorted((r["query_id"], r["neighbor_id"], r["rank"]) for r in out.collect())

    want = ranks(brute_force_topk(df, k=3))
    assert [(n, r) for q, n, r in want if q == 1] == [(2, 1), (3, 3), (4, 2)]
    assert ranks(block_matmul_topk(df, k=3, queries=df)) == want
    assert ranks(
        matryoshka_topk(df, k=3, coarse_k=3, prefix_dim=1, queries=df)
    ) == want


def test_embedding_near_dups_finds_identical(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
    shadow = emb.withColumn("vec_id", F.col("vec_id") + 1000)
    out = embedding_near_dups(emb.unionByName(shadow), threshold=0.999).collect()
    ids = {(r["id_a"], r["id_b"]) for r in out}
    # each vector pairs with its identical copy
    for r in emb.select("vec_id").collect():
        assert (r["vec_id"], r["vec_id"] + 1000) in ids


def test_winnow_fingerprints_local_edit_overlap(spark):
    """A small local edit preserves most winnowing fingerprints; disjoint
    texts share none."""
    from cassandra_fs_pp_spark.operators.textdedup import winnow_fingerprints

    base = "the quick brown fox jumps over the lazy dog again and again today"
    edited = base.replace("lazy", "hazy")
    other = "entirely different content with no shared substrings whatsoever"
    docs = spark.createDataFrame(
        [(1, base), (2, edited), (3, other)], "doc_id long, text string"
    )
    fps = winnow_fingerprints(docs, k=8, w=4)
    sets = {
        r["doc_id"]: set()
        for r in fps.select("doc_id").distinct().collect()
    }
    for r in fps.collect():
        sets[r["doc_id"]].add(r["fp"])
    inter12 = len(sets[1] & sets[2]) / len(sets[1] | sets[2])
    inter13 = len(sets[1] & sets[3]) / len(sets[1] | sets[3])
    assert inter12 > 0.5
    assert inter13 == 0.0


def test_lsh_topk_recall_vs_brute(spark):
    """Hyperplane-LSH top-k keeps reasonable recall@5 vs exact brute force
    on the test embeddings (clustered corpus -> bucket collisions)."""
    from cassandra_fs_pp_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )
    from cassandra_fs_pp_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(emb, k=5, bits=4, tables=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall > 0.5  # 8 tables x 4 bits: 1-(1-p^4)^8 on near-uniform data


def test_lsh_topk_exact_under_replication(spark):
    """Duplicate-collapse must be EXACT: on a corpus where every vector is
    replicated 8x (shifted ids — the scale probe's construction), each
    copy's true top-5 is the 5 smallest-id co-copies at cosine 1.0, which
    share every bucket, so lsh_topk must reproduce brute force verbatim
    including the (cos desc, id asc) tie-break through the k+1-truncated
    group expansion."""
    from pyspark.sql import functions as F

    from cassandra_fs_pp_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )
    from cassandra_fs_pp_spark.sources.tables import load_table

    base = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(60)
    rep = base
    for i in range(1, 8):
        rep = rep.unionByName(
            base.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10_000_000))
        )
    rep = rep.cache()
    brute = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk(rep, k=5).collect()
    }
    approx = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in lsh_topk(rep, k=5, bits=4, tables=8).collect()
    }
    assert approx == brute


def test_simhash_band_pairs_exact_recall(spark):
    """Pigeonhole guarantee: EVERY pair with hamming <= bands-1 is found
    by the banded search (constructed fingerprints, no hashing)."""
    import itertools

    from cassandra_fs_pp_spark.operators.textdedup import simhash_band_pairs

    base = 0b10110011_01011010_11110000_00001111
    rows = [(0, base)]
    # flip 1..3 bits -> must all be found; flip 8 spread bits -> not close
    rows.append((1, base ^ 0b1))                      # hamming 1
    rows.append((2, base ^ 0b110))                    # hamming 2
    rows.append((3, base ^ (1 << 31) ^ (1 << 15) ^ 1))  # hamming 3
    far = base
    for b in range(0, 32, 4):
        far ^= 1 << b                                  # hamming 8
    rows.append((4, far))
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_band_pairs(df, bits=32, bands=4, max_hamming=3).collect()
    }
    assert got[(0, 1)] == 1 and got[(0, 2)] == 2 and got[(0, 3)] == 3
    assert all(4 not in pair or p <= 3 for pair, p in got.items())
    assert (0, 4) not in got


def test_label_centroids_partition_invariant(spark):
    """The fixed-point reduction's whole point: values identical no matter
    how the rows are partitioned (float sums would differ in last ulps)."""
    from cassandra_fs_pp_spark.operators.similarity import (
        label_centroids,
        label_inertia,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = {
        (r.label, r.pos): r.centroid
        for r in label_centroids(emb.repartition(1)).collect()
    }
    b = {
        (r.label, r.pos): r.centroid
        for r in label_centroids(emb.repartition(17, "vec_id")).collect()
    }
    assert a == b  # exact ==, not approx: integer sums cannot differ
    ia = {r.label: r.inertia for r in label_inertia(emb.repartition(1)).collect()}
    ib = {
        r.label: r.inertia
        for r in label_inertia(emb.repartition(13, "label")).collect()
    }
    assert ia == ib
    # sanity: centroids of unit-ish vectors stay bounded, inertia positive
    assert all(abs(v) <= 1.0 for v in a.values())
    assert all(v > 0 for v in ia.values())


def test_block_matmul_topk_matches_brute_force(spark):
    """BLAS partial-top-k path returns the exact same neighbor ranking as
    the pair-explosion baseline (ranks are float-assoc stable here)."""
    from cassandra_fs_pp_spark.operators.similarity import (
        block_matmul_topk,
        brute_force_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in brute_force_topk(emb, k=5, queries=q).collect()
    }
    blocked = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in block_matmul_topk(emb, k=5, queries=q).collect()
    }
    assert blocked == exact
    assert len(blocked) == 20 * 5


# --------------------------------------------------------------------------- #
# adversarial skew: hot duplicate class (templated corpus)
# --------------------------------------------------------------------------- #


def _hot_corpus(spark, n_hot=1500, n_uniq=400):
    """n_hot IDENTICAL docs (one giant duplicate class -> every band bucket
    is hot) + n_uniq distinct docs."""
    hot = [(i, "the same templated boilerplate page body " * 4) for i in range(n_hot)]
    # token-DISJOINT unique docs (no shared vocabulary -> Jaccard 0 with
    # everything, so any candidate pair they join would be a real bug)
    uniq = [
        (n_hot + i, " ".join(f"tok{i}x{j}" for j in range(8)))
        for i in range(n_uniq)
    ]
    return spark.createDataFrame(hot + uniq, "doc_id long, text string").repartition(8)


def test_lsh_cluster_exact_on_hot_bucket(spark):
    """A templated corpus (1500-doc duplicate class) must cluster exactly:
    the bucket-min form ships (id, band_sig) rows — never pairs — so the
    hot bucket costs O(n) rows, not O(n^2).
    """
    from cassandra_fs_pp_spark.operators.textdedup import (
        lsh_cluster_wide,
        minhash_signatures_wide,
    )

    docs = _hot_corpus(spark)
    wide = minhash_signatures_wide(docs, num_hashes=16)
    out = lsh_cluster_wide(wide, num_hashes=16, bands=8).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 1900
    # every hot doc -> representative 0; doc 0 itself is not a dup
    assert not by_id[0]["is_dup"]
    for i in (1, 2, 750, 1499):
        assert by_id[i]["cluster_rep"] == 0 and by_id[i]["is_dup"]
    # unique docs are their own representative
    for i in (1500, 1899):
        assert by_id[i]["cluster_rep"] == i and not by_id[i]["is_dup"]


def test_lsh_candidate_pairs_exact_on_hot_bucket(spark):
    """The PAIR form on the same corpus is inherently quadratic in the hot
    class — kept correct (AQE splits the skewed bucket join) and exact:
    C(1500,2) pairs, every one inside the duplicate class."""
    docs = _hot_corpus(spark)
    sigs = minhash_signatures_wide(docs, num_hashes=16)
    pairs = lsh_candidate_pairs(sigs, num_hashes=16, bands=8)
    n_hot = 1500
    expected = n_hot * (n_hot - 1) // 2
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("doc_b").alias("max_b"),
    ).collect()[0]
    assert agg["n"] == expected, agg
    assert agg["max_b"] == n_hot - 1  # no cross-class false candidates


def test_kmeans_assign_partition_invariant(spark):
    """Lloyd assignments are identical at any parallelism: quantized
    integer distances + fixed-point means leave nothing order-dependent."""
    from cassandra_fs_pp_spark.operators.similarity import kmeans_assign
    from cassandra_fs_pp_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(emb, k=4, iterations=2).collect()
    }
    b = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(
            emb.repartition(7), k=4, iterations=2
        ).collect()
    }
    assert a == b and len(a) == emb.count()
    assert len(set(a.values())) > 1  # actually clusters, not one blob


def test_lm_familiarity_single_token_doc(spark, tmp_path):
    """A one-token document must be dropped (no bigrams), not crash.

    Regression for ADVICE r2: sequence(1, size-1) on a single-token doc
    produced the DESCENDING [1, 0] and element_at(ws, 0) threw at runtime."""
    import pandas as pd

    import __spark_entry__ as entrymod

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["solo", "alpha beta alpha beta", "alpha beta"],
        }
    )
    docs.to_parquet(str(tmp_path / "documents.parquet"))
    out = entrymod.text_lm_familiarity(spark, str(tmp_path))
    rows = {r["doc_id"]: r for r in out.collect()}
    assert 1 not in rows  # single-token doc contributes no bigrams
    assert rows[2]["n_bigrams"] == 3
    # 'alpha beta' occurs 3x corpus-wide, 'beta alpha' 1x
    assert rows[3]["n_bigrams"] == 1 and rows[3]["mean_bigram_freq"] == 3.0


def test_scalar_quantize_error_bound(spark):
    """Dequantized values stay within half a quantization step of the
    original, per dimension (the defining property of min/max scalar
    quantization); codes cover the full 0..255 range at the extremes."""
    from cassandra_fs_pp_spark.operators.similarity import scalar_quantize
    from cassandra_fs_pp_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    sq = scalar_quantize(emb).cache()
    ex = emb.select(
        F.col("vec_id"), F.posexplode("embedding").alias("pos0", "v")
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), F.col("v").cast("double").alias("v"))
    joined = sq.join(ex, ["vec_id", "pos"])
    stats = (
        ex.groupBy("pos")
        .agg(((F.max("v") - F.min("v")) / F.lit(510.0)).alias("half_step"))
    )
    bad = (
        joined.join(stats, "pos")
        .filter(F.abs(F.col("dq") - F.col("v")) > F.col("half_step") + F.lit(1e-12))
        .count()
    )
    assert bad == 0
    rng = sq.agg(F.min("code"), F.max("code")).collect()[0]
    assert rng[0] == 0 and rng[1] == 255


def test_adc_topk_recall_vs_brute(spark):
    """Quantization barely perturbs cosine ranking: ADC top-5 over the
    dequantized corpus keeps high recall vs full-precision brute force
    for the same query subset."""
    from cassandra_fs_pp_spark.operators.similarity import (
        adc_topk,
        brute_force_topk,
    )
    from cassandra_fs_pp_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()
    queries = emb.filter((F.col("vec_id") % 37) == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, k=5, queries=queries).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in adc_topk(emb, k=5).collect()
    }
    assert len(exact) == len(approx) > 0
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9


def test_ivf_adc_topk_recall(spark):
    """Composed IVF+ADC+rerank (VERDICT r10 item 4). Two recall gates:
    (a) vs ivf_topk at the SAME probes — isolates the quantization+rerank
    stages, which must be near-lossless (a true in-cell top-5 is lost
    only if ADC pushes it below position 20); (b) vs fp32 brute force —
    bounded by the coarse probe on iid data (~nprobe/ncells regime,
    same bound as test_brute_force_topk_and_ivf_recall)."""
    from cassandra_fs_pp_spark.operators.similarity import (
        brute_force_topk,
        ivf_adc_topk,
        ivf_topk,
    )
    from cassandra_fs_pp_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()
    composed = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_adc_topk(emb, k=5, nprobe=3, rerank=20).collect()
    }
    ivf_same_probe = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, k=5, nprobe=3).collect()
        if r["query_id"] % 37 == 0
    }
    assert len(ivf_same_probe) > 0
    rq = len(composed & ivf_same_probe) / len(ivf_same_probe)
    assert rq >= 0.9, f"quantization recall {rq:.2f}"

    queries = emb.filter((F.col("vec_id") % 37) == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, k=5, queries=queries).collect()
    }
    rb = len(composed & exact) / len(exact)
    assert rb >= 0.25, f"end-to-end recall {rb:.2f}"


def _kn_reference(rows, D=0.75):
    """Pure-Python interpolated Kneser-Ney bigram perplexity (the spec
    the Spark operator must reproduce bit-for-bit, including the
    nano-nat rounding and the away-from-zero tie rule Spark/DuckDB
    share — NOT Python's banker's round)."""
    import math
    from collections import Counter

    def round_away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    occ = []
    for doc_id, text in rows:
        t = text.strip().lower().split()
        for i in range(len(t) - 1):
            occ.append((doc_id, t[i], t[i + 1]))
    c12 = Counter((w1, w2) for _, w1, w2 in occ)
    c1, n1p_l, n1p_r = Counter(), Counter(), Counter()
    for (w1, w2), c in c12.items():
        c1[w1] += c
        n1p_l[w1] += 1
        n1p_r[w2] += 1
    t_types = len(c12)
    lp = {}
    for (w1, w2), c in c12.items():
        p = (float(c) - D) / float(c1[w1]) + (
            D * float(n1p_l[w1]) / float(c1[w1])
        ) * (float(n1p_r[w2]) / float(t_types))
        lp[(w1, w2)] = round_away(math.log(p) * 1e9)
    out = {}
    for doc_id, w1, w2 in occ:
        n, s = out.get(doc_id, (0, 0))
        out[doc_id] = (n + 1, s + lp[(w1, w2)])
    return {
        d: (n, -s, round(math.exp((-s / 1e9) / n), 6))
        for d, (n, s) in out.items()
    }


def test_kn_perplexity_vs_python_reference(spark):
    """VERDICT r10 item 5: the distributed KN computation must agree with
    a direct single-process implementation on every emitted value —
    counts exactly, nll to the nano-nat, ppl to 6 dp. Corpus chosen so
    repeated bigrams, shared contexts, rare continuations and a
    single-token doc (dropped) all occur; also checks the KN invariant
    that the continuation distribution sums to 1."""
    from cassandra_fs_pp_spark.functions.text import kn_perplexity

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat ate the fish"),
        (3, "a dog sat on a log"),
        (4, "the dog and the cat sat"),
        (5, "fish"),
        (6, "the cat sat on the mat the cat sat"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll_nano"], r["ppl"])
        for r in kn_perplexity(df, order=2).collect()
    }
    want = _kn_reference(rows)
    assert got == want
    assert 5 not in got  # single-token doc has no bigrams
    # probabilities are honest: every doc's ppl >= 1
    assert all(p >= 1.0 for _, _, p in got.values())


def test_shuffle_shard_deterministic_and_balanced(spark):
    """Shard assignment is partition-invariant (hash-keyed, no RNG) and
    roughly balanced; shard_pos is a dense 1..n_s sequence per shard."""
    from cassandra_fs_pp_spark.functions.curation import shuffle_shard
    from cassandra_fs_pp_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = {r["doc_id"]: (r["shard"], r["shard_pos"])
         for r in shuffle_shard(docs, "doc_id", shards=8).collect()}
    b = {r["doc_id"]: (r["shard"], r["shard_pos"])
         for r in shuffle_shard(docs.repartition(13), "doc_id", shards=8).collect()}
    assert a == b
    n = len(a)
    sizes = {}
    for shard, pos in a.values():
        sizes[shard] = max(sizes.get(shard, 0), pos)
    assert sum(sizes.values()) == n  # dense per-shard positions
    assert len(sizes) == 8
    assert max(sizes.values()) < 2 * n / 8  # no hot shard


def test_semantic_dedup_identical_vectors_collapse(spark):
    from cassandra_fs_pp_spark.operators.similarity import semantic_dedup

    v = [0.5, -0.25, 0.125, 1.0]
    rows = [(1, v), (2, v), (3, [-x for x in v])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in semantic_dedup(df, bits=6, dim=4).collect()}
    assert out[1]["bucket"] == out[2]["bucket"]
    assert out[2]["is_dup"] and out[2]["rep_id"] == 1
    assert not out[1]["is_dup"]
    # the antipodal vector flips every sign bit -> complementary bucket
    assert out[3]["bucket"] == (2**6 - 1) ^ out[1]["bucket"]


def test_matryoshka_topk_recall_vs_exact(spark):
    """Coarse-prefix prune then exact rerank. The synthetic corpus is
    ISOTROPIC (no MRL training), so the prefix carries only prefix/dim of
    the signal — the worst case for this op; 0.8+ recall here means real
    Matryoshka-trained embeddings (energy front-loaded) would be ~1.0.
    With coarse_k = corpus size the answer is identical to exact."""
    from cassandra_fs_pp_spark.operators.similarity import (
        block_matmul_topk,
        matryoshka_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in block_matmul_topk(emb, k=5, queries=q).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in matryoshka_topk(
            emb, k=5, coarse_k=64, prefix_dim=32, queries=q
        ).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, f"matryoshka recall {recall:.2f}"

    n = emb.count()
    full = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in matryoshka_topk(
            emb, k=5, coarse_k=n, prefix_dim=32, queries=q
        ).collect()
    }
    exact_ranked = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in block_matmul_topk(emb, k=5, queries=q).collect()
    }
    assert full == exact_ranked


def test_verbatim_spans_planted_repeats(spark):
    """Planted-repeat differential for verbatim_spans (Lee et al.
    shape): a 12-token passage shared by two docs at DIFFERENT token
    offsets (arbitrary alignment — invisible to fixed-chunk
    dedup_spans), plus a within-doc repeat, plus a unique doc that must
    emit nothing. Expected spans computed by hand."""
    from cassandra_fs_pp_spark.operators.textdedup import verbatim_spans

    passage = "the quick brown fox jumps over the lazy dog near riverbank tonight"
    docs = spark.createDataFrame(
        [
            # passage at offset 0 (12 tokens), then 10 unique tokens
            (1, passage + " alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
            # 3 unique lead tokens, passage at offset 3
            (2, "kilo lima mike " + passage + " november oscar papa"),
            # within-doc repeat: 9-token phrase twice, separated by noise
            (3, "one two three four five six seven eight nine zulu yankee xray "
                "one two three four five six seven eight nine"),
            (4, "completely unique words without any repeated shingles at all "
                "whiskey victor uniform tango sierra romeo quebec"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["span_start"]): (r["span_end"], r["n_tokens"])
        for r in verbatim_spans(docs, k=8).collect()
    }
    # doc 1: passage tokens 0..11  -> span (0, 11), 12 tokens
    # doc 2: passage tokens 3..14  -> span (3, 14), 12 tokens
    # doc 3: phrase tokens 0..8 and 12..20 -> two 9-token spans
    assert rows == {
        (1, 0): (11, 12),
        (2, 3): (14, 12),
        (3, 0): (8, 9),
        (3, 12): (20, 9),
    }


def test_suffix_chain_spans_planted(spark):
    """suffix_chain_spans on the verbatim-test corpus: the canonical
    (first-occurrence) sites emit nothing; later occurrences emit
    lockstep spans attributed to the canonical site."""
    from cassandra_fs_pp_spark.operators.textdedup import suffix_chain_spans

    passage = "the quick brown fox jumps over the lazy dog near riverbank tonight"
    docs = spark.createDataFrame(
        [
            (1, passage + " alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
            (2, "kilo lima mike " + passage + " november oscar papa"),
            (3, "one two three four five six seven eight nine zulu yankee xray "
                "one two three four five six seven eight nine"),
            (4, "completely unique words without any repeated shingles at all "
                "whiskey victor uniform tango sierra romeo quebec"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["span_start"]): (
            r["span_end"], r["n_tokens"], r["src_doc"], r["src_start"]
        )
        for r in suffix_chain_spans(docs, k=8).collect()
    }
    # doc 1 holds every canonical site -> silent; doc 2's passage chains
    # against doc 1 offset 0; doc 3's second phrase occurrence chains
    # against its own first occurrence.
    assert rows == {
        (2, 3): (14, 12, 1, 0),
        (3, 12): (20, 9, 3, 0),
    }


def test_suffix_chain_spans_fragments_chimera(spark):
    """The case that distinguishes the chain form from verbatim_spans:
    doc 5 = 'p q r s t' is covered by duplicated 3-shingles throughout
    (verbatim_spans would merge it into ONE 5-token span that occurs
    nowhere else as a whole), but its shingles canonicalize to two
    different sources — the chain form splits at the source switch and
    every emitted span genuinely occurs at its (src_doc, src_start)."""
    from cassandra_fs_pp_spark.operators.textdedup import (
        suffix_chain_spans,
        verbatim_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "p q r s x1 x2"),
            (2, "y1 q r s t"),
            (5, "p q r s t"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["span_start"]): (
            r["span_end"], r["n_tokens"], r["src_doc"], r["src_start"]
        )
        for r in suffix_chain_spans(docs, k=3).collect()
    }
    assert rows == {
        (2, 1): (3, 3, 1, 1),   # "q r s" vs doc1[1:3]
        (5, 0): (3, 4, 1, 0),   # "p q r s" vs doc1[0:3]
        (5, 2): (4, 3, 2, 2),   # "r s t" vs doc2[2:4]
    }
    # and the run-merge form indeed reports the 5-token chimera
    vs = {
        (r["doc_id"], r["span_start"]): r["n_tokens"]
        for r in verbatim_spans(docs, k=3).collect()
    }
    assert vs[(5, 0)] == 5


def test_suffix_chain_spans_verbatim_equality_sf0001(spark):
    """Every span emitted on the sf0.001 documents table must satisfy
    the operator's contract: the span's tokens equal the source site's
    tokens, and the span lies inside some verbatim_spans run of the
    same doc (chain spans are a refinement of shingle coverage)."""
    import re as _re

    from cassandra_fs_pp_spark.operators.textdedup import (
        suffix_chain_spans,
        verbatim_spans,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = {
        r["doc_id"]: [
            w for w in _re.split(r"\s+", r["text"].strip().lower()) if w
        ]
        for r in docs.select("doc_id", "text").collect()
    }
    spans = suffix_chain_spans(docs, k=8).collect()
    assert spans, "sf0.001 documents contain planted repeats"
    cover = {}
    for r in verbatim_spans(docs, k=8).collect():
        cover.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
    for r in spans:
        a = toks[r["doc_id"]][r["span_start"]: r["span_end"] + 1]
        b = toks[r["src_doc"]][r["src_start"]: r["src_start"] + r["n_tokens"]]
        assert a == b and len(a) == r["n_tokens"], r
        assert any(
            s <= r["span_start"] and r["span_end"] <= e
            for s, e in cover.get(r["doc_id"], [])
        ), r


def test_verbatim_spans_no_pair_explosion_plan(spark):
    """The verbatim-span plan must contain no cartesian/nested-loop
    join: positions rejoin the duplicated-shingle set via an equi join
    on the shingle key only (O(total shingles) shuffle)."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["dedup_verbatim_spans"](
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_strip_verbatim_planted(spark):
    """strip_verbatim keep-first semantics on a planted corpus: the
    first occurrence (lowest doc_id, pos) keeps the passage, later
    occurrences lose exactly the covered tokens; untouched docs pass
    through with n_dropped=0."""
    from cassandra_fs_pp_spark.operators.textdedup import strip_verbatim

    passage = "the quick brown fox jumps over the lazy dog near riverbank tonight"
    docs = spark.createDataFrame(
        [
            (1, passage + " alpha bravo"),
            (2, "kilo lima mike " + passage),
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_dropped"])
        for r in strip_verbatim(docs, k=8).collect()
    }
    assert rows[1] == (passage + " alpha bravo", 14, 0)
    assert rows[2] == ("kilo lima mike", 15, 12)
    assert rows[3] == ("short doc", 2, 0)


def test_strip_verbatim_invariants_corpus(spark):
    """On the real corpus: every doc appears exactly once; docs with
    n_dropped=0 round-trip to the normalized original; n_dropped
    totals equal the dedup_verbatim_spans keep-first coverage (spans
    found minus first-occurrence keeps)."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = entrymod.queries()["dedup_strip_verbatim"](spark, sf)
    assert out.count() == docs.count()
    joined = out.join(docs, "doc_id").select(
        "doc_id",
        "clean_text",
        "n_dropped",
        F.concat_ws(
            " ", F.split(F.lower(F.trim("text")), r"\s+")
        ).alias("norm_text"),
    )
    bad = joined.filter(
        (F.col("n_dropped") == 0) & (F.col("clean_text") != F.col("norm_text"))
    ).count()
    assert bad == 0
    # at least one doc in the corpus loses tokens (the corpus has
    # boilerplate repeats — dedup_spans/dedup_verbatim_spans find them)
    assert out.filter(F.col("n_dropped") > 0).count() >= 1


def _kn3_reference(rows, D=0.75):
    """Pure-Python interpolated trigram Kneser-Ney with continuation-count
    backoff (Chen-Goodman) — the spec kn_perplexity(order=3) must reproduce
    bit-for-bit, including nano-nat rounding with the away-from-zero tie
    rule both engines share."""
    import math
    from collections import Counter

    def round_away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    occ = []
    for doc_id, text in rows:
        t = text.strip().lower().split()
        for i in range(len(t) - 2):
            occ.append((doc_id, t[i], t[i + 1], t[i + 2]))
    c123 = Counter((w1, w2, w3) for _, w1, w2, w3 in occ)
    c12dot, n3d = Counter(), Counter()
    cont23 = Counter()  # N1+(.w2w3): distinct w1 per (w2,w3)
    for (w1, w2, w3), c in c123.items():
        c12dot[(w1, w2)] += c
        n3d[(w1, w2)] += 1
        cont23[(w2, w3)] += 1
    n1p2dot, ndw3, n1p3 = Counter(), Counter(), Counter()
    for (w2, w3), c in cont23.items():
        n1p2dot[w2] += c
        ndw3[w2] += 1
        n1p3[w3] += 1
    t2 = len(cont23)
    lp = {}
    for (w1, w2, w3), c in c123.items():
        p2 = (float(cont23[(w2, w3)]) - D) / float(n1p2dot[w2]) + (
            D * float(ndw3[w2]) / float(n1p2dot[w2])
        ) * (float(n1p3[w3]) / float(t2))
        p = (float(c) - D) / float(c12dot[(w1, w2)]) + (
            D * float(n3d[(w1, w2)]) / float(c12dot[(w1, w2)])
        ) * p2
        lp[(w1, w2, w3)] = round_away(math.log(p) * 1e9)
    out = {}
    for doc_id, w1, w2, w3 in occ:
        n, s = out.get(doc_id, (0, 0))
        out[doc_id] = (n + 1, s + lp[(w1, w2, w3)])
    return {
        d: (n, -s, round(math.exp((-s / 1e9) / n), 6))
        for d, (n, s) in out.items()
    }


def test_kn3_perplexity_vs_python_reference(spark):
    """VERDICT r11 item 4: the distributed trigram-KN computation must
    agree with a direct single-process implementation on every emitted
    value — counts exactly, nll to the nano-nat, ppl to 6 dp. Corpus
    exercises repeated trigrams, shared (w1,w2) and w2 contexts, rare
    continuations, and sub-trigram docs (dropped). Also checks each
    backoff level's normalization: the continuation distributions sum
    to 1."""
    from cassandra_fs_pp_spark.functions.text import kn_perplexity

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the log again"),
        (3, "a dog sat on a log"),
        (4, "the dog and the cat sat on a mat"),
        (5, "fish and chips"),
        (6, "too short"),
        (7, "the cat sat on the mat the cat sat on the mat"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_trigrams"], r["nll_nano"], r["ppl"])
        for r in kn_perplexity(df, order=3).collect()
    }
    want = _kn3_reference(rows)
    assert got == want
    assert 6 not in got  # 2-token doc has no trigrams
    assert all(p >= 1.0 for _, _, p in got.values())

    # normalization sanity on the reference model: P1 sums to 1 and, for
    # one observed w2 context, P2 over its OBSERVED continuations stays
    # strictly inside (0, 1] (mass is reserved for unseen w3)
    import math
    from collections import Counter

    occ = []
    for _, text in rows:
        t = text.strip().lower().split()
        for i in range(len(t) - 2):
            occ.append((t[i], t[i + 1], t[i + 2]))
    cont23 = Counter()
    c123 = Counter(occ)
    for (w1, w2, w3), _ in c123.items():
        cont23[(w2, w3)] += 1
    n1p3 = Counter()
    for (w2, w3), _ in cont23.items():
        n1p3[w3] += 1
    assert sum(n1p3.values()) == len(cont23)  # P1 sums to exactly 1


def test_ivf_pq_topk_recall_and_codebooks(spark):
    """IVF-PQ (r13, VERDICT r12 item 5). Gates: (a) codebook geometry —
    m codebooks of ks centroids, each dsub wide; (b) quantization+rerank
    recall vs ivf_topk at the SAME probes must be near-lossless (a true
    in-cell top-5 is lost only if the PQ ADC pushes it below the rerank
    horizon); (c) end-to-end recall vs fp32 brute force, bounded by the
    coarse probe on iid data (same bound as the SQ8 composition)."""
    from cassandra_fs_pp_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk,
        ivf_topk,
        pq_train_codebooks,
    )
    from cassandra_fs_pp_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").cache()
    cb = pq_train_codebooks(emb, m=8, ks=8, iterations=2)
    assert len(cb) == 8
    assert all(len(book) == 8 for book in cb)
    assert all(len(cent) == 8 for book in cb for cent in book)
    # trained centroids moved off the raw init vectors (k-means did work)
    first8 = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).collect()
    }
    assert any(
        cb[j][c] != first8[c][j * 8 : (j + 1) * 8]
        for j in range(8)
        for c in range(8)
    )

    composed = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_pq_topk(emb, m=8, ks=8, k=5, nprobe=3, rerank=40).collect()
    }
    ivf_same_probe = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, k=5, nprobe=3).collect()
        if r["query_id"] % 37 == 0
    }
    assert len(ivf_same_probe) > 0
    rq = len(composed & ivf_same_probe) / len(ivf_same_probe)
    assert rq >= 0.85, f"PQ quantization recall {rq:.2f}"

    queries = emb.filter((F.col("vec_id") % 37) == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, k=5, queries=queries).collect()
    }
    rb = len(composed & exact) / len(exact)
    assert rb >= 0.25, f"end-to-end recall {rb:.2f}"
    # session-global cache hygiene: a live InMemoryRelation over this
    # parquet would swallow other tests' pushed-filter plan assertions
    emb.unpersist()


def _kn5_reference(rows, D=0.75):
    """Pure-Python interpolated 5-gram Kneser-Ney with FULL recursive
    continuation-count backoff (orders 5->4->3->2->1, Chen-Goodman) —
    the spec kn_perplexity(order=5) must reproduce bit-for-bit, including
    nano-nat rounding with the away-from-zero tie rule both engines
    share."""
    import math
    from collections import Counter

    def round_away(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    occ = []
    for doc_id, text in rows:
        t = text.strip().lower().split()
        for i in range(len(t) - 4):
            occ.append((doc_id, tuple(t[i : i + 5])))
    c5 = Counter(g for _, g in occ)
    s5, n5d = Counter(), Counter()
    cont2345 = Counter()  # N1+(.w2w3w4w5): distinct w1 per suffix
    for g, c in c5.items():
        s5[g[:4]] += c
        n5d[g[:4]] += 1
        cont2345[g[1:]] += 1
    s4, n4d, cont345 = Counter(), Counter(), Counter()
    for g, c in cont2345.items():
        s4[g[:3]] += c
        n4d[g[:3]] += 1
        cont345[g[1:]] += 1
    s3, n3d, cont45 = Counter(), Counter(), Counter()
    for g, c in cont345.items():
        s3[g[:2]] += c
        n3d[g[:2]] += 1
        cont45[g[1:]] += 1
    s2, n2d, cont5 = Counter(), Counter(), Counter()
    for g, c in cont45.items():
        s2[g[:1]] += c
        n2d[g[:1]] += 1
        cont5[g[1:]] += 1
    t2 = len(cont45)
    lp = {}
    for g, c in c5.items():
        w2345, w345, w45, w5 = g[1:], g[2:], g[3:], g[4:]
        p1 = float(cont5[w5]) / float(t2)
        p2 = (float(cont45[w45]) - D) / float(s2[g[3:4]]) + (
            D * float(n2d[g[3:4]]) / float(s2[g[3:4]])
        ) * p1
        p3 = (float(cont345[w345]) - D) / float(s3[g[2:4]]) + (
            D * float(n3d[g[2:4]]) / float(s3[g[2:4]])
        ) * p2
        p4 = (float(cont2345[w2345]) - D) / float(s4[g[1:4]]) + (
            D * float(n4d[g[1:4]]) / float(s4[g[1:4]])
        ) * p3
        p5 = (float(c) - D) / float(s5[g[:4]]) + (
            D * float(n5d[g[:4]]) / float(s5[g[:4]])
        ) * p4
        lp[g] = round_away(math.log(p5) * 1e9)
    out = {}
    for doc_id, g in occ:
        n, s = out.get(doc_id, (0, 0))
        out[doc_id] = (n + 1, s + lp[g])
    return {
        d: (n, -s, round(math.exp((-s / 1e9) / n), 6))
        for d, (n, s) in out.items()
    }


def test_kn5_perplexity_vs_python_reference(spark):
    """r13 (VERDICT r12 item 6): the distributed 5-gram-KN computation
    must agree with a direct single-process implementation on every
    emitted value — counts exactly, nll to the nano-nat, ppl to 6 dp.
    Corpus exercises repeated 5-grams, shared contexts at every backoff
    order, and sub-5-gram docs (dropped)."""
    from cassandra_fs_pp_spark.functions.text import kn_perplexity

    rows = [
        (1, "the cat sat on the mat by the door"),
        (2, "the cat sat on the log by the fire again"),
        (3, "a dog sat on a log by the fire"),
        (4, "the dog and the cat sat on a mat by the door"),
        (5, "fish and chips by the sea"),
        (6, "too short for five"),
        (7, "the cat sat on the mat the cat sat on the mat"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_5grams"], r["nll_nano"], r["ppl"])
        for r in kn_perplexity(df, order=5).collect()
    }
    want = _kn5_reference(rows)
    assert got == want
    # doc 6 has only 4 tokens: must drop out of both sides
    assert 6 not in got


def _bpe_reference(texts, merges=8):
    """Pure-Python BPE merge training (Sennrich 2016): weighted pair
    counts over the word-frequency table, greedy left-to-right
    non-overlapping merge application, ties (count desc, lhs, rhs)."""
    from collections import Counter

    vocab = Counter()
    for t in texts:
        for w in t.strip().lower().split():
            if w and "(" not in w and ")" not in w:
                vocab[tuple(w)] += 1
    rules = []
    for rnd in range(1, merges + 1):
        pairs = Counter()
        for syms, freq in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += freq
        if not pairs:
            break
        (a, b), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        rules.append((rnd, a, b, a + b, cnt))
        nxt = Counter()
        for syms, freq in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[tuple(out)] += freq
        vocab = nxt
    return rules


def _bpe_reference_counts(texts, merges=8):
    """Per-doc (n_words, n_chars, n_bpe_tokens) of the pure-Python
    sequential BPE: replay training with :func:`_bpe_reference`, then
    greedy-apply each rule in learned order to every word."""
    rules = _bpe_reference(texts, merges=merges)

    def apply(word):
        syms = list(word)
        for _, a, b, m, _ in rules:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(m)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    want = {}
    for i, t in enumerate(texts):
        ws = [w for w in t.strip().lower().split() if w]
        want[i] = (
            len(ws),
            sum(len(w) for w in ws),
            sum(apply(w) for w in ws),
        )
    return want


def test_bpe_train_merges_vs_python_reference(spark):
    """r13: the distributed BPE trainer must reproduce the classic
    single-process algorithm rule-for-rule — including the greedy
    left-to-right merge on runs (aaaa -> aa aa, aaa -> aa a), weighted
    tie-breaks, and merges that chain across rounds."""
    from cassandra_fs_pp_spark.functions.text import bpe_train_merges

    texts = [
        "low low low low low",
        "lower lower newest newest newest newest newest newest",
        "widest widest widest",
        "aaaa aaa banana bandana",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r["round"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in bpe_train_merges(df, merges=8)
        .orderBy("round")
        .collect()
    ]
    assert got == _bpe_reference(texts, merges=8)
    # the run semantics specifically: 'aaaa' must contribute floor(n/2)
    # pairs after an (a,a) merge, not n-1 — i.e. greedy non-overlap
    got2 = [
        (r["round"], r["merged"])
        for r in bpe_train_merges(
            spark.createDataFrame([(0, "aaaa aaa aa")], "doc_id long, text string"),
            merges=2,
        ).orderBy("round").collect()
    ]
    assert got2 == [
        (r, m)
        for r, _, _, m, _ in _bpe_reference(["aaaa aaa aa"], merges=2)
    ]


def test_bpe_batched_batch1_equals_sequential(spark):
    """r15 (VERDICT r14 item 5): with batch=1 the batched trainer's
    disjointness rule degenerates to the plain argmax, so it must emit
    rule-for-rule the classic sequential single-process algorithm's
    output (the pure-Python reference)."""
    from cassandra_fs_pp_spark.functions.text import bpe_train_merges_batched

    texts = [
        "low low low low low",
        "lower lower newest newest newest newest newest newest",
        "widest widest widest",
        "aaaa aaa banana bandana",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    bat = [
        (r["round"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in bpe_train_merges_batched(df, rounds=6, batch=1)
        .orderBy("round")
        .collect()
    ]
    assert bat == _bpe_reference(texts, merges=6)


def test_sym_capped_top_matches_window_form(spark):
    """The trainer's driver-side pool (_pair_pool's per-symbol counter
    scan over the ordered pair table) must select EXACTLY the rows the
    two per-symbol row_number windows of the SQL form select — on a
    hot-symbol flood, on a random pair table, and when the cap leaves
    fewer survivors than wanted (whole-table exhaustion)."""
    import random

    from pyspark.sql import Window

    from cassandra_fs_pp_spark.functions.text import _pair_pool

    def window_form(cnts, want, cap):
        order = (F.desc("cnt"), F.asc("a"), F.asc("b"))
        capped = (
            cnts.withColumn(
                "__ra",
                F.row_number().over(Window.partitionBy("a").orderBy(*order)),
            )
            .withColumn(
                "__rb",
                F.row_number().over(Window.partitionBy("b").orderBy(*order)),
            )
            .where((F.col("__ra") <= cap) & (F.col("__rb") <= cap))
            .drop("__ra", "__rb")
        )
        return capped.orderBy(*order).limit(want).collect()

    rng = random.Random(18)
    # flood: one hot left symbol owns the 600 highest counts, so all but
    # `cap` of them must be skipped before the tail enters the pool
    flood = [("h", f"r{i:04d}", 10_000 - i) for i in range(600)]
    tail = [(f"a{i:03d}", f"b{i:03d}", 100 - (i % 7)) for i in range(80)]
    rnd_rows = [
        (f"s{rng.randrange(12)}", f"t{rng.randrange(12)}", rng.randrange(1, 50))
        for _ in range(300)
    ]
    for rows, want, cap in [
        (flood + tail, 16, 2),
        (rnd_rows, 24, 3),
        (tail, 200, 1),  # want > survivors: whole-table exhaustion
    ]:
        # (a, b) must be unique (the trainer's pair count guarantees it)
        uniq = {}
        for a, b, c in rows:
            uniq[(a, b)] = c
        cnts = spark.createDataFrame(
            [(a, b, c) for (a, b), c in uniq.items()],
            "a string, b string, cnt long",
        )
        want_rows = [
            (r["a"], r["b"], r["cnt"]) for r in window_form(cnts, want, cap)
        ]
        assert _pair_pool(uniq, want, cap) == want_rows, (want, cap)


def test_bpe_batched_selected_rules_disjoint(spark):
    """Any two rules selected in the SAME round must share no symbol
    (the property that makes the batch exact); rank-1 is always
    selected; applying the batched rules leaves a vocabulary whose
    next-round counts equal a sequential re-count (implicitly covered
    by the oracle replay; here we pin the in-round invariants)."""
    from cassandra_fs_pp_spark.functions.text import bpe_train_merges_batched

    texts = [
        "aa bb aa bb cc dd cc dd ee ff",
        "aa bb cc dd ee ff gg hh",
        "xy xy xy za za zb zb",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = bpe_train_merges_batched(df, rounds=3, batch=6).collect()
    by_round: dict[int, list] = {}
    for r in rows:
        by_round.setdefault(r["round"], []).append(r)
    for rnd, rs in by_round.items():
        assert any(r["rnk"] == 1 for r in rs), (rnd, rs)
        for i, a in enumerate(rs):
            for b in rs[i + 1 :]:
                assert not (
                    {a["lhs"], a["rhs"]} & {b["lhs"], b["rhs"]}
                ), (a, b)


def test_bpe_batched_greedy_fills_past_conservative(spark):
    """r16 (VERDICT r15 item 3): the greedy maximal-disjoint rule must
    select a candidate that conflicts only with UNSELECTED
    higher-ranked pairs — the case the r15 conservative rule
    (disjoint-from-any-higher-ranked-candidate) always rejected.
    Pair counts by construction: (a,b)=5 > (a,c)=4 > (b,d)=3 >
    (c,e)=2 > (x,y)=1. Greedy: select (a,b); skip (a,c),(b,d)
    (conflict with the SELECTED (a,b)); select (c,e) — c appears in
    the higher-ranked but unselected (a,c), so the conservative rule
    would have rejected it; select (x,y)."""
    from cassandra_fs_pp_spark.functions.text import bpe_train_merges_batched

    words = ["ab"] * 5 + ["ac"] * 4 + ["bd"] * 3 + ["ce"] * 2 + ["xy"]
    df = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    )
    rows = sorted(
        bpe_train_merges_batched(df, rounds=1, batch=8, topk=8).collect(),
        key=lambda r: r["rnk"],
    )
    got = [(r["rnk"], r["lhs"], r["rhs"], r["pair_count"]) for r in rows]
    assert got == [(1, "a", "b", 5), (4, "c", "e", 2), (5, "x", "y", 1)], got


def test_bpe_batched_batch_cap_respected(spark):
    """The greedy scan stops at ``batch`` selections even when more
    disjoint candidates remain in the pool."""
    from cassandra_fs_pp_spark.functions.text import bpe_train_merges_batched

    words = ["ab"] * 4 + ["cd"] * 3 + ["ef"] * 2 + ["gh"]
    df = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    )
    rows = bpe_train_merges_batched(df, rounds=1, batch=2, topk=8).collect()
    got = sorted((r["lhs"], r["rhs"]) for r in rows)
    assert got == [("a", "b"), ("c", "d")], got


def test_bpe_sym_cap_batch1_equals_sequential(spark):
    """r17 (VERDICT r16 item 4): the symbol-diversity pool cap must not
    disturb batch=1 parity for ANY cap >= 1 — the global rank-1 pair is
    rank-1 within both of its symbol groups (same order), so it always
    survives the cap and the greedy degenerates to the plain argmax,
    i.e. the pure-Python sequential reference."""
    from cassandra_fs_pp_spark.functions.text import bpe_train_merges_batched

    texts = [
        "low low low low low",
        "lower lower newest newest newest newest newest newest",
        "widest widest widest",
        "aaaa aaa banana bandana",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    seq = _bpe_reference(texts, merges=6)
    for cap in (1, 4):
        bat = [
            (r["round"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
            for r in bpe_train_merges_batched(
                df, rounds=6, batch=1, sym_cap=cap
            )
            .orderBy("round")
            .collect()
        ]
        assert bat == seq, cap


def test_bpe_sym_cap_diversifies_pool(spark):
    """r17 (VERDICT r16 item 4 — the fill plateau): a hot symbol that
    floods the top-``topk`` pool starves the greedy scan (it can select
    at most one pair per symbol), capping fill regardless of ``batch``.
    Corpus by construction: 'a' appears in the 5 highest-count pairs,
    disjoint low-count pairs (x,y) and (p,q) sit below them. With
    topk=5 and no cap the pool is all-'a' pairs -> greedy selects ONE
    rule; with sym_cap=2 the a-group contributes only its top 2, the
    disjoint pairs enter the pool, and greedy fills three rules — the
    global argmax (a,b) still selected first in both."""
    from cassandra_fs_pp_spark.functions.text import bpe_train_merges_batched

    words = (
        ["ab"] * 10 + ["ac"] * 9 + ["ad"] * 8 + ["ae"] * 7 + ["af"] * 6
        + ["xy"] * 2 + ["pq"]
    )
    df = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    )
    flooded = bpe_train_merges_batched(
        df, rounds=1, batch=8, topk=5
    ).collect()
    assert sorted((r["lhs"], r["rhs"]) for r in flooded) == [("a", "b")]

    capped = sorted(
        bpe_train_merges_batched(
            df, rounds=1, batch=8, topk=5, sym_cap=2
        ).collect(),
        key=lambda r: r["rnk"],
    )
    got = [(r["rnk"], r["lhs"], r["rhs"], r["pair_count"]) for r in capped]
    assert got == [(1, "a", "b", 10), (3, "x", "y", 2), (4, "p", "q", 1)], got


def test_bpe_pipeline_batch1_equals_sequential_tokenize(spark):
    """The composed train+apply pipeline at batch=1 must equal the
    sequential algorithm end-to-end: train with the pure-Python
    reference, then greedy-apply each learned rule in order to every
    word (``_bpe_reference_counts``), bit-for-bit per document."""
    from cassandra_fs_pp_spark.functions.text import (
        bpe_tokenize_counts_trie,
        bpe_train_merges_batched,
    )

    texts = [
        "low low low lower lowest",
        "newest newest new news",
        "aaaa aaa aa a",
        "banana bandana cabana",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rules = [
        (r["lhs"], r["rhs"], r["merged"])
        for r in bpe_train_merges_batched(df, rounds=6, batch=1)
        .orderBy("round", "rnk")
        .collect()
    ]
    rows = bpe_tokenize_counts_trie(df, rules=rules).collect()
    got = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_bpe_tokens"])
        for r in rows
    }
    assert got == _bpe_reference_counts(texts, merges=6)
    for r in rows:
        assert r["compression"] == round(r["n_chars"] / r["n_bpe_tokens"], 6)


def _write_documents(tmp_path, texts) -> None:
    """``texts`` as a one-file ``documents`` table under ``tmp_path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["t"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{tmp_path}/documents.parquet")


def _oracle_rows(tmp_path, qname) -> list:
    """The DuckDB oracle's rows of ``qname`` over ``tmp_path``'s
    documents table."""
    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    return con.execute(entrymod.oracle_sql()[qname]).fetchall()


def test_bpe_pipeline_blank_doc_oracle_parity(spark, tmp_path):
    """ADVICE r16: a whitespace-only document must survive BOTH engines
    with the same (n_words=0, n_chars=0, n_bpe_tokens=0,
    compression=NULL) row — the engine drives per-doc stats from the
    documents table itself, and the oracles now mirror that with a
    LEFT JOIN from documents instead of grouping only over non-empty
    words (which silently dropped blank docs)."""
    import __spark_entry__ as entrymod

    texts = [
        "low low low lower lowest",
        "   \t  ",  # whitespace-only: the row under test
        "newest newest new news",
        "banana bandana cabana",
    ]
    _write_documents(tmp_path, texts)

    for qname in ("text_bpe_pipeline", "text_bpe_tokenize"):
        got = {
            r["doc_id"]: (
                r["n_words"], r["n_chars"], r["n_bpe_tokens"],
                r["compression"],
            )
            for r in entrymod.queries()[qname](spark, str(tmp_path)).collect()
        }
        want = {row[0]: tuple(row[1:]) for row in _oracle_rows(tmp_path, qname)}
        assert set(got) == set(range(len(texts))), qname
        assert got == want, qname
        assert got[1] == (0, 0, 0, None), qname


def test_bpe_non_ascii_ties_oracle_parity(spark, tmp_path):
    """Ten pairs tie at count 3, over the symbols ``_ z é ｚ 😀`` (1-, 2-,
    3- and 4-byte UTF-8; ``ｚ`` U+FF5A sorts after ``😀`` in UTF-16 but
    before it by code point), so every merge the trainers learn is
    decided by the ``(a ASC, b ASC)`` tie-break.  The driver's string
    order must be Spark's and DuckDB's: byte order of the UTF-8
    encoding.  Checked against each BPE query's DuckDB oracle, and the
    sequential merges pinned."""
    import __spark_entry__ as entrymod

    syms = ["_", "z", "é", "ｚ", "😀"]
    words = [f"x{s}" for s in syms] + [f"{s}y" for s in syms]
    _write_documents(tmp_path, [" ".join(words)] * 3)
    qs = entrymod.queries()

    merges = [
        (r["lhs"], r["rhs"])
        for r in qs["text_bpe_merges"](spark, str(tmp_path))
        .orderBy("round")
        .collect()
    ]
    assert merges == [
        ("_", "y"), ("x", "_"), ("x", "z"), ("x", "é"), ("x", "ｚ"),
        ("x", "😀"), ("z", "y"), ("é", "y"),
    ], merges
    for qname in (
        "text_bpe_merges", "text_bpe_merges_batched", "text_bpe_pipeline",
        "text_bpe_tokenize", "text_bpe_tokenize_trie",
    ):
        got = sorted(tuple(r) for r in qs[qname](spark, str(tmp_path)).collect())
        assert got == sorted(_oracle_rows(tmp_path, qname)), qname


def test_bpe_tokenize_counts_vs_python_reference(spark):
    """r13: the BPE application path (literal replace chain inside a
    transform lambda) must produce the same per-doc token counts as
    tokenizing with the reference trainer's final vocabulary."""
    from collections import Counter

    from cassandra_fs_pp_spark.functions.text import bpe_tokenize_counts

    texts = [
        "low low low lower lowest",
        "newest newest new news",
        "aaaa aaa aa a",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_bpe_tokens"])
        for r in bpe_tokenize_counts(df, merges=8).collect()
    }
    assert got == _bpe_reference_counts(texts, merges=8)
    # merged runs compress: 'aaaa' must count fewer tokens than chars
    assert got[2][2] < got[2][1]


def test_pq_and_bpe_training_partition_invariant(spark):
    """The r13 trainers' reproducibility claims, pinned: PQ codebooks
    (fixed-point integer means) and BPE merge tables (exact integer pair
    counts) must come out BIT-identical under different partitionings —
    the property that makes retries/reruns safe at cluster scale."""
    from cassandra_fs_pp_spark.functions.text import bpe_train_merges
    from cassandra_fs_pp_spark.operators.similarity import pq_train_codebooks
    from cassandra_fs_pp_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cb1 = pq_train_codebooks(emb.repartition(1), m=4, ks=4, iterations=2)
    cb13 = pq_train_codebooks(emb.repartition(13), m=4, ks=4, iterations=2)
    assert cb1 == cb13  # exact float equality, not approx

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    r1 = [tuple(r) for r in bpe_train_merges(docs.repartition(1), merges=4)
          .orderBy("round").collect()]
    r13 = [tuple(r) for r in bpe_train_merges(docs.repartition(13), merges=4)
           .orderBy("round").collect()]
    assert r1 == r13 and len(r1) == 4


def test_bpe_trie_matches_replace_chain(spark):
    """r14 (VERDICT r13 item 5): the rank-table mapInPandas tokenizer
    must be value-identical to the literal replace-chain at the same
    merge depth — same greedy left-to-right per-rule semantics — on a
    corpus with runs, chained merges, paren words, and empty docs."""
    from cassandra_fs_pp_spark.functions.text import (
        bpe_tokenize_counts,
        bpe_tokenize_counts_trie,
    )

    texts = [
        "low low low lower lowest",
        "newest newest newest widest widest",
        "aaaa aaa aa a banana bandana",
        "weird(word) ok",
        "   ",
        "repeat repeat repeat repeat",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    chain = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_bpe_tokens"], r["compression"])
        for r in bpe_tokenize_counts(df, merges=6).collect()
    }
    trie = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_bpe_tokens"], r["compression"])
        for r in bpe_tokenize_counts_trie(df, merges=6).collect()
    }
    assert chain == trie
    assert len(chain) == len(texts)  # empty doc kept with 0 tokens
    assert chain[4][2] == 0 and chain[4][3] is None


def test_bpe_trie_deep_vocab_synthetic_rules(spark):
    """The point of the trie variant: merge depth is a closure constant.
    Apply 1024 SYNTHETIC rules (only a handful applicable) and check
    the applicable ones fire exactly as the sequential semantics say —
    the replace-chain could not even compile this depth."""
    from cassandra_fs_pp_spark.functions.text import bpe_tokenize_counts_trie

    rules = [("a", "b", "ab"), ("ab", "c", "abc")] + [
        (f"x{i}", f"y{i}", f"x{i}y{i}") for i in range(1022)
    ]
    df = spark.createDataFrame(
        [(0, "abc abcabc zzz")], "doc_id long, text string"
    )
    row = bpe_tokenize_counts_trie(df, rules=rules).collect()[0]
    # abc -> 1 token, abcabc -> 2 tokens, zzz -> 3 tokens
    assert row["n_words"] == 3
    assert row["n_bpe_tokens"] == 6


def test_semantic_decontaminate_flags_planted_neardup(spark):
    """A corpus vector that is a tiny perturbation of an eval vector
    must flag contaminated with that eval id as nearest; an orthogonal
    vector must not flag."""
    from cassandra_fs_pp_spark.operators.similarity import (
        semantic_decontaminate,
    )

    ev = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [0.99, 0.01, 0.0, 0.0]),   # near eval 100
            (2, [0.0, 0.0, 1.0, 0.0]),     # orthogonal to both
            (3, [0.01, 0.98, 0.0, 0.0]),   # near eval 101
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.vec_id: r
        for r in semantic_decontaminate(corpus, ev, tau=0.9).collect()
    }
    assert out[1].contaminated and out[1].nearest_eval_id == 100
    assert out[3].contaminated and out[3].nearest_eval_id == 101
    assert not out[2].contaminated
    # exactly one output row per corpus vector
    assert sorted(out) == [1, 2, 3]
