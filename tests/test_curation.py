"""Training-data curation operators: semantic invariants.

The oracle gate (scripts/oracle_check.py) proves cross-engine value
equality; these tests pin the SEMANTICS — packing invariants, planted
contamination recall, sampling determinism — which a value hash alone
would not explain if it broke.
"""

import pytest
from pyspark.sql import functions as F

from cassandra_fs_pp_spark.functions.curation import (
    decontaminate,
    gopher_quality_flags,
    ngram_rows,
    pack_sequences,
    stratified_sample_keep,
)

CTX = 64


def test_pack_sequences_invariants(spark):
    docs = spark.createDataFrame(
        [(i, 7 + (i * 13) % 40) for i in range(200)], "doc_id long, n_tok int"
    )
    packed = pack_sequences(docs, "n_tok", order_col="doc_id", ctx_len=CTX)
    rows = sorted(packed.collect(), key=lambda r: r.doc_id)
    # every doc assigned exactly one pack; packs contiguous & monotone in doc order
    assert len(rows) == 200
    pack_ids = [r.pack_id for r in rows]
    assert pack_ids == sorted(pack_ids)
    assert pack_ids[0] == 0
    assert set(pack_ids) == set(range(max(pack_ids) + 1))  # no empty packs
    # offset-binning definition: pack_id == floor(exclusive-cumsum / ctx)
    cum = 0
    for r in rows:
        assert r.pack_id == cum // CTX
        cum += r.n_tok
    # every full pack's assigned token mass stays within one straddling
    # document of the context length (concat-and-chunk semantics)
    by_pack = {}
    for r in rows:
        by_pack.setdefault(r.pack_id, 0)
        by_pack[r.pack_id] += r.n_tok
    max_tok = max(r.n_tok for r in rows)
    for pid, tok in by_pack.items():
        if pid != max(pack_ids):
            assert tok <= CTX + max_tok

    # per-stratum packing: same invariant independently inside each stratum
    strat = docs.withColumn("lang", (F.col("doc_id") % 3).cast("string"))
    sp = pack_sequences(
        strat, "n_tok", order_col="doc_id", ctx_len=CTX, partition_col="lang"
    )
    for lang in ("0", "1", "2"):
        sub = sorted(
            sp.filter(F.col("lang") == lang).collect(), key=lambda r: r.doc_id
        )
        cum = 0
        for r in sub:
            assert r.pack_id == cum // CTX
            cum += r.n_tok


def test_decontaminate_plants(spark):
    base = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten eleven",
        "red green blue yellow purple orange cyan magenta black white",
    ]
    evalset = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(base)], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (0, base[0]),  # verbatim copy -> contaminated
            (1, "prefix words " + base[1]),  # contains eval 8-grams
            (2, "totally disjoint vocabulary nothing shared here at all ok"),
            (3, "alpha beta gamma delta"),  # <8 tokens of overlap only
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_shared_grams for r in decontaminate(train, evalset).collect()}
    assert 0 in out and out[0] == 3  # 10 tokens -> 3 distinct 8-grams
    assert 1 in out and out[1] >= 4  # 11-token eval doc fully contained
    assert 2 not in out
    assert 3 not in out  # sub-n overlap must NOT flag


def test_word_ngrams_short_doc_empty(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for by_id in (True, False):
        grams = ngram_rows(df, "doc_id", "text", 8, partition_by_id=by_id)
        assert grams.collect() == []


def test_stratified_sample_deterministic_and_rated(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    keep = stratified_sample_keep(
        F.col("doc_id"), F.col("lang"), {"en": 10, "de": 50}
    )
    a = sorted(r.doc_id for r in docs.filter(keep).select("doc_id").collect())
    b = sorted(r.doc_id for r in docs.filter(keep).select("doc_id").collect())
    assert a == b and len(a) > 0
    # unlisted strata are dropped entirely
    langs = {r.lang for r in docs.filter(keep).select("lang").distinct().collect()}
    assert langs <= {"en", "de"}
    # en is sampled ~5x thinner than de (10 vs 50 buckets); corpus is ~3x en
    n_en = docs.filter(keep & (F.col("lang") == "en")).count()
    n_de = docs.filter(keep & (F.col("lang") == "de")).count()
    tot_en = docs.filter(F.col("lang") == "en").count()
    tot_de = docs.filter(F.col("lang") == "de").count()
    assert n_en / tot_en < n_de / tot_de


def test_quality_flags_reject_degenerate(spark):
    rows = [
        (0, "the cat sat on a mat with the dog and the bird near a tree "
            "while the sun was up and the wind was low over the hill today"),
        (1, "word " * 200),  # too long, no stopwords
        (2, "aa bb"),  # too short
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    flags = gopher_quality_flags(F.col("text"), min_mean_wl=2.0, max_mean_wl=6.0)
    keep = ~(
        flags["fail_word_count"]
        | flags["fail_mean_word_len"]
        | flags["fail_stopword_ratio"]
    )
    kept = {r.doc_id for r in df.filter(keep).collect()}
    assert kept == {0}


def test_map_functions_spark_only(spark):
    """map_concat / map_filter / transform_values / map_from_entries —
    the Spark-side MapType surface beyond the oracle-checked f_map_suite."""
    df = spark.createDataFrame([(1,)], "id int").select(
        F.map_concat(
            F.create_map(F.lit("a"), F.lit(1)),
            F.create_map(F.lit("b"), F.lit(2)),
        ).alias("m")
    )
    row = df.select(
        F.size("m").alias("n"),
        F.element_at(
            F.map_filter("m", lambda k, v: v > 1), "b"
        ).alias("only_b"),
        F.element_at(
            F.transform_values("m", lambda k, v: v * 10), "a"
        ).alias("a10"),
        F.size(
            F.map_from_entries(
                F.array(F.struct(F.lit("x").alias("k"), F.lit(9).alias("v")))
            )
        ).alias("from_entries_n"),
    ).collect()[0]
    assert (row.n, row.only_b, row.a10, row.from_entries_n) == (2, 2, 10, 1)


def test_source_budget_keep_prefix_and_budget(spark):
    """Kept docs are exactly the maximal doc_id-ordered prefix per source
    whose cumulative size fits the budget."""
    from cassandra_fs_pp_spark.functions.curation import source_budget_keep

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept = source_budget_keep(docs, budget=1500).collect()
    by_src = {}
    for r in sorted(kept, key=lambda r: (r["source"], r["doc_id"])):
        by_src.setdefault(r["source"], []).append(r)
    all_docs = {}
    for r in docs.collect():
        all_docs.setdefault(r["source"], []).append(r)
    assert by_src, "budget too small — nothing kept"
    for src, rows in by_src.items():
        total = 0
        expect = []
        for r in sorted(all_docs[src], key=lambda r: r["doc_id"]):
            total += r["n_chars"]
            if total > 1500:
                break
            expect.append(r["doc_id"])
        assert [r["doc_id"] for r in rows] == expect
        assert rows[-1]["cum_size"] <= 1500


def test_quality_model_score_exact_and_keep(spark):
    from cassandra_fs_pp_spark.functions.curation import quality_model_score
    import hashlib

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha alpha alpha")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in quality_model_score(df).collect()}

    def w(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 2001 - 1000

    assert out[1]["w_sum_milli"] == w("alpha") + w("beta")
    assert out[2]["w_sum_milli"] == 3 * w("alpha")
    assert out[1]["score"] == out[1]["w_sum_milli"] / 2000.0
    assert out[1]["keep"] == (out[1]["score"] > 0)


def test_keep_best_in_cluster_prefers_quality_not_min_id(spark):
    """The argmax doc of a near-dup cluster wins even when it has the
    LARGER id (min-id dedup would keep the other one)."""
    import __spark_entry__ as entry

    out = entry.curation_keep_best_in_cluster(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_rep"], []).append(r)
    multi = [v for v in by_cluster.values() if len(v) > 1]
    assert multi, "near-dup corpus must produce multi-doc clusters"
    inversions = 0
    for cluster in multi:
        best = [r for r in cluster if r["keep_best"]]
        assert len(best) == 1
        assert best[0]["w_sum_milli"] == max(r["w_sum_milli"] for r in cluster)
        if best[0]["doc_id"] != min(r["doc_id"] for r in cluster):
            inversions += 1
    assert inversions > 0, "quality argmax never disagreed with min-id (weak test)"


def test_weighted_reservoir_fractional_weights_not_uniform(spark):
    """Fractional weights must shape the E-S priority (the old greatest(w,1)
    clamp flattened every w<=1 to uniform); zero-weight rows sort last."""
    from cassandra_fs_pp_spark.functions.curation import weighted_reservoir_topk

    rows = [(i, 0.9 if i % 2 == 0 else 0.1) for i in range(200)] + [(999, 0.0)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    out = weighted_reservoir_topk(df, "w", "doc_id", k=40).collect()
    ids = [r["doc_id"] for r in out]
    heavy = sum(1 for i in ids if i != 999 and i % 2 == 0)
    assert heavy > 30, f"w=0.9 rows should dominate a 9:1 sample, got {heavy}/40"
    assert 999 not in ids, "zero-weight row sampled ahead of weighted rows"


def test_quality_model_score_empty_doc_is_zero_tokens(spark):
    from cassandra_fs_pp_spark.functions.curation import quality_model_score

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "word")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in quality_model_score(df).collect()}
    assert out[1]["n_tokens"] == 0 and out[1]["score"] is None
    assert out[2]["n_tokens"] == 0 and out[2]["score"] is None
    assert out[3]["n_tokens"] == 1 and out[3]["score"] is not None


def test_stratified_sample_empty_rates_keeps_nothing(spark):
    from cassandra_fs_pp_spark.functions.curation import stratified_sample_keep
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    kept = df.filter(
        stratified_sample_keep(F.col("doc_id"), F.col("lang"), {})
    ).count()
    assert kept == 0


def test_ccnet_buckets_per_source_calibration(spark):
    """r11: per-source ntile(3) over KN perplexity. The calibration
    property is the point: a uniformly-gibberish source still splits
    into head/middle/tail INTERNALLY (an absolute threshold would dump
    it entirely into tail). Also pins ntile balance (sizes differ by
    <= 1 per source), the deterministic (ppl, doc_id) order, and that
    the ranking window partitions by source (no global sort)."""
    import re

    from cassandra_fs_pp_spark.functions.curation import ccnet_buckets

    fluent = [
        (i, "src0", "the cat sat on the mat and the dog sat on the log")
        for i in range(6)
    ]
    # rare bigrams: every doc unique word salad over a disjoint alphabet
    gibberish = [
        (100 + i, "src1", f"zq{i} xv{i} wk{i} yj{i} uf{i} tg{i}")
        for i in range(7)
    ]
    df = spark.createDataFrame(
        fluent + gibberish, "doc_id long, source string, text string"
    )
    out = ccnet_buckets(df)
    rows = out.collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == {"src0", "src1"}
    for src, rs in by_src.items():
        sizes = [sum(1 for r in rs if r["bucket"] == b) for b in (1, 2, 3)]
        assert max(sizes) - min(sizes) <= 1, (src, sizes)
        assert all(s >= 1 for s in sizes), (src, sizes)
        # tier labels map the bucket
        for r in rs:
            assert r["tier"] == {1: "head", 2: "middle", 3: "tail"}[r["bucket"]]
        # bucket order follows (ppl, doc_id)
        ordered = sorted(rs, key=lambda r: (r["ppl"], r["doc_id"]))
        assert [r["bucket"] for r in ordered] == sorted(
            r["bucket"] for r in rs
        )
    # gibberish ppl is uniformly worse, yet src1 still has heads
    assert max(r["ppl"] for r in by_src["src0"]) < min(
        r["ppl"] for r in by_src["src1"]
    )
    assert any(r["tier"] == "head" for r in by_src["src1"])
    # plan: every Window partitions by source — the fleet-valve shape
    jqe = out._jdf.queryExecution()
    plan = jqe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    for m in re.finditer(r"\(\d+\) Window\n(?:.+\n)*?Arguments: (.*)", plan):
        assert "source" in m.group(1), plan


def test_dsir_select_bigram_order_sensitivity(spark):
    """DSIR features are hashed unigrams+BIGRAMS (the paper's family):
    two raw docs with IDENTICAL unigram multisets but different word
    order must score differently — the one sharing the target's word
    ORDER wins. A unigram-only feature map would tie them."""
    from cassandra_fs_pp_spark.functions.curation import dsir_select

    rows = [
        # target domain: consistent "alpha beta gamma" phrasing
        (1, "src0", "alpha beta gamma"),
        (2, "src0", "alpha beta gamma delta"),
        (3, "src1", "alpha beta gamma"),
        # raw pool: same unigrams, same order (should score high) ...
        (10, "web", "alpha beta gamma"),
        # ... vs same unigrams, reversed order (no target bigrams)
        (11, "web", "gamma beta alpha"),
        # noise so the raw pool has mass of its own
        (12, "web", "omega omega psi chi"),
        (13, "web", "chi psi omega"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["doc_id"]: r["logw_nano"]
        for r in dsir_select(docs, buckets=512, top_k=100).collect()
    }
    assert out[10] > out[11], out
    # ordered doc carries 2 extra target bigrams; unigram part is equal
    assert out[1] == out[10], out


def test_dsir_select_empty_and_single_token_docs(spark):
    """Single-token docs contribute no bigrams (but still score their
    unigram); empty docs produce no features and drop out of the
    scored set entirely."""
    from cassandra_fs_pp_spark.functions.curation import dsir_select

    rows = [
        (1, "src0", "alpha beta"),
        (2, "web", "alpha"),
        (3, "web", "   "),
        (4, "web", "alpha beta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["doc_id"]: r for r in dsir_select(docs, top_k=10).collect()}
    assert 3 not in got
    assert got[2]["n_tok"] == 1
    assert got[4]["n_tok"] == 3  # 2 unigrams + 1 bigram occurrence


def test_logreg_trained_separates_planted_classes(spark):
    """Train on a corpus where target docs share a marker token the pool
    lacks: gradient descent must push the learned scores of target docs
    above the pool's (the whole point of the trained stage vs the
    hash-weight stand-in)."""
    from cassandra_fs_pp_spark.functions.curation import logreg_train_select

    rows = []
    filler = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    for i in range(60):
        target = i % 5 == 0
        toks = [filler[(i + j) % len(filler)] for j in range(8)]
        if target:
            toks += ["qualitymarker"] * 4
        rows.append((i, " ".join(toks), "src0" if target else "srcpool"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = logreg_train_select(
        docs, target_sources=("src0",), buckets=32, top_k=60
    ).collect()
    assert len(out) == 60
    t_scores = [r.score for r in out if r.is_target]
    p_scores = [r.score for r in out if not r.is_target]
    assert min(t_scores) > max(p_scores), (min(t_scores), max(p_scores))
    # scores are the BIGINT margin over 1e12, and pred matches the sign
    for r in out:
        assert r.score == r.score12 / 1e12
        assert r.pred_target == (r.score12 > 0)


def test_logreg_trained_partition_invariance(spark):
    """Trained weights (hence scores) must not depend on input
    partitioning: every gradient reduce is an exact BIGINT sum and every
    rounding happens on a deterministic double — repartitioned input
    must produce byte-identical output."""
    from cassandra_fs_pp_spark.functions.curation import logreg_train_select

    rows = [
        (i, f"tok{i % 7} tok{(i * 3) % 11} common word{i % 4}",
         "src0" if i % 4 == 0 else "srcB")
        for i in range(80)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    a = logreg_train_select(docs, target_sources=("src0",), buckets=16,
                            top_k=80).collect()
    b = logreg_train_select(docs.repartition(13), target_sources=("src0",),
                            buckets=16, top_k=80).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_logreg_trained_excludes_empty_docs(spark):
    from cassandra_fs_pp_spark.functions.curation import logreg_train_select

    docs = spark.createDataFrame(
        [(1, "real tokens here", "src0"), (2, "   ", "srcB"), (3, "", "srcB"),
         (4, "more words", "srcB")],
        "doc_id long, text string, source string",
    )
    out = logreg_train_select(docs, target_sources=("src0",), buckets=8,
                              top_k=10).collect()
    assert sorted(r.doc_id for r in out) == [1, 4]


def test_repetition_flags_planted_repeats(spark):
    """A doc dominated by one repeated bigram must flag rep_top2; a doc
    made of one looping 5-gram must flag rep_dup5; diverse text flags
    neither. Fractions are exact integer ratios."""
    from cassandra_fs_pp_spark.functions.curation import repetition_flags

    diverse = " ".join(f"w{i}" for i in range(30))
    spammy = ("buy now " * 15).strip() + " " + diverse  # one hot bigram
    looped = ("a b c d e " * 8).strip()  # every 5-gram duplicated
    docs = spark.createDataFrame(
        [(1, diverse), (2, spammy), (3, looped)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_flags(docs).collect()}
    assert not out[1].rep_top2_flag and not out[1].rep_dup5_flag
    assert out[2].rep_top2_flag
    assert out[3].rep_dup5_flag
    # exactness spot-checks: looped doc "a b c d e" x 8 = 40 tokens,
    # 39 bigrams of which ("e a" appears 7, others 8) max is 8
    assert out[3].m2 == 8 and out[3].t2 == 39
    # all 36 5-grams cycle through 5 distinct values -> all duplicated
    assert out[3].d5 == out[3].t5 == 36
    # too-short docs (no 5-gram) are excluded
    short = spark.createDataFrame(
        [(9, "just four words here")], "doc_id long, text string"
    )
    assert repetition_flags(short).count() == 0


def test_pretrain_pipeline_invariants(spark):
    """curation_pretrain_pipeline (r15 flagship): structural invariants
    of the end-to-end chain at sf0.001 — survivors are deduped (cluster
    reps only), quota-bounded per source, packs are a contiguous
    prefix-sum binning over the (source, doc_id) order, and the shard
    layout is a permutation (shard_pos dense from 1 per shard)."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    rows = entry.curation_pretrain_pipeline(spark, sf).collect()
    assert rows, "flagship selected nothing at sf0.001"
    # per-source quota: ceil(sqrt(n_s * n_max) / 2) over the SCORED set
    # upper-bounds the kept count per source
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    # pack ids: recompute the (source, doc_id)-ordered prefix sum
    ordered = sorted(rows, key=lambda r: (r.source, r.doc_id))
    start = 0
    for r in ordered:
        assert r.pack_id == start // 512, r
        start += r.n_tok
    # shard layout: dense 1..k positions per shard, shard in range
    shards = {}
    for r in rows:
        assert 0 <= r.shard < 8
        shards.setdefault(r.shard, []).append(r.shard_pos)
    for s, poss in shards.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), (s, poss)


def test_pretrain_oneplan_twin_identical(spark):
    """The one-plan stress twin (persist reuse marks, single Catalyst
    plan) must emit row-for-row the registry flagship's (staged,
    localCheckpoint-barrier) output — the barriers change WHERE
    computation materializes, never what is computed. (r16 swapped
    which form is the flagship; the differential is unchanged.)"""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    key = lambda r: (r.doc_id,)  # noqa: E731
    a = sorted(entry.curation_pretrain_pipeline(spark, sf).collect(), key=key)
    b = sorted(
        entry.curation_pretrain_oneplan(spark, sf).collect(), key=key
    )
    assert a == b
    # release the twin's persisted survivor sets (ADVICE r15: the
    # builder never unpersists them; outside bench's clearCache rhythm
    # they would linger for the rest of the pytest session and
    # plan-match into later tests' plans)
    spark.catalog.clearCache()
