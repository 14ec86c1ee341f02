"""Plan-health regression tests: the shuffle/broadcast structure the 100 TB
stance depends on, asserted from the physical plans so a refactor can't
silently regress them (PLANS.md is the human-readable twin)."""

from __future__ import annotations

import re

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _formatted_plan(df) -> str:
    jqe = df._jdf.queryExecution()
    spark = df.sparkSession
    return jqe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _n(plan: str, node: str) -> int:
    return len(re.findall(rf"\(\d+\) {node}\b", plan))


def _n_spread(plan: str) -> int:
    """Scan-spread exchanges (``operators.skew.spread_if_narrow``):
    round-robin redistribution of a small unsplittable documents/embeddings
    scan so per-row-heavy stages parallelize (r17 optimization, no-op at
    scale).  Not a data-keyed shuffle — excluded from the structural
    shuffle pins below."""
    return len(
        re.findall(r"RoundRobinPartitioning\(\d+\), REPARTITION_BY_NUM", plan)
    )


def _n_shuffles(plan: str) -> int:
    """Exchange count excluding the scan-spread round-robins — the
    data-keyed shuffle structure the 100 TB pins assert."""
    return _n(plan, "Exchange") - _n_spread(plan)


def test_debounce_is_single_shuffle(spark):
    df = entrymod.queries()["p_debounce_burst"](spark, SF)
    plan = _formatted_plan(df)
    assert _n(plan, "Exchange") == 1, plan
    assert _n(plan, "Scan parquet") == 1


def test_step_detect_is_single_shuffle(spark):
    df = entrymod.queries()["w_step_detect"](spark, SF)
    plan = _formatted_plan(df)
    assert _n(plan, "Exchange") == 1, plan


def test_twa_is_single_shuffle(spark):
    df = entrymod.queries()["a_time_weighted_avg"](spark, SF)
    plan = _formatted_plan(df)
    assert _n(plan, "Exchange") == 1, plan


def test_flagship_joins_broadcast(spark):
    df = entrymod.queries()["flagship_events_hourly"](spark, SF)
    plan = _formatted_plan(df)
    assert _n(plan, "SortMergeJoin") == 0, plan
    assert _n(plan, "CartesianProduct") == 0


def test_tpch_q1_single_agg_shuffle(spark):
    df = entrymod.queries()["tpch_q1"](spark, SF)
    plan = _formatted_plan(df)
    # partial+final hash aggregate around one hash exchange, plus the
    # result-order range exchange — nothing else
    assert _n(plan, "Exchange") == 2, plan
    assert _n(plan, "HashAggregate") == 2


def test_tpch_q3_dims_broadcast_fact_not_shuffled_twice(spark):
    df = entrymod.queries()["tpch_q3_top_orders"](spark, SF)
    plan = _formatted_plan(df)
    assert _n(plan, "SortMergeJoin") == 0, plan


def test_scans_prune_columns(spark):
    """tpch_q6 must read only the 4 columns it touches."""
    df = entrymod.queries()["tpch_q6"](spark, SF)
    plan = _formatted_plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert set(cols) <= {
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice"
    }, cols


def test_partsupp_trio_no_cartesian(spark):
    """Q2/Q20 must be pure broadcast-hash shapes; Q11's only nested-loop
    is the 1-row scalar-total broadcast (a cross join against a single
    aggregate row — the canonical scalar-subquery plan, not a pair join)."""
    for name in ("tpch_q2_min_cost_supplier", "tpch_q20_promotion_suppliers"):
        plan = _formatted_plan(entrymod.queries()[name](spark, SF))
        assert _n(plan, "CartesianProduct") == 0, name
        assert _n(plan, "BroadcastNestedLoopJoin") == 0, name
    q11 = _formatted_plan(
        entrymod.queries()["tpch_q11_important_stock"](spark, SF)
    )
    assert _n(q11, "CartesianProduct") == 0
    assert _n(q11, "BroadcastNestedLoopJoin") <= 1


def test_lsh_topk_pair_dedup_is_narrow(spark):
    """ann_lsh_topk's candidate dedup exchange must move only GROUP-hash
    pairs (r7 duplicate-collapse shape) — embedding arrays may not appear
    below the dedup aggregate, and the member-level fan-out never carries
    vectors (cosine is attached per group pair, pre-expansion)."""
    import re as _re

    plan = _formatted_plan(entrymod.queries()["ann_lsh_topk"](spark, SF))
    # locate the group-pair dedup HashAggregate (keys = __ga, __gb)
    m = _re.search(
        r"HashAggregate[\s\S]{0,400}?Keys \[2\]: \[__ga#\d+, __gb#\d+\]",
        plan,
    )
    assert m, plan
    assert _n(plan, "CartesianProduct") == 0


def test_decontaminate_single_split_per_side(spark):
    """curation_decontaminate (ADVICE r17): the regex tokenizer must
    evaluate exactly ONCE per side (train + eval = two ``split(`` sites
    in the whole plan).  The ``__nd`` marker column ngram_rows adds as a
    CollapseProject barrier is pruned by Spark 4.1.2's optimizer, so
    single evaluation rests on the optimizer's expensive-expression
    check — this pin catches a Spark upgrade that regresses it (the
    collapse re-splits once PER GRAM: measured 7.6x at sf0.1)."""
    plan = _formatted_plan(
        entrymod.queries()["curation_decontaminate"](spark, SF)
    )
    assert plan.count("split(") == 2, plan


def test_minhash_cluster_deskewed_bucket_rep(spark):
    """dedup_minhash_cluster (r18 de-skew, VERDICT r17 item 1 — the last
    hot-key window site): the bucket representative must be a
    partial-aggregated ``groupBy(band, band_sig).agg(min)`` joined back
    to the LAZY-PINNED banded frame — NOT a ``min().over(partitionBy
    (band, band_sig))`` window, which executes a mega-duplicate bucket
    as one sorted straggler task.  Pinned: map-side partial_min, the
    banded frame read as a checkpoint (ExistingRDD — the r17 2.5x
    regression of the unpinned join form came from the minhash subtree
    evaluating twice), zero Window operators, and no parquet rescans in
    the returned plan."""
    df = entrymod.queries()["dedup_minhash_cluster"](spark, SF)
    plan = _formatted_plan(df)
    assert "partial_min" in plan, plan
    assert _n(plan, "Window") == 0, plan
    assert _n(plan, "SortMergeJoin") == 0, plan
    assert "ExistingRDD" in plan, plan
    assert _n(plan, "Scan parquet") == 0, plan
    assert _n_shuffles(plan) <= 2, plan


def test_minhash_lsh_bands_without_aggregation(spark):
    """dedup_minhash_lsh: candidate pairs band the wide signatures with
    plain column concats and one stack (``banded_from_wide``), so no
    per-(doc, band) ``collect_list`` aggregation sits between the
    signature aggregate and the band self-join.  Asserted on the pairs'
    own plan, built as the query builds it: the query's plan reads the
    pairs from a checkpoint."""
    corpus = entrymod._doc_corpus_with_near_dups(spark, SF)
    k = entrymod.MINHASH_K
    sigs = entrymod.minhash_signatures_wide(corpus, num_hashes=k)
    pairs = entrymod.lsh_candidate_pairs(
        sigs, num_hashes=k, bands=entrymod.MINHASH_BANDS
    )
    plan = _formatted_plan(pairs)
    assert _n(plan, "Scan parquet") > 0, plan  # the banding lineage itself
    assert _n(plan, "HashAggregate") > 0, plan  # the signature aggregate
    assert "collect_list" not in plan, plan
    assert _n(plan, "ObjectHashAggregate") == 0, plan


def test_minhash_lsh_plans_candidate_pairs_once(spark):
    """jaccard_verify pins its candidate pairs (lazy ``localCheckpoint``):
    dedup_minhash_lsh's plan reads them from the checkpoint instead of
    re-planning the corpus scans, signatures and band self-join at each
    of their four uses (80 parquet scans before the pin).  What remains
    is the candidate documents' token frame: 2 corpus scans at each of
    its 4 uses."""
    plan = _formatted_plan(entrymod.queries()["dedup_minhash_lsh"](spark, SF))
    assert "ExistingRDD" in plan, plan
    assert _n(plan, "Scan parquet") <= 8, plan


def test_semantic_dedup_deskewed_rep_attach(spark):
    """SemDeDup path (r17 de-skew, the VERDICT r16 item 1 window class):
    the per-bucket representative must be a partial-aggregated
    ``groupBy(bucket).agg(min)`` broadcast-joined back — NOT a
    ``min().over(partitionBy(bucket))`` window, which executes a hot
    bucket as one sorted straggler task.  Pinned: map-side partial_min,
    ONE broadcast join (the rep table is bounded by 2^bits rows), one
    shuffle (the rep aggregate), zero windows keyed by bucket, and the
    (id, bucket) projection pinned once (ExistingRDD, no parquet
    rescans in the returned plan)."""
    import re

    df = entrymod.queries()["emb_semantic_dedup"](spark, SF)
    plan = _formatted_plan(df)
    assert "partial_min" in plan, plan
    assert _n_shuffles(plan) == 1, plan
    assert _n(plan, "SortMergeJoin") == 0
    assert _n(plan, "BroadcastHashJoin") == 1, plan
    assert "ExistingRDD" in plan, plan
    assert _n(plan, "Scan parquet") == 0, plan
    for m in re.finditer(
        r"windowspecdefinition\(([^)]*)\)", plan
    ):
        assert "bucket" not in m.group(1), plan


def test_quality_logreg_is_scan_project_only(spark):
    # linear scoring is a pure narrow projection: zero shuffles
    df = entrymod.queries()["curation_quality_logreg"](spark, SF)
    plan = _formatted_plan(df)
    assert _n_shuffles(plan) == 0, plan
    assert _n(plan, "Scan parquet") == 1


def test_keep_best_no_cartesian_no_nlj(spark):
    df = entrymod.queries()["curation_keep_best_in_cluster"](spark, SF)
    plan = _formatted_plan(df)
    assert _n(plan, "CartesianProduct") == 0
    assert _n(plan, "BroadcastNestedLoopJoin") == 0


def test_transpose_two_shuffles(spark):
    # unpivot (narrow) + pivot agg: at most the pivot's agg exchange pair
    df = entrymod.queries()["r4_transpose"](spark, SF)
    plan = _formatted_plan(df)
    assert _n(plan, "Exchange") <= 2, plan
    assert _n(plan, "CartesianProduct") == 0


def test_asof_nearest_single_exchange(spark):
    # both directional carries must share one Sort+Window pass
    df = entrymod.queries()["j_asof_nearest"](spark, SF)
    plan = _formatted_plan(df)
    assert _n(plan, "Exchange") == 1, plan
    assert _n(plan, "Window") == 1, plan


def test_cusum_single_exchange(spark):
    df = entrymod.queries()["ts_cusum_alerts"](spark, SF)
    plan = _formatted_plan(df)
    assert _n(plan, "Exchange") == 1, plan


def test_geo_grid_join_no_cartesian(spark):
    df = entrymod.queries()["geo_grid_join"](spark, SF)
    plan = _formatted_plan(df)
    assert _n(plan, "CartesianProduct") == 0, plan
    assert _n(plan, "BroadcastNestedLoopJoin") == 0, plan


def test_fuzzy_join_equi_only(spark):
    df = entrymod.queries()["fuzzy_match_join"](spark, SF)
    plan = _formatted_plan(df)
    assert _n(plan, "CartesianProduct") == 0, plan
    assert _n(plan, "BroadcastNestedLoopJoin") == 0, plan


def test_gram_matrix_single_exchange(spark):
    df = entrymod.queries()["emb_gram_matrix"](spark, SF)
    plan = _formatted_plan(df)
    assert _n_shuffles(plan) == 1, plan


def test_setsim_join_equi_joins_only(spark):
    """Prefix-filter similarity join must plan as hash equi-joins — a
    nested-loop/cartesian anywhere means the blocking regressed to
    all-pairs."""
    df = entrymod.queries()["dedup_setsim_join"](spark, SF)
    plan = _formatted_plan(df)
    assert _n(plan, "CartesianProduct") == 0, plan
    assert _n(plan, "BroadcastNestedLoopJoin") == 0, plan


def test_bloom_semi_filter_precedes_join(spark):
    """j_bloom_semi: the only nested-loop join is the 1-row bitmap
    broadcast; membership Filter sits on the big side BEFORE the semi
    join, and the semi join itself is a hash join."""
    df = entrymod.queries()["j_bloom_semi"](spark, SF)
    plan = _formatted_plan(df)
    assert _n(plan, "BroadcastNestedLoopJoin") == 1, plan  # 1-row bitmap only
    assert _n(plan, "CartesianProduct") == 0, plan
    # the bloom membership predicate (bitmap word test) appears in a Filter
    assert "shiftleft" in plan, plan


def test_lsh_topk_single_corpus_scan(spark):
    """The corpus parquet is read ONCE, at localCheckpoint time — the
    final plan consumes only the pinned checkpoint, so it must contain
    ZERO parquet scans. If the checkpoint is removed the pre-fix shape
    returns (4 corpus scans through the bucket/vector lineage)."""
    plan = _formatted_plan(entrymod.queries()["ann_lsh_topk"](spark, SF))
    assert _n(plan, "Scan parquet") == 0, plan


def test_pack_sequences_offsets_only_window(spark):
    """curation_pack_sequences (no partition_col) must route the corpus
    prefix sum through global_running_sum: the plan's ONLY Window is the
    #partitions-row offset cumsum ordered by __pid — corpus-sized data
    never enters a single-partition WindowExec."""
    plan = _formatted_plan(
        entrymod.queries()["curation_pack_sequences"](spark, SF)
    )
    assert _n(plan, "Window") == 1, plan
    m = re.search(r"\(\d+\) Window\n(?:.+\n)*?Arguments: (.*)", plan)
    assert m and "__pid" in m.group(1), plan


def test_zipf_rank_no_vocab_wide_window(spark):
    """text_zipf_fit's rank must come from global_row_number — the only
    Window in the plan is the broadcast-offset cumsum over __pid, never a
    vocabulary-wide unpartitioned row_number."""
    plan = _formatted_plan(entrymod.queries()["text_zipf_fit"](spark, SF))
    assert _n(plan, "Window") == 1, plan
    m = re.search(r"\(\d+\) Window\n(?:.+\n)*?Arguments: (.*)", plan)
    assert m and "__pid" in m.group(1), plan


def test_kcore_result_partition_invariant(spark):
    """k-core output is identical at 1 and 8 partitions (unique core +
    deterministic degrees)."""
    from pyspark.sql import functions as F

    from cassandra_fs_pp_spark.operators.graph import k_core

    edges = [(a, b) for a in range(12) for b in range(a + 1, 12) if (a + b) % 3]
    df1 = spark.createDataFrame(edges, "src long, dst long").coalesce(1)
    df8 = spark.createDataFrame(edges, "src long, dst long").repartition(8)
    r1 = {(r["node"], r["core_degree"]) for r in k_core(df1, k=4).collect()}
    r8 = {(r["node"], r["core_degree"]) for r in k_core(df8, k=4).collect()}
    assert r1 == r8 and r1


def test_compaction_plan_offsets_only_window(spark):
    """op_compaction_plan routes the manifest prefix sum through
    global_running_sum: the only Window orders the #partitions-row
    offset table by __pid — manifest-sized data never crosses a
    single-partition WindowExec."""
    plan = _formatted_plan(entrymod.queries()["op_compaction_plan"](spark, SF))
    assert _n(plan, "Window") == 1, plan
    m = re.search(r"\(\d+\) Window\n(?:.+\n)*?Arguments: (.*)", plan)
    assert m and "__pid" in m.group(1), plan


def test_bm25_and_rrf_windows_are_post_limit(spark):
    """text_bm25_topk / rag_rrf_fusion: every unpartitioned window must
    sit ABOVE a GlobalLimit (it ranks the <=20 surviving rows, not the
    corpus) — the global top-k itself is TakeOrdered."""
    for q in ("text_bm25_topk", "rag_rrf_fusion"):
        plan = _formatted_plan(entrymod.queries()[q](spark, SF))
        n_windows = _n(plan, "Window")
        n_limits = _n(plan, "TakeOrderedAndProject") + _n(plan, "GlobalLimit")
        assert n_limits >= n_windows >= 1, (q, plan)


def test_periodogram_no_global_window(spark):
    """ts_periodogram_int: the ranking window partitions by user_id
    (4 candidate periods per user), and the basis table joins broadcast."""
    plan = _formatted_plan(entrymod.queries()["ts_periodogram_int"](spark, SF))
    m = re.search(r"\(\d+\) Window\n(?:.+\n)*?Arguments: (.*)", plan)
    assert m and "user_id" in m.group(1), plan
    assert _n(plan, "BroadcastHashJoin") >= 1, plan


def test_dsir_select_plan_shape(spark):
    """curation_dsir_select (VERDICT r13 item 1): the λ table joins the
    feature stream BROADCAST (bounded by `buckets` rows), the global
    top-k is TakeOrdered — never a single-partition window — and no
    sort-merge join or cartesian product appears anywhere. The only
    nested-loop is the 1-row totals attach."""
    plan = _formatted_plan(entrymod.queries()["curation_dsir_select"](spark, SF))
    assert _n(plan, "TakeOrderedAndProject") == 1, plan
    assert _n(plan, "Window") == 0, plan
    assert _n(plan, "BroadcastHashJoin") >= 1, plan
    assert _n(plan, "SortMergeJoin") == 0, plan
    assert _n(plan, "CartesianProduct") == 0, plan
    assert _n(plan, "BroadcastNestedLoopJoin") <= 1, plan  # 1-row totals


def test_registry_window_discipline():
    """The correctness gate checks the first 50 registry rows
    (``__spark_entry__._registry`` order), so each of them needs a full
    SQL oracle for the gate's hash check.  The three rows-only
    approximate sketches stay pinned last, outside any window."""
    qs = list(entrymod.queries())
    oracles = entrymod.oracle_sql()
    missing = [q for q in qs[:50] if q not in oracles]
    assert not missing, f"window entries without full oracles: {missing}"
    rows_only = [q for q in qs if q not in oracles]
    assert rows_only == qs[-3:] == [
        "a_approx_distinct",
        "a_hll_mergeable",
        "a_approx_quantiles",
    ]


def test_point_in_polygon_broadcast_only(spark):
    """geo_point_in_polygon: the point stream joins only BROADCAST sides
    (cell coverage + edges); the sole exchange is the partial-aggregated
    parity count — no SMJ, no cartesian, one parquet scan."""
    df = entrymod.queries()["geo_point_in_polygon"](spark, SF)
    plan = _formatted_plan(df)
    assert _n(plan, "Scan parquet") == 1, plan
    assert _n(plan, "BroadcastHashJoin") == 2, plan
    assert _n(plan, "SortMergeJoin") == 0
    assert _n(plan, "CartesianProduct") == 0
    assert _n(plan, "Exchange") <= 2, plan  # parity agg (+AQE final)


def test_debounce_keyed_single_shuffle(spark):
    """The fleet-keyed debounce keeps the enum form's 1-exchange shape —
    the partitioning valve changes keys, not plan structure."""
    df = entrymod.queries()["p_debounce_burst_keyed"](spark, SF)
    plan = _formatted_plan(df)
    assert _n(plan, "Exchange") == 1, plan
    assert _n(plan, "Scan parquet") == 1


def test_rag_hybrid_nested_loops_are_scalar_attaches_only(spark):
    """rag_hybrid_minmax: every BroadcastNestedLoopJoin is a 1-row
    scalar attach (query vector + per-retriever min/max); the retriever
    top-20s join full-outer over <=20-row sides."""
    df = entrymod.queries()["rag_hybrid_minmax"](spark, SF)
    plan = _formatted_plan(df)
    assert _n(plan, "CartesianProduct") == 0, plan
    assert _n(plan, "BroadcastNestedLoopJoin") <= 4, plan


def test_rag_mmr_rerank_greedy_properties(spark):
    """rag_mmr_rerank: rank-1 is the hybrid argmax with score
    0.7*rel (empty-set max-sim term is exactly 0.0); selections are
    distinct members of the hybrid top-20; later picks' scores are
    0.7*rel minus a real similarity penalty."""
    out = entrymod.queries()["rag_mmr_rerank"](spark, SF).collect()
    hyb = entrymod.queries()["rag_hybrid_minmax"](spark, SF).collect()
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    ids = [r["doc_id"] for r in out]
    assert len(set(ids)) == len(ids)
    top1 = next(r for r in hyb if r["rank"] == 1)
    first = next(r for r in out if r["rank"] == 1)
    assert first["doc_id"] == top1["doc_id"]
    assert first["mmr_score"] == 0.7 * first["rel"]
    for r in out:
        if r["rank"] > 1:
            assert r["mmr_score"] <= 0.7 * r["rel"] + 0.3  # |cos| <= 1


def _write_mmr_corpus(tmpdir, docs, vecs):
    """Tiny documents/embeddings parquet pair for MMR edge-case tests."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    doc_tbl = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs], pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array(["t"] * len(docs), pa.string()),
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }
    )
    emb_tbl = pa.table(
        {
            "vec_id": pa.array([v[0] for v in vecs], pa.int64()),
            "embedding": pa.array(
                [v[1] for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    pq.write_table(doc_tbl, f"{tmpdir}/documents.parquet")
    pq.write_table(emb_tbl, f"{tmpdir}/embeddings.parquet")


def _mmr_oracle_rows(tmpdir):
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{tmpdir}/{t}.parquet'"
        )
    return con.execute(entrymod.oracle_sql()["rag_mmr_rerank"]).fetchall()


def test_rag_mmr_rerank_candidate_missing_embedding(spark, tmp_path):
    """ADVICE r9: a candidate doc_id absent from embeddings must not
    diverge from the oracle — the greedy is seeded from the candidate
    set (oracle's sel1 picks FROM cand) and steps >=2 mirror the
    oracle's inner join to sim (edge-less candidates excluded)."""
    docs = [
        (0, "spark join window filler"),
        (1, "spark join other words here"),
        (2, "spark window more words here"),
        (3, "spark spark join join window window spark join window"),
    ]
    vecs = [(0, [1.0, 0.0, 0.0]), (1, [0.8, 0.6, 0.0]), (2, [0.0, 1.0, 0.0])]
    _write_mmr_corpus(tmp_path, docs, vecs)
    got = [
        (r["doc_id"], r["rank"], r["rel"], r["mmr_score"])
        for r in entrymod.queries()["rag_mmr_rerank"](
            spark, str(tmp_path)
        ).collect()
    ]
    want = [(d, r, rel, s) for d, r, rel, s in _mmr_oracle_rows(tmp_path)]
    assert got == want
    # doc 3 IS a candidate (lex top) yet unembedded: present in neither
    # output past the edge-less exclusion, but the runs must agree on
    # every emitted row
    assert len(got) >= 1


def test_rag_mmr_rerank_single_candidate(spark, tmp_path):
    """ADVICE r9: a 1-candidate corpus yields ZERO similarity pairs —
    the seed rows keep the applyInPandas group alive, matching the
    oracle's sel1 (which emits the single candidate at rank 1)."""
    docs = [(0, "spark join window")]
    vecs = [(0, [1.0, 0.0, 0.0])]
    _write_mmr_corpus(tmp_path, docs, vecs)
    got = [
        (r["doc_id"], r["rank"], r["rel"], r["mmr_score"])
        for r in entrymod.queries()["rag_mmr_rerank"](
            spark, str(tmp_path)
        ).collect()
    ]
    want = [(d, r, rel, s) for d, r, rel, s in _mmr_oracle_rows(tmp_path)]
    assert got == want
    assert len(got) == 1 and got[0][0] == 0 and got[0][1] == 1


def test_rfm_banded_windows_partitioned(spark):
    """a_rfm_segments_banded: every ntile window partitions by
    cohort_month (the fleet valve — no single-partition global sort),
    and the user reduction is one partial-aggregated exchange."""
    df = entrymod.queries()["a_rfm_segments_banded"](spark, SF)
    plan = _formatted_plan(df)
    for m in re.finditer(r"\(\d+\) Window\n(?:.+\n)*?Arguments: (.*)", plan):
        assert "cohort_month" in m.group(1), plan
    assert _n(plan, "Window") >= 3, plan


def test_pretrain_pipeline_plan_shape(spark):
    """The composed 6-stage pretraining chain stays join-safe — no
    CartesianProduct anywhere, every BroadcastNestedLoopJoin one of the
    6 bounded attaches (semantic eval cross, DSIR totals — planned as
    two nodes since r17 stages the per-(doc,bucket) count table and the
    totals cross no longer shares a subtree with the lambda build —
    mixture max, pack carry-ins), and every parquet scan pruned (no
    full-width documents read). Asserted on the ONE-PLAN stress twin, the form
    whose single Catalyst plan exposes the whole chain (the r16
    flagship's localCheckpoint barriers truncate its visible plan to
    the post-selection stages — pinned separately below). Cache is
    cleared first: an earlier test's persisted survivor tables would
    otherwise swap InMemoryRelations into this plan and change the
    join strategies under assertion."""
    spark.catalog.clearCache()
    plan = _formatted_plan(
        entrymod.bench_extras()["curation_pretrain_oneplan"](spark, SF)
    )
    assert _n(plan, "CartesianProduct") == 0, plan
    assert _n(plan, "BroadcastNestedLoopJoin") <= 6, plan
    # widest scan is the 5-column documents table itself
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c for c in m.group(1).split(",") if c]
        assert len(cols) <= 5, m.group(1)
    spark.catalog.clearCache()  # drop the twin's persist marks


def test_chain_spans_skew_safe_canonical_site(spark):
    """dedup_chain_spans (r17 de-skew form): the canonical site per
    shingle is a partial-aggregated ``groupBy(shingle).agg(min(struct))``
    equi-joined back — NOT a ``min().over(partitionBy(shingle))``
    window, which would execute a boilerplate shingle as one sorted
    straggler task (no map-side combine, no AQE skew splitting for
    WindowExec).  Pinned: map-side partial_min on the shingle key,
    exactly ONE equi-join (the join-back — still no candidate PAIR
    table), exactly one Window (the diagonal run window keyed by
    (doc, src_doc, diag), bounded by per-doc occurrence counts), and
    two shuffles + two scans (the agg side re-reads the shingle build;
    codegen array work — the price of bounded task time)."""
    plan = _formatted_plan(
        entrymod.queries()["dedup_chain_spans"](spark, SF)
    )
    assert "partial_min" in plan, plan
    assert _n(plan, "Scan parquet") == 2, plan
    assert _n_shuffles(plan) == 2, plan
    assert _n(plan, "Window") == 1, plan
    n_joins = sum(
        _n(plan, j)
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
    assert n_joins == 1, plan
    for j in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert _n(plan, j) == 0, (j, plan)


def test_textdedup_family_no_hot_key_windows(spark):
    """The r16 verdict's one weak-at-100x pattern: unbounded windows
    partitioned by a corpus-frequency key (shingle / token) in the
    text-dedup family.  De-skewed in r17 to groupBy+agg+join-back;
    this pin keeps the family free of per-shingle/per-token WindowExec
    and requires the map-side partial aggregation that replaced it.
    The remaining Window nodes are keyed by doc-bounded or
    band-bounded partitions only."""
    for q, partial in (
        ("dedup_verbatim_spans", "partial_count"),
        ("dedup_strip_verbatim", "partial_min"),
        ("dedup_setsim_join", "partial_count"),
        ("dedup_containment", "partial_count"),
    ):
        plan = _formatted_plan(entrymod.queries()[q](spark, SF))
        assert partial in plan, (q, plan)
        # No window may partition by the hot corpus-frequency keys.
        for m in re.finditer(r"Arguments: \[[^\]]*windowspecdefinition\(([^)]*)\)", plan):
            spec = m.group(1)
            assert "shingle" not in spec and "__tok" not in spec, (q, spec)


def test_pretrain_pipeline_staged_barriers(spark):
    """curation_pretrain_pipeline (r16 flagship form): the registry
    flagship is the STAGED shape — its returned plan must start from a
    checkpointed survivor set (ExistingRDD scan), not re-embed the
    upstream MinHash subtree, and keep the post-selection stages
    (pack + shard) join-safe."""
    plan = _formatted_plan(
        entrymod.queries()["curation_pretrain_pipeline"](spark, SF)
    )
    assert "ExistingRDD" in plan, plan
    assert _n(plan, "Scan parquet") == 0, plan  # barriers cut all scans
    assert _n(plan, "CartesianProduct") == 0, plan


def test_semdecon_pre_exchange_bound(spark):
    """curation_semantic_decontaminate: the 100 TB contract is "one row
    per corpus vector leaves the map stage" — Spark must plant a
    partial WindowGroupLimit BELOW the single rank exchange so the
    |corpus| x |eval| cross-scored rows collapse to one per vector
    before anything shuffles (SCALE.md observed it in the r14 probe;
    this pins it — VERDICT r14 item 6). The eval set reaches the
    scorer as a broadcast (the bounded BNLJ cross), never a corpus
    shuffle-join."""
    plan = _formatted_plan(
        entrymod.queries()["curation_semantic_decontaminate"](spark, SF)
    )
    assert _n(plan, "WindowGroupLimit") == 2, plan  # partial + final
    assert _n_shuffles(plan) == 1, plan  # + scan-spread round-robins only
    assert _n(plan, "SortMergeJoin") == 0, plan
    assert _n(plan, "CartesianProduct") == 0, plan
    tree = plan.split("\n\n")[0]
    lines = tree.splitlines()
    wgl = [i for i, l in enumerate(lines) if "WindowGroupLimit" in l]
    exch = [
        i
        for i, l in enumerate(lines)
        if "+- Exchange" in l or ":- Exchange" in l
    ]
    # tree prints top-down: the FINAL limit, then the rank exchange, then
    # the PARTIAL limit underneath it.  Scan-spread round-robins (if any)
    # sit BELOW the partial limit, next to the scans; no exchange may
    # appear above the final limit.
    assert len(wgl) == 2, tree
    assert all(i > wgl[0] for i in exch), tree
    between = [i for i in exch if wgl[0] < i < wgl[1]]
    assert len(between) == 1, tree


def test_ivf_adc_plan_shape(spark):
    """ann_ivf_adc_topk: the corpus is never shuffle-joined — centroids,
    probes and survivors all reach their joins as broadcasts (no SMJ, no
    cartesian; the two bounded nested-loops are the tiny centroid cross
    join and the r17 1-ROW quantizer-stats attach that replaced the
    explode -> stats join -> collect_list corpus rebuild) — and every
    rank window is preceded by a WindowGroupLimit partial top-k so the
    exchanges carry only candidate rows."""
    plan = _formatted_plan(entrymod.queries()["ann_ivf_adc_topk"](spark, SF))
    assert _n(plan, "SortMergeJoin") == 0, plan
    assert _n(plan, "CartesianProduct") == 0, plan
    assert _n(plan, "BroadcastNestedLoopJoin") <= 2, plan
    assert _n(plan, "WindowGroupLimit") >= 3, plan
    assert _n_shuffles(plan) <= 7, plan


def test_kn_perplexity_plan_shape(spark):
    """text_kn_perplexity: every KN model join attaches broadcast (type
    table vs its own narrow aggregates), the occurrence-side join is the
    only wide hash join, and no window appears at all (the per-doc sum
    is a plain aggregate). Pin measured r11: lazy-pinning bg/types LOST
    (1.09 -> 1.15/1.40 s at sf0.1) because every consumer is exchange-
    shaped — the r10 pin rule's unprofitable case, so the plan stays
    unpinned and this test documents that decision."""
    plan = _formatted_plan(entrymod.queries()["text_kn_perplexity"](spark, SF))
    assert _n(plan, "SortMergeJoin") == 0, plan
    assert _n(plan, "CartesianProduct") == 0, plan
    assert _n(plan, "Window") == 0, plan
    assert _n_shuffles(plan) <= 8, plan


def test_heavy_hitters_window_input_bounded(spark):
    """a_heavy_hitters_mg: the ONLY unpartitioned window (the benign
    source of the bench-tail `WindowExec: No Partition Defined`
    warnings) must rank the Misra-Gries candidate RECOUNT — i.e. its
    input chain is HashAggregate over a BroadcastHashJoin LeftSemi
    against the MapInPandas candidate summaries (<= capacity rows per
    partition summary, so the window frame is provably bounded). If a
    refactor drops the semi-join prefilter, the window would rank the
    full vocabulary and this pin fails."""
    plan = _formatted_plan(
        entrymod.queries()["a_heavy_hitters_mg"](spark, SF)
    )
    assert _n(plan, "Window") == 1, plan
    # Tree section: single chain, so line order == ancestry. The window
    # must sit ABOVE the LeftSemi recount, which must sit ABOVE the
    # MapInPandas MG summary feeding the broadcast build side.
    tree = plan.split("\n\n")[0]
    i_win = tree.index("Window")
    i_semi = tree.index("BroadcastHashJoin LeftSemi")
    i_mg = tree.index("MapInPandas")
    assert i_win < i_semi < i_mg, tree
    # and the candidate set reaches the join as a broadcast, never a
    # shuffled build
    assert "BroadcastExchange" in tree, tree


def test_prf_expand_plan_shape(spark):
    """rag_prf_expand: the pinned term-count table feeds four
    consumers — no cartesian, every feedback/expansion attach is a
    broadcast hash join, and the only unpartitioned window ranks the
    <=10 surviving rows."""
    plan = _formatted_plan(entrymod.queries()["rag_prf_expand"](spark, SF))
    assert _n(plan, "CartesianProduct") == 0, plan
    assert _n(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert _n(plan, "BroadcastHashJoin") >= 2, plan


def test_late_interaction_plan_shape(spark):
    """rag_late_interaction: the 4-row query bag is the ONLY nested-
    loop side (broadcast scalar-attach convention); corpus side is one
    pruned scan; aggregation is a single hash-agg exchange."""
    plan = _formatted_plan(
        entrymod.queries()["rag_late_interaction"](spark, SF)
    )
    assert _n(plan, "CartesianProduct") == 0, plan
    assert _n(plan, "BroadcastNestedLoopJoin") <= 1, plan
    assert _n(plan, "Scan parquet") == 2, plan
    assert _n_shuffles(plan) <= 2, plan


def test_target_encode_loo_plan_shape(spark):
    """ml_target_encode_loo: one pruned scan (value pushed non-null,
    4 columns), one exchange, and the LOO window partitions by the
    encoding key."""
    plan = _formatted_plan(
        entrymod.queries()["ml_target_encode_loo"](spark, SF)
    )
    assert _n(plan, "Scan parquet") == 1, plan
    assert _n(plan, "Exchange") == 1, plan
    m = re.search(r"\(\d+\) Window\n(?:.+\n)*?Arguments: (.*)", plan)
    assert m and "user_id" in m.group(1) and "event_type" in m.group(1), plan


def test_ccnet_banded_window_input_is_histogram(spark):
    """curation_ccnet_buckets_banded (r12, VERDICT r11 item 3): the
    scale valve's whole point is that NO per-source window ever sees
    cohort-sized input.  Both windows (cumulative + total counts) must
    rank the (source, band) HISTOGRAM — i.e. a HashAggregate sits
    between each Window and any parquet scan — and the tercile cutoffs
    must reach the doc-side join as a broadcast, never a shuffled
    build.  If a refactor re-introduced the ntile-over-cohort shape,
    the Window would consume the scored docs directly and this pin
    fails."""
    plan = _formatted_plan(
        entrymod.queries()["curation_ccnet_buckets_banded"](spark, SF)
    )
    assert _n(plan, "SortMergeJoin") == 0, plan
    assert _n(plan, "CartesianProduct") == 0, plan
    # exactly the two per-source histogram windows; the KN scorer side
    # is window-free (pinned separately by test_kn_perplexity_plan_shape)
    assert _n(plan, "Window") == 2, plan
    tree = plan.split("\n\n")[0]
    i_win = tree.index("Window")
    i_scan = tree.index("Scan parquet", i_win)
    assert "HashAggregate" in tree[i_win:i_scan], tree[i_win:i_scan]
    assert "BroadcastExchange" in tree, tree


def test_ivf_adc_serving_plan_shape(spark):
    """ann_ivf_adc_serving (r12, VERDICT r11 item 6): the fixed-budget
    serving twin keeps the registry form's plan invariants — corpus
    never shuffled for a sort-merge join, rank exchanges
    WindowGroupLimit-bounded — and the constant query budget reaches
    the parquet scan as a pushed LessThan filter, so the query side is
    pruned at the source no matter how large the corpus grows."""
    plan = _formatted_plan(
        entrymod.bench_extras()["ann_ivf_adc_serving"](spark, SF)
    )
    assert _n(plan, "SortMergeJoin") == 0, plan
    assert _n(plan, "CartesianProduct") == 0, plan
    assert _n(plan, "WindowGroupLimit") >= 3, plan
    assert "LessThan(vec_id,162)" in plan.replace(" ", ""), plan


def test_kn3_perplexity_plan_shape(spark):
    """text_kn3_perplexity (r12): same topology contract as the bigram
    scorer one order up — every model join attaches broadcast (the
    trigram type table vs its own narrow aggregates), the occurrence
    side is the only wide hash join, no window anywhere (the per-doc
    sum is a plain aggregate). Exchange budget 13: five model tables
    recompute the narrow trigram lineage rather than pinning it — the
    bigram's measured r11 rule (pinning LOSES when every consumer is
    exchange-shaped) applied one order up, and the r12 probe reads
    8x ratio 2.6 / 64x 7.8 unpinned."""
    plan = _formatted_plan(
        entrymod.queries()["text_kn3_perplexity"](spark, SF)
    )
    assert _n(plan, "SortMergeJoin") == 0, plan
    assert _n(plan, "CartesianProduct") == 0, plan
    assert _n(plan, "Window") == 0, plan
    assert _n_shuffles(plan) <= 13, plan


def test_ivf_pq_plan_shape(spark):
    """ann_ivf_pq_topk (r13, VERDICT r12 item 5): the PQ corpus side is
    ONE narrow projection — codes and the reconstructed ADC vector are
    literal-codebook expressions — so unlike the SQ8 form there is no
    per-dimension explode/aggregate and no re-join on the corpus: plan
    invariants are no SortMergeJoin, no cartesian product, and every
    rank boundary WindowGroupLimit-bounded. The serving twin must
    additionally push its constant 162-query budget to the parquet
    scan."""
    plan = _formatted_plan(entrymod.queries()["ann_ivf_pq_topk"](spark, SF))
    assert _n(plan, "SortMergeJoin") == 0, plan
    assert _n(plan, "CartesianProduct") == 0, plan
    assert _n(plan, "WindowGroupLimit") >= 3, plan

    serving = _formatted_plan(
        entrymod.bench_extras()["ann_ivf_pq_serving"](spark, SF)
    )
    assert _n(serving, "SortMergeJoin") == 0, serving
    assert _n(serving, "CartesianProduct") == 0, serving
    assert "LessThan(vec_id,162)" in serving.replace(" ", ""), serving


def _run_plans(monkeypatch, build) -> list[str]:
    """Executed plans of every frame ``build()`` collects or
    localCheckpoints, then of the frame it returns (if any): a query's
    Spark work includes what its function runs before the final action."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans: list[str] = []
    for name in ("collect", "localCheckpoint"):

        def rec(self, *a, _orig=getattr(DataFrame, name), **kw):
            plans.append(self._jdf.queryExecution().executedPlan().toString())
            return _orig(self, *a, **kw)

        monkeypatch.setattr(DataFrame, name, rec)
    out = build()
    if isinstance(out, DataFrame):
        plans.append(out._jdf.queryExecution().executedPlan().toString())
    return plans


def test_vector_argmin_and_buckets_are_arrow_kernels(spark, monkeypatch):
    """emb_kmeans_assign (Lloyd rounds and final assignment), the PQ
    training pass and emb_semantic_dedup's bucket run their vector
    decision in a MapInArrow kernel: no plan they run holds an
    interpreted ``aggregate(zip_with(...))`` argmin or bucket fold."""
    from cassandra_fs_pp_spark.operators.similarity import (
        coarse_centroids,
        pq_train_codebooks,
        residualize,
    )
    from cassandra_fs_pp_spark.sources.tables import load_table

    emb = load_table(spark, SF, "embeddings")
    builds = {
        "emb_kmeans_assign": lambda: entrymod.queries()["emb_kmeans_assign"](spark, SF),
        "emb_semantic_dedup": lambda: entrymod.queries()["emb_semantic_dedup"](spark, SF),
        "pq_train_codebooks": lambda: pq_train_codebooks(
            residualize(emb, coarse_centroids(emb)), vec_col="rvec", m=8, ks=8,
            iterations=1,
        ),
    }
    for name, build in builds.items():
        plans = _run_plans(monkeypatch, build)
        assert any("MapInArrow" in p for p in plans), (name, plans)
        for p in plans:
            assert "aggregate(zip_with" not in p, (name, p)


def test_veckernels_imports_no_pandas():
    """Every kernel is a mapInArrow factory over Arrow buffers; the
    module imports no pandas."""
    import ast
    import inspect

    from cassandra_fs_pp_spark.operators import veckernels

    tree = ast.parse(inspect.getsource(veckernels))
    mods = {a.name for n in ast.walk(tree) if isinstance(n, ast.Import) for a in n.names}
    mods |= {n.module for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)}
    assert not {m for m in mods if m and m.split(".")[0] == "pandas"}, mods


def test_kn5_perplexity_plan_shape(spark):
    """text_kn5_perplexity (r13): the kn3 topology two orders up — all
    nine model tables attach broadcast (each is a narrow aggregate of
    the 5-gram type table), the occurrence side is the only wide hash
    join, no window anywhere. Exchange budget 23: the model tables
    recompute the narrow 5-gram lineage unpinned, the same measured
    rule as kn2/kn3 (pinning LOSES when every consumer is
    exchange-shaped)."""
    plan = _formatted_plan(
        entrymod.queries()["text_kn5_perplexity"](spark, SF)
    )
    assert _n(plan, "SortMergeJoin") == 0, plan
    assert _n(plan, "CartesianProduct") == 0, plan
    assert _n(plan, "Window") == 0, plan
    assert _n_shuffles(plan) <= 23, plan


def test_plan_audit_counts_scans_by_table(spark, sf_dir, monkeypatch):
    """``scripts/plan_audit.audit`` names each scan's table, so a lineage
    that re-plans a table shows without a probe: a self-join of
    documents is two scans of one table."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scripts")
    )
    import plan_audit

    monkeypatch.setattr(plan_audit, "SF_DIR", sf_dir)

    def self_join(spark_, sf_dir):
        d = spark_.read.parquet(f"{sf_dir}/documents.parquet")
        return d.alias("a").join(d.alias("b"), "doc_id")

    section = plan_audit.audit(spark, "self_join", self_join)
    assert "- scans: 2," in section, section
    assert "- scans by table: documents×2\n" in section, section


def test_bpe_build_and_triangle_census_job_budget(spark):
    """Building ``text_bpe_tokenize_trie`` runs the trainer's one corpus
    pass and one collect of the word-type table, then learns every merge
    on the driver: at most 4 Spark jobs (19 with a pair count and an
    argmax collect per round).  Executing ``graph_triangle_count`` runs
    at most 9 (13 with a separate aggregate per node, edge and wedge
    count)."""
    from tests.test_toa5_pipeline import _jobs

    qs = entrymod.queries()
    n_build = _jobs(
        spark, "bpe-trie-build", lambda: qs["text_bpe_tokenize_trie"](spark, SF)
    )
    assert n_build <= 4, n_build
    tri = qs["graph_triangle_count"](spark, SF)
    n_exec = _jobs(
        spark,
        "triangle-noop",
        lambda: tri.write.format("noop").mode("overwrite").save(),
    )
    assert n_exec <= 9, n_exec
