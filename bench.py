"""Benchmark harness (driver contract).

Runs the headline queries from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timing = full plan execution to a count-style action (foreach noop would
skip result materialization; ``df.write.format('noop')`` materializes every
row without driver collection — the honest at-scale measure).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from cassandra_fs_pp_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline subset: one per operator layer (scan/agg, dedup, window,
# join, as-of, time-series spine). Keep <= ~10 for a tight feedback loop.
HEADLINE = [
    "tpch_q1",
    "tpch_q3_top_orders",
    "tpch_q6",
    "tpch_q10_returns",
    "tpch_q13_custdist",
    "tpch_q18_large_orders",
    "flagship_events_hourly",
    "p3_dedup_keep_first",
    "a8_resample_hourly",
    "w1_rolling_median_2d",
    "j1_calibration_fallback",
    "j4_asof_backward",
    "dedup_minhash_cluster",
    # ann_bruteforce_topk is deliberately NOT here: it is a quadratic
    # BroadcastNestedLoopJoin kept only as the exactness baseline for
    # ann_block_topk's differential test (tests/test_similarity.py).
    # The headline ANN paths are the scale-credible ones below.
    "ann_block_topk",
    "ann_lsh_topk",
    "curation_decontaminate",
    "curation_pipeline",
    "emb_label_inertia",
    "p_debounce_burst",
    "p_debounce_burst_keyed",
    "w_rolling_skewkurt_keyed",
    "a_time_weighted_avg",
    "fleet_udg_filter",
    "fleet_tdr_depth",
    "emb_semantic_dedup",
    "curation_quality_logreg",
    "ann_matryoshka_topk",
    "j_interval_overlap",
    "geo_grid_join",
    "fuzzy_match_join",
    "emb_gram_matrix",
    # round-4 additions: the two round-3 heavyweights whose join volume
    # could curve at scale (Misra-Gries summary merge; O(m^1.5) wedge
    # join) — headline membership gives them per-round bench + SCALE rows.
    "a_heavy_hitters_mg",
    "graph_triangle_count",
    # round-10 addition: arbitrary-alignment verbatim dedup (the
    # suffix-array training-data-dedup shape) — the heaviest text-dedup
    # stage, headlined so its shingle-count shuffle gets per-round bench
    # + SCALE visibility. NOTE when comparing walls across rounds: +1
    # query (~2 s) vs the r4-r9 suite composition.
    "dedup_verbatim_spans",
    # round-11 addition: the composed IVF+ADC+exact-rerank serving shape
    # (probe-pruned compressed scan) — headlined as the flagship ANN
    # path. NOTE: +1 query (~1.9 s) vs the r10 suite composition.
    "ann_ivf_adc_topk",
    # round-12 addition (VERDICT r11 item 6): the fixed-query-budget
    # serving twin — constant 162-query batch against the growing corpus,
    # so the tracked number reflects the O(|q|) serving shape instead of
    # the registry form's corpus-proportional query set. Bench-only
    # (bench_extras); correctness pinned by ann_ivf_adc_topk's oracle.
    # NOTE: +1 query vs the r11 suite composition.
    "ann_ivf_adc_serving",
    # round-13 addition (VERDICT r12 item 5): IVF + product quantization
    # + exact rerank — codebook training (2 fixed-point Lloyd rounds) plus
    # the one-narrow-scan compressed search; the serving twin tracks the
    # same fixed-162-query budget as the SQ8 twin for a like-for-like
    # ADC-vs-PQ serving comparison. NOTE: +2 queries vs the r12 suite
    # composition (one registry, one bench-only twin).
    "ann_ivf_pq_topk",
    "ann_ivf_pq_serving",
    # round-14 additions (VERDICT r13 items 5+6): DSIR importance
    # resampling (now the paper's hashed unigram+bigram features) and the
    # rank-table BPE tokenizer whose merge depth is a closure constant
    # (the production-vocabulary path the replace chain can't take).
    # NOTE: +2 queries vs the r13 suite composition.
    "curation_dsir_select",
    "text_bpe_tokenize_trie",
    # round-14 late additions: the trained logreg classifier (3 GD
    # rounds = 7 jobs — the heavy one), embedding-space benchmark
    # decontamination, and the Gopher repetition filters.
    # NOTE: +3 queries vs the r14-snapshot suite composition.
    "curation_logreg_trained",
    "curation_semantic_decontaminate",
    "text_repetition_flags",
    # round-15 additions (VERDICT r14 items 5+7): the end-to-end
    # pretraining curation flagship (dedup -> quality -> decon -> DSIR
    # mixture -> pack -> shard) and the batched BPE trainer (disjoint
    # rules per counting round).
    # NOTE: +2 queries vs the r14 suite composition.
    # r16 (VERDICT r15 item 1): the flagship row is now the STAGED
    # (localCheckpoint-barrier) form — the production stage-to-storage
    # shape; its r15 value (~24 s) measured the one-plan form, which
    # moved to the stress-twin row below (~20-24 s expected there).
    "curation_pretrain_pipeline",
    "text_bpe_merges_batched",
    # round-16 addition (VERDICT r15 item 8): suffix-chain exact
    # substring dedup — the single-consistent-partner refinement of
    # dedup_verbatim_spans (lockstep chaining against each shingle's
    # corpus-canonical occurrence). Headlined like the other text-dedup
    # stages so its two-shuffle shingle plan gets per-round bench +
    # SCALE visibility. NOTE: +1 query (~1.7 s) vs the r15 and
    # r16-quiet suite compositions (46 -> 47).
    "dedup_chain_spans",
]

# Diagnostics leg (r17, VERDICT r16 item 3): measured every round with
# the same best-of-2 discipline. `curation_pretrain_oneplan` is the
# one-plan stress twin of the staged flagship (persist reuse marks,
# single Catalyst plan, ~128 embedded MinHash subtrees — the measured
# exhibit of fixed plan-analysis cost; identical rows, pinned by a
# pytest differential). It spent r16 INSIDE the headline suite, where
# its ~25 s (23% of wall) made every cross-round comparison need a
# composition footnote to re-prove a settled point. Contract-preserving
# split: the row STAYS inside ``queries`` and ``value`` (the driver's
# per-query series must never lose an entry, and ``value`` must sum the
# same query set as prior rounds), while the ADDITIVE ``headline`` /
# ``diagnostics`` output keys report the deployment-shape wall
# separately (47 queries in value; headline = the 46 non-twin rows).
DIAGNOSTICS = [
    "curation_pretrain_oneplan",
]


def _calibrate(spark) -> float:
    """Fixed, data-independent JVM-side drift canary.

    Three rounds (r5, r9, r10) recorded suite walls inflated 1.1-1.4x by
    host load, each costing a cycle of regression triage before quiet-host
    reruns reproduced the prior round's numbers.  This canary times a
    constant whole-stage-codegen workload (range sum: no IO, no shuffle,
    no Python) so a loaded host is self-identifying: if ``calib`` moved,
    the wall moved with the host, not the code.  Normalization rule
    (SCALE.md): compare rounds as ``value * (calib_ref / calib)`` where
    calib_ref is the quiet-host calib recorded in SCALE.md.
    """
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        spark.range(300_000_000).selectExpr("sum(id * 2)").collect()
        best = min(best, time.time() - t0)
    return round(best, 3)


def _calibrate_io(spark) -> float:
    """Second drift-canary leg: a fixed parquet SCAN (r15, VERDICT r14
    item 2). The codegen-only canary above has no IO/shuffle, so r14's
    host slowdown hit the suite 1.4x while calib moved only +9% — the
    official bench artifact was unreadable without a quiet-host twin
    run. This leg times one full pass over the lineitem file (sum over
    two money columns + count — scan-dominated, one partial-agg
    exchange), so normalization covers the dominant cost class of the
    suite: SCALE.md's rule uses ``calib`` for codegen-bound rows and
    ``calib_io`` for IO/shuffle-bound ones."""
    path = os.path.join(SF_DIR, "lineitem.parquet")
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        spark.read.parquet(path).selectExpr(
            "sum(l_extendedprice)", "sum(l_quantity)", "count(*)"
        ).collect()
        best = min(best, time.time() - t0)
    return round(best, 3)


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def main() -> None:
    spark = get_spark("bench")
    qs = entrymod.queries()
    # bench-only load-profile twins (not part of the driver correctness
    # contract; see __spark_entry__.bench_extras)
    if hasattr(entrymod, "bench_extras"):
        qs = {**qs, **entrymod.bench_extras()}
    names = [n for n in HEADLINE if n in qs]
    diag_names = [n for n in DIAGNOSTICS if n in qs]
    # Optional explicit list, to time only the queries under
    # investigation (non-headline registry queries included):
    # comma-separated names in $SPARK_GRAFT_BENCH_QUERIES. An explicit
    # list reports everything under "queries" and skips the diagnostics
    # leg; test_bench_json_contract runs the bench this way.
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        names = [q.strip() for q in only.split(",") if q.strip() in qs]
        diag_names = []

    # Warm pass (untimed): run every query once so the Janino compiles of
    # its generated classes, their JIT and the parquet footer caches don't
    # land on whichever query happens to touch a code path first. The
    # session's codegen cache holds every class the suite generates
    # (session.CODEGEN_CACHE_ENTRIES), so the timed passes below compile
    # only the few classes whose source differs from run to run
    # (``codegen_compiles``) and measure steady-state throughput — the
    # number that scales to a long-lived cluster.
    for name in names + diag_names:
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    # Drop whatever the pass persisted (the one-plan flagship twin's
    # survivor caches are never unpersisted by design — ADVICE r15):
    # without this, (a) InMemoryRelations accumulate across the 3
    # invocations each query gets per bench process, and (b) the staged
    # flagship's pre-barrier subtrees plan-match the twin's cached
    # survivors and time a cache read instead of the pipeline.
    spark.catalog.clearCache()

    # Drift canaries, leg 1 (post-warm, pre-suite). A second leg runs
    # after the timed passes; the emitted values are the min of both
    # legs, so a transient spike has to span the whole suite to
    # contaminate them.
    calib = _calibrate(spark)
    calib_io = _calibrate_io(spark)

    # Per-query best-of-2, INTERLEAVED (two full suite passes, min per
    # query): a single timed pass is hostage to GC debt left by whichever
    # queries ran before it, and back-to-back reps of one query both land
    # inside any transient host-contention window (observed: untouched
    # head-of-suite queries reading 2.6x their controlled time in one
    # round's official run). Spreading the reps a full suite apart means
    # a spike has to persist ~the whole suite to survive the min.
    best: dict[str, float] = {n: float("inf") for n in names + diag_names}
    compiles = _codegen_compiles(spark)
    for _ in range(2):
        for name in names + diag_names:
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            best[name] = min(best[name], time.time() - t0)
        spark.catalog.clearCache()  # see the post-warm-pass note above
    compiles = _codegen_compiles(spark) - compiles
    timings = {n: round(best[n], 3) for n in names}
    diag = {n: round(best[n], 3) for n in diag_names}

    # Drift canaries, leg 2 (post-suite); emit the min of both legs.
    calib = min(calib, _calibrate(spark))
    calib_io = min(calib_io, _calibrate_io(spark))

    print(json.dumps(assemble_output(
        timings, diag, _sf_from_dir(SF_DIR), calib, calib_io, compiles
    )))


def _codegen_compiles(spark) -> int:
    """Janino compiles so far in this JVM (Spark's ``CodegenMetrics``):
    generated classes that missed the codegen cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def assemble_output(
    timings: dict,
    diag: dict,
    sf: float,
    calib: float,
    calib_io: float,
    codegen_compiles: int | None = None,
) -> dict:
    """Build the one-line JSON payload (driver contract).

    ``queries`` may gain entries but NEVER lose one, and ``value`` stays
    the sum over the same query set as prior rounds — so the diagnostics
    rows remain inside both (r16-comparable), and the deployment-shape
    split is reported via the ADDITIVE ``headline`` / ``diagnostics``
    keys (VERDICT r16 item 3, contract-preserving form).
    ``codegen_compiles`` (additive) counts the Janino compiles of the
    timed passes.
    """
    all_timings = {**timings, **diag}
    out = {
        "metric": "headline_suite_wall",
        "value": round(sum(all_timings.values()), 3),
        "unit": "sec",
        "queries": all_timings,
        "sf": sf,
        "calib": calib,
        "calib_io": calib_io,
    }
    if codegen_compiles is not None:
        out["codegen_compiles"] = codegen_compiles
    if diag:
        # deployment-shape wall (headline suite only) + the stress-twin
        # exhibit rows, for cross-round comparison without a composition
        # footnote; both are derivable from ``queries`` — pure annotations
        out["headline"] = round(sum(timings.values()), 3)
        out["diagnostics"] = diag
    return out


if __name__ == "__main__":
    main()
