"""Scale-up probe: does the headline suite scale ~linearly?

Synthesizes an N× copy of the fact tables (key spaces shifted so joins,
dedup groups, and LSH buckets GROW instead of stacking duplicates), writes
it as parquet, runs the bench headline suite at 1× and N×, and reports the
wall-time ratio per query. A query whose ratio is far above N has a plan
that won't survive the 100 TB scale-up (quadratic candidate sets, driver
materialization, broadcast of a grown side...).

Usage: python scripts/scale_probe.py [N]        (default 8; writes SCALE.md)
       python scripts/scale_probe.py --skew     (standing skew leg: Zipf
           user_id mass + boilerplate-shingle documents twin at 1x rows;
           prints the base-vs-skew table for SKEW_QUERIES)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import HEADLINE
from cassandra_fs_pp_spark.session import get_spark
from cassandra_fs_pp_spark.sources.tables import TABLES, load_table

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Permanent 64x deep set: the historical worst-8x ratios plus the
# operators whose candidate volume could curve super-linearly (triangle
# wedge join O(m^1.5), Misra-Gries merge, pigeonhole fuzzy blocking).
# Used when multiple Ns are given without an explicit --deep=.
DEFAULT_DEEP = [
    "tpch_q18_large_orders",
    "dedup_minhash_cluster",
    "ann_lsh_topk",
    "curation_decontaminate",
    "p_debounce_burst",
    "p_debounce_burst_keyed",
    "w_rolling_skewkurt_keyed",
    "j_interval_overlap",
    "geo_grid_join",
    "fuzzy_match_join",
    "emb_gram_matrix",
    "a_heavy_hitters_mg",
    "graph_triangle_count",
    # multi-station TOA5 pipeline — closest analogue to the reference's
    # real workload; 8x ratios were ~1 (fixed overheads dominate), the
    # 64x rows give it the same evidence depth as the TPC-H spine
    "fleet_udg_filter",
    "fleet_tdr_depth",
]

FACT_SHIFT = {
    # table -> (id columns to shift so the key space grows per copy)
    "events": ("event_id", "user_id"),
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
SHIFT = 10_000_000

# Cells-proportional operators (r16, VERDICT r15 item 5): their
# documented deployment contract grows the coarse codebook WITH the
# corpus (constant per-cell occupancy), so the standing probe times
# them against a corpus whose `label` space also grows per copy.
# Holding labels fixed while vectors grow Nx makes per-cell candidate
# lists grow Nx and the corpus-as-queries volume N² — the r15 table's
# 18.8x/20.6x artifact ratios that needed a footnote
# (`scripts/r15_probe.py --ivf-cells`, last present in commit 58c3783,
# measured 2.8x under the contract).
CELLS_PROPORTIONAL = ["ann_ivf_topk", "ann_ivf_adc_topk"]
LABEL_SHIFT = 1000

# Standing skew leg (r17, VERDICT r16 items 1+5): the cells∝n protocol
# catches codebook-contract artifacts; this leg catches TASK-SKEW — the
# failure AQE can't fix for WindowExec and partial aggregation can't
# fix for pair joins. The twin keeps row counts at 1x and skews only
# the KEY distributions, so base-vs-skew wall ratios isolate straggler
# behavior (modulo legitimately larger dedup output on the boilerplate
# docs — the emitted spans are real duplicates).
SKEW_QUERIES = [
    # text-dedup family: hot shingles / hot tokens (de-skewed r17 from
    # per-shingle windows to partial-agg + join-back)
    "dedup_verbatim_spans",
    "dedup_strip_verbatim",
    "dedup_chain_spans",
    "dedup_setsim_join",
    "dedup_containment",
    # minhash LSH cluster: hot (band, band_sig) buckets (de-skewed r18
    # from the bucket-rep window to pinned-frame agg + join-back)
    "dedup_minhash_cluster",
    # keyed-window / sessionize family: hot user_id
    "a_sessionize",
    "p_debounce_burst_keyed",
    "w_rolling_skewkurt_keyed",
]
# 48 tokens >= 41 duplicated 8-shingles per affected doc — long enough
# that the boilerplate dominates each hot doc's shingle set.
BOILERPLATE = " ".join(
    f"boiler{i:02d}" for i in range(24)
) + " " + " ".join(f"plate{i:02d}" for i in range(24))


def synthesize_skew_twin(spark, out_dir: str) -> None:
    """Zipf-skewed twin of BASE at identical row counts.

    * documents: a fixed 48-token boilerplate phrase is PREPENDED to
      ~20% of docs (hash-selected) — every one of its k-shingles
      becomes a corpus-hot key shared by tens of thousands of docs,
      the exact shape that made the r16 window forms run one sorted
      straggler task per hot shingle.
    * events: ``user_id`` remapped so a harmonic head of 5 hot users
      holds ~67% of all rows (hottest ~30%) — Zipf-shaped key mass for
      the sessionize / keyed-window family.
    * all other tables: symlinks to BASE (unchanged).
    """
    os.makedirs(out_dir, exist_ok=True)
    docs = load_table(spark, BASE, "documents")
    hot = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(5)) == 0
    docs.withColumn(
        "text",
        F.when(hot, F.concat(F.lit(BOILERPLATE + " "), F.col("text")))
        .otherwise(F.col("text")),
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))

    ev = load_table(spark, BASE, "events")
    u = F.pmod(F.xxhash64(F.col("event_id").cast("string")), F.lit(1000))
    ev.withColumn(
        "user_id",
        F.when(u < 300, F.lit(1))
        .when(u < 450, F.lit(2))
        .when(u < 550, F.lit(3))
        .when(u < 620, F.lit(4))
        .when(u < 670, F.lit(5))
        .otherwise(F.col("user_id"))
        .cast(dict(ev.dtypes)["user_id"]),
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "events.parquet"))

    for name in TABLES:
        if name in ("documents", "events"):
            continue
        link = os.path.join(out_dir, f"{name}.parquet")
        target = os.path.join(BASE, f"{name}.parquet")
        if not os.path.exists(link) and os.path.exists(target):
            os.symlink(target, link)


def run_skew_leg() -> None:
    """`--skew` mode: print the base-vs-skew table for SKEW_QUERIES
    (pasted into the current round's SCALE.md addendum — this function
    deliberately does not rewrite SCALE.md)."""
    spark = get_spark("scale_probe_skew")
    out_dir = os.path.join(tempfile.gettempdir(), "scale_probe_skew")
    t0 = time.time()
    synthesize_skew_twin(spark, out_dir)
    print(f"synthesized skew twin at {out_dir} in {time.time()-t0:.0f}s")
    spark.stop()
    base = run_bench(BASE, queries=SKEW_QUERIES)
    skew = run_bench(out_dir, queries=SKEW_QUERIES)
    lines = [
        "| query | base sec | skew sec | skew/base |",
        "|---|---|---|---|",
    ]
    for q in SKEW_QUERIES:
        t1, t2 = base["queries"].get(q), skew["queries"].get(q)
        if t1 and t2:
            lines.append(f"| {q} | {t1} | {t2} | {round(t2 / t1, 1)} |")
    print("\n".join(lines))


def synthesize(spark, n: int, out_dir: str) -> None:
    for name in TABLES:
        df = load_table(spark, BASE, name)
        if name in FACT_SHIFT:
            copies = [df]
            for i in range(1, n):
                c = df
                for col in FACT_SHIFT[name]:
                    c = c.withColumn(col, F.col(col) + F.lit(i * SHIFT))
                copies.append(c)
            out = copies[0]
            for c in copies[1:]:
                out = out.unionByName(c)
        else:
            out = df
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))


def synthesize_cells_twin(spark, n: int, fixed_dir: str, out_dir: str) -> None:
    """Cells-proportional twin of a synthesized Nx dir: a grown-label
    embeddings table plus symlinks to the fixed dir's other tables (the
    CELLS_PROPORTIONAL queries read only embeddings, so nothing else
    needs a second copy)."""
    os.makedirs(out_dir, exist_ok=True)
    df = load_table(spark, BASE, "embeddings")
    copies = [df]
    for i in range(1, n):
        copies.append(
            df.withColumn("vec_id", F.col("vec_id") + F.lit(i * SHIFT))
            .withColumn("label", F.col("label") + F.lit(i * LABEL_SHIFT))
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )
    for name in TABLES:
        if name == "embeddings":
            continue
        link = os.path.join(out_dir, f"{name}.parquet")
        target = os.path.join(fixed_dir, f"{name}.parquet")
        if not os.path.exists(link) and os.path.exists(target):
            os.symlink(target, link)


def run_bench(sf_dir: str, repeats: int = 2, queries: list[str] | None = None) -> dict:
    """Per-query MIN over ``repeats`` fresh bench processes: a single pass
    is hostage to whatever GC/allocator state the 19 preceding queries
    left behind (observed 10x swings on the suite tail); the min over
    independent JVMs is the steady-state number the ratio should grade."""
    best: dict | None = None
    for _ in range(repeats):
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
        if queries:
            env["SPARK_GRAFT_BENCH_QUERIES"] = ",".join(queries)
        p = subprocess.run(
            [sys.executable, "bench.py"], capture_output=True, text=True, env=env,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        line = [l for l in p.stdout.splitlines() if l.startswith('{"metric"')][-1]
        r = json.loads(line)
        if best is None:
            best = r
        else:
            best["queries"] = {
                q: min(v, r["queries"].get(q, v))
                for q, v in best["queries"].items()
            }
    assert best is not None
    best["value"] = round(sum(best["queries"].values()), 3)
    return best


def main() -> None:
    # scale_probe.py [N ...] [--deep=q1,q2,...]
    #   full headline suite at every N except ones beyond the first, which
    #   (when --deep is given) time only the deep subset — the 64x pass
    #   exists to confirm the WORST 8x ratios stay linear, not to re-time
    #   two dozen already-flat queries at an hour of wall each.
    argv = sys.argv[1:]
    deep: list[str] | None = None
    ns: list[int] = []
    for a in argv:
        if a == "--skew":
            run_skew_leg()
            return
        if a.startswith("--deep="):
            deep = [q.strip() for q in a.split("=", 1)[1].split(",")]
        else:
            ns.append(int(a))
    if not ns:
        ns = [8]
    if deep is None and len(ns) > 1:
        deep = list(DEFAULT_DEEP)

    spark = get_spark("scale_probe")
    dirs: dict[int, str] = {}
    cells_dirs: dict[int, str] = {}
    for n in ns:
        out_dir = os.path.join(tempfile.gettempdir(), f"scale_probe_{n}x")
        t0 = time.time()
        synthesize(spark, n, out_dir)
        dirs[n] = out_dir
        cells_dirs[n] = os.path.join(
            tempfile.gettempdir(), f"scale_probe_{n}x_cells"
        )
        synthesize_cells_twin(spark, n, out_dir, cells_dirs[n])
        print(f"synthesized {n}x at {out_dir} (+cells twin) "
              f"in {time.time()-t0:.0f}s")
    spark.stop()

    # deep targets outside the bench HEADLINE still need 1x and first-N
    # denominators, so the base and first-N passes time HEADLINE + extras
    extra = [q for q in (deep or []) if q not in HEADLINE]
    full = HEADLINE + extra if extra else None
    base = run_bench(BASE, queries=full)
    bigs: dict[int, dict] = {}
    for i, n in enumerate(ns):
        qsub = deep if (deep and i > 0) else full
        timed = qsub if qsub is not None else HEADLINE
        cells_q = [q for q in CELLS_PROPORTIONAL if q in timed]
        fixed_q = [q for q in timed if q not in CELLS_PROPORTIONAL]
        bigs[n] = run_bench(dirs[n], queries=fixed_q or qsub)
        if cells_q:
            # the standing protocol for cells-proportional operators:
            # time them against the grown-label twin (VERDICT r15 item 5)
            cres = run_bench(cells_dirs[n], queries=cells_q)
            bigs[n]["queries"].update(cres["queries"])
            bigs[n]["value"] = round(sum(bigs[n]["queries"].values()), 3)
        print(f"{n}x suite: {bigs[n]['value']}s")

    n0 = ns[0]
    big = bigs[n0]
    lines = [
        f"# SCALE — {'/'.join(str(n) + 'x' for n in ns)} scale-up probe",
        "",
        f"Base: {BASE} -> {base['value']}s. {n0}x (shifted key spaces) -> "
        f"{big['value']}s (per-query best-of-2, fresh JVM each). "
        f"Ratio at perfect linear scaling = {n0}.0.",
        "",
        "| query | 1x sec | {n}x sec | ratio |".replace("{n}", str(n0)),
        "|---|---|---|---|",
    ]
    for q, t1 in base["queries"].items():
        t2 = big["queries"].get(q)
        ratio = round(t2 / t1, 1) if t1 and t2 else None
        tag = " (cells∝n)" if q in CELLS_PROPORTIONAL else ""
        lines.append(f"| {q}{tag} | {t1} | {t2} | {ratio} |")
    for n in ns[1:]:
        sub = bigs[n]["queries"]
        lines += [
            "",
            f"## {n}x deep probe (worst {n0}x ratios re-measured at {n}x)",
            "",
            f"| query | 1x sec | {n}x sec | ratio | ratio/{n} |",
            "|---|---|---|---|---|",
        ]
        for q, t2 in sub.items():
            t1 = base["queries"].get(q)
            if t1 and t2:
                tag = " (cells∝n)" if q in CELLS_PROPORTIONAL else ""
                lines.append(
                    f"| {q}{tag} | {t1} | {t2} | {round(t2 / t1, 1)} |"
                    f" {round(t2 / t1 / n, 2)} |"
                )
        lines += [
            "",
            f"A ratio well below {n} at {n}x data means fixed overheads and",
            "sub-linear stages still dominate; linear scaling is ratio ~= N;",
            "anything persistently ABOVE N is a scale bug.",
        ]
    lines += [
        "",
        "Reading: ratios well under N mean fixed overheads still dominate at",
        "this size (the plan has headroom); ratios near N are work-bound and",
        "linear. `ann_bruteforce_topk` is the EXACT quadratic baseline by",
        "design (O(queries x corpus) pair rows) — compare `ann_block_topk`,",
        "the same exact answer via broadcast-query BLAS matmul with map-side",
        "partial top-k, which stays ~flat because per-partition work is",
        "dense-vectorized and the exchange carries only O(parts*Q*k)",
        "candidates. Approximate scale paths: `ann_ivf_topk` (probe-pruned)",
        "and `dedup_minhash_cluster` (bucketed). A ratio far above N",
        "anywhere else would flag a plan that breaks at 100 TB.",
        "",
        "Rows tagged (cells∝n) are timed against the grown-label twin",
        "corpus — the IVF deployment contract grows the coarse codebook",
        "with the corpus (constant per-cell occupancy), so the standing",
        "probe grows `label` per copy for those operators; against a",
        "FIXED label space the same queries read ~N²/N·N artifact ratios",
        "(r15: 18.8x/20.6x) that say nothing about the contract shape.",
        "",
        "`p_debounce_burst` (and every event_type-keyed window): the plan",
        "IS per-key partitioned (plan tests assert no SinglePartition),",
        "but the probe grows row count while `event_type` stays a ~5-value",
        "enum — per-key series grow Nx and at most |event_type| tasks",
        "carry each sort, so the ratio reflects per-key n log n with",
        "5-way parallelism, not a missing partitioning. That is the true",
        "100 TB shape for low-cardinality enum keys; the valve is keying",
        "the debounce by a real series key (site/sensor/user), which the",
        "operator takes as a parameter. The valve is itself benched:",
        "`p_debounce_burst_keyed` / `w_rolling_skewkurt_keyed` run the",
        "same operators keyed by (user_id, event_type) — their ratios in",
        "the tables above are the direct enum-vs-fleet-key comparison.",
    ]
    doc = "\n".join(lines) + "\n"
    with open("SCALE.md", "w") as f:
        f.write(doc)
    print(doc)


if __name__ == "__main__":
    main()
