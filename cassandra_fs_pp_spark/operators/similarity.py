"""Similarity search over embedding columns (LLM-data operators).

* Brute-force cosine top-k — the exact baseline: self-join + JVM-side
  ``zip_with``/``aggregate`` dot product (no Python in the loop), windowed
  top-k per query. O(n^2 * d) — correct at any scale but quadratic; the
  oracle-checkable reference answer.
* IVF-style ANN — the scale path: coarse-quantize vectors to centroid
  cells (here: per-label mean as the deterministic centroid set, standing
  in for a k-means codebook), search only the closest ``nprobe`` cells.
  Cuts candidate pairs by ~|cells|/nprobe. At 100 TB the cell id becomes
  the shuffle/bucket key and each cell fits an executor.
* Embedding near-dup — cosine >= threshold pairs (dedup by similarity).

All dot products run in double precision over float32 inputs with a fixed
left-to-right fold, matching DuckDB's list_dot_product element order.

Each shared decision lives in one private function:

* :func:`_rank_topk` — the ranking contract of every top-k operator: per
  query, score descending with NULL last, ties to the smaller
  ``neighbor_id``, keep ``rank <= k``;
* :func:`_probe_cells` — the IVF centroid probe;
* :func:`_ivf_serve` — the compressed serving path (probe, ADC scan,
  ``rerank`` survivors, exact fp32 rerank) behind :func:`ivf_adc_topk`
  and :func:`ivf_pq_topk`, which differ only in their ADC kernel;
* :func:`_fixed_mean` — the exact fixed-point mean of every centroid.

Every numpy loop over an embedding column is a ``mapInArrow`` kernel in
:mod:`~cassandra_fs_pp_spark.operators.veckernels`; this module plans
Spark work and runs only bounded driver-side numpy (the LSH plane table,
the PCA power iteration).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from cassandra_fs_pp_spark.operators.veckernels import (
    blas_topk_map,
    gram_partials_map,
    lsh_buckets_map,
    pca_project_map,
    pq_codes_map,
    query_matrix,
    score_fp32_map,
    score_pq_map,
    score_sq8_map,
    unit_cosine_map,
)
from cassandra_fs_pp_spark.session import local_table

# Fixed-point scale for cross-row vector reductions. Float sums are
# order-dependent (partitioning would leak into results); quantizing each
# per-row term with round(x * SCALE) -> bigint makes every reduction an
# exact integer sum — bit-identical on 1 partition or 1000. round() ties
# away from zero in BOTH Spark (HALF_UP) and DuckDB; a double->DECIMAL
# cast would NOT be safe (DuckDB casts tie differently — verified).
VEC_FIXED_SCALE = 1_000_000_000

# Scalar-quantizer code range of every SQ8 operator: codes 0..SQ_LEVELS
# (int8-class).  The registry's oracle SQL hard-codes the same 255.
SQ_LEVELS = 255


def dot(a: Column, b: Column) -> Column:
    """Left-to-right double-precision dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _fixed_mean(v: Column) -> Column:
    """Exact fixed-point mean aggregate of ``v``: the long sum of
    ``round(v * VEC_FIXED_SCALE)`` over ``count(*)``, one final double
    divide — bit-identical at any partitioning and in DuckDB.  The term
    is the non-ANSI ``CAST(... AS BIGINT)`` of the ``veckernels``
    NULL/NaN contract, which the session's ANSI cast would raise on: NaN
    adds 0 and a term at or beyond +-2^63 saturates."""
    q = F.round(v.cast("double") * VEC_FIXED_SCALE)
    term = (
        F.when(F.isnan(q), F.lit(0))
        .when(q >= F.lit(2.0**63), F.lit(2**63 - 1))
        .when(q <= F.lit(-(2.0**63)), F.lit(-(2**63)))
        .otherwise(q.cast("long"))
    )
    return (
        F.sum(term).cast("double")
        / F.lit(float(VEC_FIXED_SCALE))
        / F.count(F.lit(1))
    )


def _queries(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """``(query_id, qv, qn)``: query vectors with their norms hoisted per
    ROW (not per pair) — the same float math as folding them per pair."""
    return df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("qn"),
    )


def _pair_cosine() -> Column:
    """``cos_raw`` of a ``(qv, qn) x (nv, nn)`` pair row: NULL when either
    vector has zero norm (``try_divide``: the ANSI session would raise
    ``DIVIDE_BY_ZERO``), as the Arrow kernels
    (``veckernels.cosine_array``) and the DuckDB oracles return."""
    return F.try_divide(dot(F.col("qv"), F.col("nv")), F.col("qn") * F.col("nn"))


def _rank_topk(
    scored: DataFrame, score: str, k: int, *out, rank: str = "rank"
) -> DataFrame:
    """The one top-k contract: per ``query_id``, ``score`` descending with
    NULL last, ties to the smaller ``neighbor_id``; keep the first ``k``
    rows (numbered in column ``rank``) and select ``query_id``,
    ``neighbor_id`` and ``out``."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    return (
        scored.withColumn(rank, F.row_number().over(w))
        .filter(F.col(rank) <= k)
        .select("query_id", "neighbor_id", *out)
    )


def _probe_cells(q: DataFrame, cent: DataFrame, nprobe: int) -> DataFrame:
    """IVF coarse probe: each query ``(query_id, qv, qn)`` keeps the
    ``nprobe`` cells of the centroid table ``(cell, centroid)`` with the
    highest centroid cosine (NULL last, ties to the smaller cell).  The
    centroid table is bounded by the codebook, so it is broadcast and
    probing never shuffles the corpus."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cent_cos"), F.asc("cell"))
    return (
        q.crossJoin(F.broadcast(cent))
        .withColumn(
            "cent_cos",
            F.try_divide(
                dot(F.col("qv"), F.col("centroid")),
                F.col("qn") * l2_norm(F.col("centroid")),
            ),
        )
        .withColumn("cr", F.row_number().over(w))
        .filter(F.col("cr") <= nprobe)
        .select("query_id", "qv", "qn", "cell")
    )


def brute_force_topk(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors for every query vector.

    ``queries`` defaults to the corpus itself (all-pairs). Deterministic
    ordering: (cosine desc, neighbor id asc). Returns
    (query_id, neighbor_id, cosine, rank).
    """
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        l2_norm(F.col(vec_col)).alias("nn"),
    )
    scored = (
        _queries(queries or vectors, id_col, vec_col)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_raw", _pair_cosine())
    )
    return _rank_topk(scored, "cos_raw", k, F.col("cos_raw").alias("cosine"), "rank")


def ivf_topk(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-style approximate top-k: probe only the ``nprobe`` nearest cells.

    Uses ``cell_col`` as the coarse partition (a k-means codebook at
    scale); centroids are per-cell means (exact fixed-point —
    :func:`coarse_centroids`, r15). Candidate set = vectors in the
    query's top-``nprobe`` cells by centroid cosine.

    Scale contract: candidate volume is ``n x nprobe x (n / cells)``
    — LINEAR in ``n`` when the codebook grows with the corpus
    (constant per-cell occupancy, how a real IVF is deployed:
    cells ∝ n). The shifted-corpus probe suite holds ``cell_col``
    fixed while growing vectors, which makes this registry form read
    quadratic there (8x -> 18.8x, SCALE.md r15); re-probed with cells
    grown alongside (labels shifted per copy) it reads 2.8x at 8x
    (``scripts/r15_probe.py --ivf-cells``, last present in commit
    58c3783). Fixed-budget serving
    shapes are the tracked scale path (``ivf_adc_topk`` /
    ``ivf_pq_topk`` with ``fixed_queries``).
    """
    # r15: exact fixed-point centroid mean (coarse_centroids) — a plain
    # double avg() is summation-order dependent and a ulp flip in
    # cent_cos can change WHICH nprobe cells are probed (the r12
    # winsorized/J1 residual class).  Same construction as IVF-PQ.
    cent = coarse_centroids(vectors, cell_col=cell_col, vec_col=vec_col)
    probes = _probe_cells(_queries(vectors, id_col, vec_col), cent, nprobe)
    c = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        l2_norm(F.col(vec_col)).alias("nn"),
        F.col(cell_col).alias("cell"),
    )
    scored = (
        probes.join(c, on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_raw", _pair_cosine())
    )
    return _rank_topk(scored, "cos_raw", k, F.col("cos_raw").alias("cosine"), "rank")


def hyperplane_lsh_perms(bits: int, dim: int, seed: int = 7) -> list[list[float]]:
    """``bits`` random hyperplanes in R^dim, deterministic (seeded PRNG,
    the same planes the DuckDB oracles embed as literals)."""
    import random

    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)
    ]


def _lsh_buckets(
    keyed: DataFrame, planes, tables: int, bits: int, keep_vec: bool = False
) -> DataFrame:
    """``(key, vec)`` rows -> ``(key, __bt)``, one ``bits``-bit sign bucket
    per table, or ``(key, vec, __n, __bt)`` with the norm when
    ``keep_vec``: the :func:`veckernels.lsh_buckets_map` kernel."""
    key, vec = keyed.schema.fields
    extra = [vec, StructField("__n", DoubleType())] if keep_vec else []
    schema = StructType([key, *extra, StructField("__bt", ArrayType(LongType()))])
    return keyed.mapInArrow(
        lsh_buckets_map(planes, tables, bits, keep_vec), schema=schema
    )


def lsh_topk(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 8,
    tables: int = 4,
    dim: int | None = None,
    seed: int = 7,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Multi-table hyperplane-LSH approximate top-k: ``tables`` independent
    sign-bucket hash tables; candidates = union of same-(table, bucket)
    pairs, exact cosine rerank.

    The second scale path beside IVF: at 100 TB (table_id, bucket) is the
    shuffle key; cosine-similar vectors share a sign bit with probability
    1 - angle/pi, so per-table collision is p^bits and the union over L
    tables lifts recall to 1-(1-p^bits)^L while each join touches only a
    ~2^bits-th of the corpus. Deterministic (seeded planes).

    Exact-duplicate collapse (r7): real corpora are duplicate-heavy, and
    byte-identical vectors collide in EVERY bucket of EVERY table no
    matter how ``bits`` scales — a duplicate clique of size g contributes
    g^2 candidate pairs, so candidate volume grows quadratically in the
    replication factor (the 64x probe measured 184x the pairs for 64x
    the rows). So the bucket self-join runs at GROUP level: vectors are
    grouped by content hash, each DISTINCT vector is bucketed and scored
    once per candidate group pair, and results fan back out through a
    tie-aware expansion — within a neighbor group every member has the
    SAME cosine, so under the (cos desc, id asc) tie-break only the k+1
    smallest member ids can ever reach a top-k (k+1 because the query
    itself may be one of them). The final top-k is bit-identical to the
    member-level join: identical bytes give identical fold results.
    """
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    # Small corpora arrive as one parquet file -> one partition; spread the
    # bucket-assignment compute (at real scale the scan is already split).
    # Adaptive width: at ~256 rows/partition the per-stage scheduler cost
    # (this shape runs ~8 small stages) dominates tiny corpora, so clamp
    # task count to the footer-stats row estimate; a real corpus keeps the
    # session's full parallelism.
    n_parts = vectors.sparkSession.sparkContext.defaultParallelism
    if corpus_rows is not None:
        n_parts = max(4, min(n_parts, corpus_rows // 256))
    # Pass 0 — content grouping. ONE corpus scan feeds the whole query:
    # (id, vector, group hash) is pinned with localCheckpoint, and every
    # later stage derives from the pin (zero re-scans; the plan-health
    # test asserts this). md5 over the stringified array is the group
    # key: byte-identical arrays MUST collide, distinct arrays collide
    # with probability 2^-128 (the standard content-address gamble).
    # Pinning the checkpoint ALREADY HashPartitioned by __g means the
    # group aggregate AND the member-expansion window both inherit the
    # clustering — neither adds an exchange.
    reps = (
        vectors.select(
            F.col(id_col),
            F.col(vec_col),
            F.md5(F.col(vec_col).cast("string")).alias("__g"),
        )
        .repartition(n_parts, "__g")
        # eager=False: the pin still materializes exactly once (first
        # consumer computes, later consumers read the checkpoint). Under
        # AQE the call itself runs the pinned plan's shuffle-map stages (the
        # repartition's, at least) at plan-build time; only the final
        # stage, which writes the checkpoint blocks, waits for the first
        # consumer. The eager form cost two extra sequential job barriers
        # per query — ~0.7 s of pure scheduler latency at bench scale
        # (measured: median 2.43 s eager vs 1.68 s lazy, identical
        # results) and nothing at 100 TB where compute dominates.
        .localCheckpoint(eager=False)
    )
    # One row per DISTINCT vector (deterministic representative: the
    # min-id member — all members are byte-identical anyway). Norms and
    # the tables*bits*dim bucket eval run on distinct vectors only, and
    # the result is pinned: the consumers (two bucket-join sides, two
    # score attaches) would otherwise each re-run the grouping shuffle.
    # The bucket kernel folds in the SQL form's IEEE order (bit-identical
    # to the DuckDB oracle's list fold); the interpreted form measured
    # ~0.55 s for 2000 rows x 2048 terms vs ~5 ms vectorized.
    planes = [
        p for t in range(tables) for p in hyperplane_lsh_perms(bits, dim, seed + t)
    ]
    agg_df = reps.groupBy("__g").agg(
        F.min_by(F.col(vec_col), F.col(id_col)).alias(vec_col)
    )
    gbase = _lsh_buckets(
        agg_df, planes, tables, bits, keep_vec=True
    ).localCheckpoint(eager=False)  # same one-barrier saving as the reps pin
    # Stage 1 — GROUP-level candidate generation stays narrow: the bucket
    # self-join, repartition, and pair dedup move only (hash, hash) pairs,
    # never vectors. Both join sides are the same checkpoint-backed plan,
    # so ReuseExchange ships one shuffle write read twice. The explicit
    # repartition pins scoring parallelism (AQE would coalesce the
    # tiny-byte exchanges and serialize the per-bucket compute) and comes
    # BEFORE dropDuplicates so HashPartitioning(__ga) satisfies the
    # dedup's clustering without another exchange. Duplicate cliques
    # appear here as ONE self-pair per group, not g^2 rows.
    gb = gbase.select(
        "__g", F.posexplode("__bt").alias("__table", "__bucket")
    )
    # Self-pairs (G, G) ride the SAME bucket join — a group always shares
    # its own buckets, so (G, G) survives dedup like any pair and the
    # member-level query_id != neighbor_id filter handles singletons; no
    # separate union branch, no group-size column.
    a, b = gb.alias("a"), gb.alias("b")
    gpairs = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.__table") == F.col("b.__table"))
            & (F.col("a.__bucket") == F.col("b.__bucket")),
        )
        .select(F.col("a.__g").alias("__ga"), F.col("b.__g").alias("__gb"))
        .repartition(n_parts, "__ga")
        .dropDuplicates(["__ga", "__gb"])
    )
    # Stage 2 — score ONCE per group pair (the fold runs on distinct-level
    # pairs, and vectors never attach to the member-level stream at all).
    # BROADCAST the hash->(vec, norm) map while it fits an executor (the
    # caller passes corpus_rows from parquet footer stats — an upper bound
    # on distinct rows), else shuffle-hash: hash build, never a sort of
    # the candidate stream (measured 64x probe pre-r5: 3 SMJs, 148 s).
    vmap = gbase.select("__g", vec_col, "__n")
    est_bytes = (corpus_rows or 0) * ((dim or 64) * 8 + 48)
    small_vmap = corpus_rows is not None and est_bytes < 128 * 1024 * 1024

    def _side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_vmap else df.hint("shuffle_hash")

    # Both lookups broadcast the IDENTICAL (g, vec, norm) projection and
    # rename after the join — identical subplans let ReuseExchange ship
    # ONE broadcast build for the two joins instead of two.
    nside = _side(vmap)
    qside = _side(vmap)
    scored_g = (
        gpairs.join(nside, gpairs["__gb"] == nside["__g"])
        .select(
            "__ga",
            "__gb",
            F.col(vec_col).alias("nv"),
            F.col("__n").alias("nn"),
        )
        .join(qside, F.col("__ga") == qside["__g"])
        .select(
            "__ga",
            "__gb",
            F.col(vec_col).alias("qv"),
            "nv",
            F.col("__n").alias("qn"),
            "nn",
        )
    )

    # Cosine rerank in the exact-fold Arrow kernel (bit-identical to the
    # interpreted zip_with/aggregate fold, with the stored per-group norm),
    # reading the list columns' FLAT values buffers — the pandas route
    # materialized a Python ndarray per ROW and its per-pair stacking was
    # the scoring stage's dominant CPU (~1 s per 250k pairs measured; the
    # flat-buffer view is ~20x cheaper).
    scored_g = scored_g.mapInArrow(
        score_fp32_map(dim, ids=("__ga", "__gb")),
        schema="__ga string, __gb string, cos_raw double",
    )
    # Stage 3 — tie-aware fan-out back to members. Query side: every
    # member of __ga. Neighbor side: only the k+1 smallest ids of __gb
    # (sufficient for exactness, see docstring) — so member-level volume
    # is O(n * candidate_groups * k), never O(n * g). The per-group
    # row_number window partitions by group hash (narrow keys spread over
    # the full hash space — no single-partition risk). scored_g gets its
    # own broadcast gate: its row count scales with bucket OCCUPANCY, not
    # corpus rows, so the vector-map estimate doesn't transfer.
    est_pair_bytes = (corpus_rows or 0) * 32 * 90
    small_pairs = corpus_rows is not None and est_pair_bytes < 128 * 1024 * 1024

    def _pside(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small_pairs else df.hint("shuffle_hash")

    members = reps.select(F.col(id_col), F.col("__g"))
    wk = Window.partitionBy("__g").orderBy(F.asc(id_col))
    expansion = (
        members.withColumn("__r", F.row_number().over(wk))
        .filter(F.col("__r") <= k + 1)
        .select(
            F.col("__g").alias("__gb"), F.col(id_col).alias("neighbor_id")
        )
    )
    scored = (
        members.select(
            F.col(id_col).alias("query_id"), F.col("__g").alias("__ga")
        )
        .join(_pside(scored_g), "__ga")
        .join(_pside(expansion), "__gb")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "cos_raw")
        .repartition(n_parts, "query_id")
    )
    return _rank_topk(scored, "cos_raw", k, F.col("cos_raw").alias("cosine"), "rank")


def embedding_near_dups(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """All pairs with cosine >= threshold (embedding-space near-dup).

    Quadratic by contract (the exact answer set); per-pair cost matters:
    the streamed side is repartitioned so the nested-loop join fans out
    across cores (a small corpus arrives as ONE parquet partition and
    would otherwise run single-task), and the pair dot is the compact
    ``zip_with`` fold (the unrolled variant costs seconds of Catalyst
    analysis per plan build for no per-pair win — the cost here is the
    crossJoin row count, not expression eval). The LSH/IVF/cluster
    operators are the scale paths."""
    n_parts = vectors.sparkSession.sparkContext.defaultParallelism
    # r17: spread only when the scan is actually narrow — a pre-spread or
    # production-sized input skips the extra corpus exchange entirely.
    from cassandra_fs_pp_spark.operators.skew import spread_if_narrow

    vectors = spread_if_narrow(vectors, n_parts)
    a = vectors.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("na"),
    )
    b = vectors.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_raw",
            F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")),
        )
        # a zero-norm vector's NULL cosine fails the threshold
        .filter(F.col("cos_raw") >= threshold)
        .select("id_a", "id_b", F.col("cos_raw").alias("cosine"))
    )


def scalar_quantize(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension scalar quantization of an embedding column to integer
    codes ``0..SQ_LEVELS`` (int8-class compression — the standard first step
    for storing billions of vectors: 4x smaller than fp32 at ~0.1% recall
    loss; see also :func:`adc_topk` for searching the compressed corpus).

    Two linear passes, both narrow: a 64-key per-dimension min/max
    aggregate (map-side partial, ~nothing shuffled) broadcast back over
    the corpus. Long-form output ``(id, pos 1-based, code, dq)`` keeps
    every column scalar (cross-engine comparable) and the shuffle key
    narrow at scale.

    Determinism: ``round`` on the non-negative scaled value ties
    away-from-zero in both Spark (HALF_UP) and DuckDB; the dequantized
    value ``mn + code * ((mx-mn)/SQ_LEVELS)`` uses the same operation order
    both sides — bit-identical.
    """
    ex = vectors.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("pos0", "v0"),
    ).select(
        id_col,
        (F.col("pos0") + 1).alias("pos"),
        F.col("v0").cast("double").alias("v"),
    )
    stats = ex.groupBy("pos").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    rng = F.col("mx") - F.col("mn")
    code = (
        F.when(rng == 0, F.lit(0))
        .otherwise(
            F.round(((F.col("v") - F.col("mn")) / rng) * F.lit(float(SQ_LEVELS)), 0)
        )
        .cast("int")
    )
    j = ex.join(F.broadcast(stats), "pos")
    return j.select(
        F.col(id_col),
        F.col("pos"),
        code.alias("code"),
        (
            F.col("mn")
            + code.cast("double") * (rng / F.lit(float(SQ_LEVELS)))
        ).alias("dq"),
    )


def _sq_stats_row(
    vectors: DataFrame, *, vec_col: str = "embedding"
) -> DataFrame:
    """ONE-row per-dimension quantizer stats ``(__mn: array<double>,
    __mx: array<double>)`` — the broadcastable form of
    :func:`scalar_quantize`'s 64-key min/max aggregate (r17).  Bounded by
    ``dim`` at any corpus size; map-side combinable."""
    ex = vectors.select(
        F.posexplode(F.col(vec_col)).alias("pos0", "v0")
    ).select(
        (F.col("pos0") + 1).alias("pos"),
        F.col("v0").cast("double").alias("v"),
    )
    per = ex.groupBy("pos").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    return per.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))),
            lambda s: s["mn"],
        ).alias("__mn"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))),
            lambda s: s["mx"],
        ).alias("__mx"),
    )


def _sq_stats_collect(
    vectors: DataFrame, *, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Collect the per-dimension quantizer stats to the driver as plain
    float lists (bounded by ``dim`` at any corpus size — the same
    bounded-collect class as the r17 centroid injection; IEEE doubles
    round-trip the driver exactly)."""
    row = _sq_stats_row(vectors, vec_col=vec_col).collect()[0]
    return [float(x) for x in row["__mn"]], [float(x) for x in row["__mx"]]


def adc_topk(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    query_mod: int = 37,
) -> DataFrame:
    """Asymmetric-distance top-k: full-precision QUERIES scored against the
    scalar-quantized (dequantized) corpus — how ANN serves embeddings it
    can't afford to keep in fp32.  Cost is O(|queries| * n * d) with a
    FIXED deterministic query subset (``id % query_mod == 0``), i.e.
    linear in the corpus like :func:`block_topk`, not all-pairs.

    At 100 TB the corpus side is the compact code table (4x smaller scan,
    same shuffle shape); compose with IVF cells to prune candidates.

    r18 (VERDICT r17 item 3): the quantizer stats are a bounded driver
    collect and the dequantize + candidate cosine run as ONE fused
    numpy ``mapInArrow`` kernel (:func:`veckernels.score_sq8_map`) —
    bit-identical arithmetic (same rounding, same left-fold order),
    but vectorized instead of interpreted higher-order lambdas, and the
    rank exchange now carries (ids, score) only instead of the float64
    dq vectors.
    """
    from cassandra_fs_pp_spark.operators.skew import spread_if_narrow

    mn, mx = _sq_stats_collect(vectors, vec_col=vec_col)
    dim = len(mn)
    n_parts = vectors.sparkSession.sparkContext.defaultParallelism
    # r17: only pay a spread exchange when the input is actually narrow
    # (single small parquet file); production-sized scans pass through.
    src = spread_if_narrow(vectors, n_parts)
    corpus = src.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec")
    )
    q = _queries(vectors.filter((F.col(id_col) % query_mod) == 0), id_col, vec_col)
    cand = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qn", "qv", "vec")
    )
    idt = dict(cand.dtypes)
    scored = cand.mapInArrow(
        score_sq8_map(dim, mn, mx, SQ_LEVELS),
        schema=(
            f"query_id {idt['query_id']}, neighbor_id {idt['neighbor_id']},"
            " adc_cos double"
        ),
    )
    return _rank_topk(scored, "adc_cos", k, F.col("adc_cos").alias("cosine"), "rank")


def _spark_order(x: float) -> tuple[bool, float]:
    """Sort key of Spark's double order: NaN above every number."""
    return (x != x, x)


def _sq_stats_and_centroids(
    vectors: DataFrame,
    *,
    cell_col: str = "label",
    vec_col: str = "embedding",
) -> tuple[list, list, list[tuple[int, list]]]:
    """ONE corpus pass computing BOTH bounded index artifacts of the
    IVF,SQ8 path: the per-dimension quantizer stats (min/max) and the
    per-cell exact fixed-point centroids — collected to the driver
    (|cells| x dim rows, bounded by the codebook, never the corpus).

    Exactness: the per-(cell, pos) partial min/max fold to the global
    per-pos min/max of :func:`_sq_stats_row` in Spark's order (NULL
    skipped, NaN largest; float min/max is associative), and the
    centroids are :func:`coarse_centroids`' :func:`_fixed_mean`.  An empty
    corpus gives empty artifacts.  Replaces TWO separate corpus-scan
    broadcast builds per invocation (r18, guide §1.2)."""
    per = (
        vectors.select(
            F.col(cell_col).alias("cell"), F.posexplode(F.col(vec_col))
        )
        .select(
            "cell",
            (F.col("pos") + 1).alias("pos"),
            F.col("col").cast("double").alias("v"),
        )
        .groupBy("cell", "pos")
        .agg(
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
            _fixed_mean(F.col("v")).alias("m"),
        )
        .collect()
    )
    dim = max((r["pos"] for r in per), default=0)
    mns: list[list[float]] = [[] for _ in range(dim)]
    mxs: list[list[float]] = [[] for _ in range(dim)]
    cents: dict[int, list] = {}
    for r in per:
        p = r["pos"] - 1
        if r["mn"] is not None:
            mns[p].append(r["mn"])
            mxs[p].append(r["mx"])
        cents.setdefault(r["cell"], [None] * dim)[p] = r["m"]
    mn = [min(v, key=_spark_order, default=None) for v in mns]
    mx = [max(v, key=_spark_order, default=None) for v in mxs]
    return mn, mx, [(c, cents[c]) for c in sorted(cents)]


def _ivf_serve(
    vectors: DataFrame,
    cent: DataFrame,
    kernel,
    *,
    with_cell: bool,
    id_col: str,
    vec_col: str,
    cell_col: str,
    dim: int,
    k: int,
    nprobe: int,
    rerank: int,
    query_mod: int,
    fixed_queries: int | None,
) -> DataFrame:
    """The compressed IVF serving path of :func:`ivf_adc_topk` and
    :func:`ivf_pq_topk`, which pass their centroid table ``cent`` and ADC
    ``kernel`` (a ``mapInArrow`` factory over ``(query_id, neighbor_id,
    qn, qv[, cell], vec)`` rows giving ``adc_cos``; ``with_cell`` adds the
    cell column).  Probe the cells, ADC-score the probed candidates, keep
    ``rerank`` survivors per query, rerank them on exact fp32 cosine and
    return the final top-``k``."""
    q_pred = (
        F.col(id_col) < int(fixed_queries)
        if fixed_queries is not None
        else (F.col(id_col) % query_mod) == 0
    )
    q = _queries(vectors.filter(q_pred), id_col, vec_col)
    probes = _probe_cells(q, cent, nprobe)
    kernel_in = ("qn", "qv", "cell", "vec") if with_cell else ("qn", "qv", "vec")
    # --- ADC scan of probed cells: the probe table broadcasts into the
    # corpus scan (no corpus shuffle), then the fused numpy kernel
    # decodes and scores each candidate (bit-identical arithmetic; the
    # rank exchange carries only (ids, score)). ---
    cand = (
        vectors.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(cell_col).alias("cell"),
            F.col(vec_col).alias("vec"),
        )
        .join(F.broadcast(probes), on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", *kernel_in)
    )
    idt = dict(cand.dtypes)
    ids = f"query_id {idt['query_id']}, neighbor_id {idt['neighbor_id']}"
    scored = cand.mapInArrow(kernel, schema=f"{ids}, adc_cos double")
    survivors = _rank_topk(scored, "adc_cos", int(rerank), rank="ar")
    # --- exact fp32 rerank of the survivors: re-attach the (bounded)
    # query table for qv/qn, join the fp32 corpus, score in the numpy
    # rerank kernel (the fp32 norm folds inside the kernel per survivor
    # — identical values to the hoisted per-corpus-row projection). ---
    surv_q = survivors.join(F.broadcast(q), on="query_id")
    rerank_in = (
        vectors.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
        )
        .join(F.broadcast(surv_q), on="neighbor_id")
        .select("query_id", "neighbor_id", "qn", "qv", "nv")
    )
    reranked = rerank_in.mapInArrow(
        score_fp32_map(dim), schema=f"{ids}, cos_raw double"
    )
    return _rank_topk(
        reranked, "cos_raw", int(k), F.col("cos_raw").alias("cosine"), "rank"
    )


def ivf_adc_topk(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    k: int = 5,
    nprobe: int = 2,
    rerank: int = 20,
    query_mod: int = 37,
    fixed_queries: int | None = None,
) -> DataFrame:
    """IVF + ADC + exact rerank — the production serving shape for a
    compressed vector store (FAISS ``IVF,SQ8`` search): prune candidate
    cells by centroid, score the scalar-quantized codes asymmetrically,
    exact-rerank the fp32 survivors.

    Composition of :func:`ivf_topk`'s coarse probe and :func:`adc_topk`'s
    compressed scoring, served by :func:`_ivf_serve`:

    1. **Coarse probe**: per-cell mean centroids (``cell_col`` stands in
       for the k-means codebook at scale); each query keeps its top
       ``nprobe`` cells by centroid cosine. Centroids are a tiny table —
       broadcast, so probing never shuffles the corpus.
    2. **ADC scan**: full-precision queries against the DEQUANTIZED
       scalar-quantized corpus (``SQ_LEVELS``-step per-dimension codes —
       the 4x-smaller table that is all a 100 TB store keeps hot),
       restricted to probed cells via a broadcast of the small probe table
       into the corpus scan — again no corpus shuffle. Keep ``rerank``
       (> k) survivors per query; the only wide exchange carries just the
       probed-cell candidates.
    3. **Exact rerank**: survivors (|queries| * rerank rows) join back to
       the fp32 vectors on ``neighbor_id`` and the final top-``k`` is
       ranked on exact cosine, so quantization error can only cost a true
       neighbor if ADC pushed it below position ``rerank``.

    Queries are the fixed deterministic ``id % query_mod == 0`` subset
    (linear in corpus size, not all-pairs), or — when ``fixed_queries``
    is set — the constant ``id < fixed_queries`` budget: the 100 TB
    SERVING question, where the corpus grows but the query batch does
    not (the bench twin ``ann_ivf_adc_serving`` tracks this shape).
    Every ranking boundary is cross-engine exact: dq codes are
    bit-identical (see :func:`scalar_quantize`), dot products fold
    left-to-right in both engines, and ties break on neighbor_id — so
    the full SQL oracle reproduces probe, survivor, and final sets
    exactly.
    """
    # --- r18 (VERDICT r17 item 3): BOTH bounded index artifacts (the
    # per-dim quantizer stats and the exact fixed-point coarse centroids)
    # come from ONE corpus-pass driver collect, and the centroid table is
    # re-injected as a LocalTableScan — two separate corpus-scan broadcast
    # builds per invocation gone (guide §1.2), values bit-identical. ---
    mn, mx, cent_rows = _sq_stats_and_centroids(
        vectors, cell_col=cell_col, vec_col=vec_col
    )
    cent = local_table(
        vectors.sparkSession, cent_rows, "cell int, centroid array<double>"
    )
    return _ivf_serve(
        vectors, cent, score_sq8_map(len(mn), mn, mx, SQ_LEVELS), with_cell=False,
        id_col=id_col, vec_col=vec_col, cell_col=cell_col, dim=len(mn), k=k,
        nprobe=nprobe, rerank=rerank, query_mod=query_mod,
        fixed_queries=fixed_queries,
    )


def label_centroids(
    vectors: DataFrame,
    *,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid in long form ``(label, pos, centroid, n_vecs)``
    (~1e-9 element quantization; see VEC_FIXED_SCALE note). Long form
    keeps the shuffle key (label, pos) narrow and the agg map-side
    combinable at any scale."""
    ex = vectors.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "c"),
    )
    return ex.groupBy("label", "pos").agg(
        _fixed_mean(F.col("c")).alias("centroid"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


def label_inertia(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label within-cluster sum of squares (k-means inertia) vs the
    label centroids, plus mean per-vector squared distance.

    Two-stage vector analytics: the centroid table is tiny (labels x dim)
    and broadcast back onto the exploded fact; per-(vec, pos) squared
    residuals are identical doubles everywhere, then both reduction
    levels (over pos, then over vectors) are exact integer sums in the
    VEC_FIXED_SCALE fixed-point domain."""
    cent = label_centroids(vectors, label_col=label_col, vec_col=vec_col)
    ex = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "c"),
    )
    resid = F.col("c").cast("double") - F.col("centroid")
    sq_scaled = F.round(resid * resid * VEC_FIXED_SCALE).cast("long")
    per_vec = (
        ex.join(F.broadcast(cent.select("label", "pos", "centroid")), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sum(sq_scaled).alias("sq_dist_scaled"))
    )
    return per_vec.groupBy("label").agg(
        (F.sum("sq_dist_scaled").cast("double") / F.lit(float(VEC_FIXED_SCALE)))
        .alias("inertia"),
        (
            F.sum("sq_dist_scaled").cast("double")
            / F.lit(float(VEC_FIXED_SCALE))
            / F.count(F.lit(1))
        ).alias("mean_sq_dist"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


def _broadcast_queries(vectors: DataFrame, queries: DataFrame, id_col, vec_col):
    """Collect the (small) query set and broadcast its
    :func:`~cassandra_fs_pp_spark.operators.veckernels.query_matrix`."""
    rows = queries.select(id_col, vec_col).collect()
    return vectors.sparkSession.sparkContext.broadcast(query_matrix(rows))


def block_matmul_topk(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    queries: DataFrame,
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched BLAS matmul with map-side
    partial top-k — the scale path for exact kNN against a small query set.

    :func:`brute_force_topk` materializes every (query, corpus) pair before
    ranking: O(Q*N) shuffled rows. Here the small side (queries) is
    broadcast as a dense numpy matrix, the corpus never leaves its
    partitions, and each Arrow batch computes one ``Q x B`` score matrix
    with a single BLAS matmul, emitting at most ``k`` candidates per query
    per batch. The shuffle then carries O(parts * Q * k) candidate rows —
    independent of corpus size per partition — and a final window picks the
    global top-k. Same shape a 1000-executor cluster wants: dense math in
    C, combiner-style pruning before the exchange.

    Scores are float64 BLAS sums, so the last ~1 ulp can differ from a
    sequential fold; ranks are stable for any pair separated by more than
    that (tested differentially vs brute_force_topk, zero-norm vectors
    included: their NULL cosine ranks last). Returns
    (query_id, neighbor_id, rank).
    """
    bc = _broadcast_queries(vectors, queries, id_col, vec_col)
    cand = vectors.select(id_col, vec_col).mapInArrow(
        blas_topk_map(bc, k, "cosine"),
        schema="query_id long, neighbor_id long, cosine double",
    )
    return _rank_topk(cand, "cosine", k, "rank")


def kmeans_assign(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iterations: int = 2,
) -> DataFrame:
    """Deterministic Lloyd k-means assignment, ``(id_col, cluster)``:
    :func:`pq_train_codebooks` with one subspace (``m=1``, ``ks=k``) for
    ``iterations - 1`` rounds, then one final assignment by the same
    kernel (it IS the answer, so no means are computed from it).  So it
    keeps PQ training's contract: init from the ``k`` smallest ids,
    quantized integer distances with ties to the lowest cluster, exact
    fixed-point means, an empty cluster keeps its centroid — the same
    result at any parallelism.  Per round one k x dim collect, like
    MLlib's KMeans driver loop."""
    if iterations < 1:
        raise ValueError("kmeans needs iterations >= 1")
    cb = pq_train_codebooks(
        vectors, id_col=id_col, vec_col=vec_col, m=1, ks=k,
        iterations=iterations - 1,
    )
    return _assign_codes(vectors, cb, id_col, vec_col).select(
        id_col, F.col("__ks")[0].alias("cluster")
    )


def coarse_centroids(
    vectors: DataFrame,
    *,
    cell_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell coarse centroids as EXACT fixed-point means — the IVF
    cell table ``(cell, centroid: array<double>)``.

    A plain double ``avg()`` is summation-order dependent (partition /
    task schedule), and a ulp flip in the probe's ``cent_cos`` can change
    WHICH ``nprobe`` cells are scanned — so the centroid mean uses the
    same idiom as :func:`pq_train_codebooks`: lossless ``long`` sum of
    ``round(v * VEC_FIXED_SCALE)``, one final double divide.  Bounded by
    |cells| x dim; map-side combinable; bit-identical across engines."""
    return (
        vectors.select(F.col(cell_col).alias("cell"), F.posexplode(vec_col))
        .groupBy("cell", "pos")
        .agg(_fixed_mean(F.col("col")).alias("m"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("centroid")
        )
    )


def residualize(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    out_col: str = "rvec",
) -> DataFrame:
    """Attach each vector's coarse residual ``x - centroid(cell)`` — the
    quantity FAISS ``IVF,PQ`` actually encodes (residuals cluster far
    tighter around 0 than raw vectors, so the same codebook budget buys
    more recall).  ONE broadcast hash join with the |cells|-row centroid
    table; the residual subtract is two-double IEEE (exact-rounded, so
    deterministic given the fixed-point centroid).  Keeps ``centroid``
    so reconstruction needs no second join."""
    return vectors.join(
        F.broadcast(centroids),
        on=vectors[cell_col] == centroids["cell"],
    ).select(
        F.col(id_col),
        "cell",
        "centroid",
        F.zip_with(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            F.col("centroid"),
            lambda x, c: x - c,
        ).alias(out_col),
    )


def _assign_codes(
    vectors: DataFrame, cb, *cols: str, keep_vec: bool = False
) -> DataFrame:
    """``cols`` plus ``__ks``, each row's ``array<int>`` of PQ codes under
    the codebooks ``cb`` (the :func:`veckernels.pq_codes_map` kernel); the
    last of ``cols`` is the vector, which stays in the output only when
    ``keep_vec``."""
    src = vectors.select(*cols)
    fields = src.schema.fields if keep_vec else src.schema.fields[:-1]
    field = StructField("__ks", ArrayType(IntegerType()))
    schema = StructType([*fields, field])
    return src.mapInArrow(pq_codes_map(cb, keep_vec), schema=schema)


def pq_train_codebooks(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ks: int = 8,
    iterations: int = 2,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: ``m`` independent Lloyd
    k-means runs, one per ``dim/m``-wide subspace (``dim`` is the length
    of the init vectors), under one determinism contract: quantized
    integer distances, exact fixed-point means, ties to the lowest code,
    empty cells keep their previous centroid, init = the ``ks`` smallest
    ids' subvectors.  :func:`kmeans_assign` is the ``m=1`` case.

    All ``m`` subspaces train in the SAME pass: each round is ONE corpus
    scan whose per-subspace argmins run in one Arrow kernel
    (:func:`_assign_codes`, snapshotting the round's centroids), and the
    only shuffle is the ``m*ks*dsub``-key mean aggregate, which map-side
    combines.  The returned codebooks are plain Python floats — a
    ``m x ks x dsub`` table (bounded by the codebook, never the corpus)
    that downstream kernels close over, like the LSH plane tables.

    Returns ``cb`` with ``cb[j][c]`` = the ``dsub``-dim centroid of code
    ``c`` in subspace ``j``.
    """
    if ks < 1:
        raise ValueError("pq needs ks >= 1")
    first = (
        vectors.filter(F.col(id_col) < ks)
        .orderBy(id_col)
        .select(id_col, vec_col)
        .collect()
    )
    if len(first) != ks:
        raise ValueError(f"pq init needs ids 0..{ks - 1} present")
    dim = len(first[0][vec_col])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    cb: list[list[list[float]]] = [
        [
            [float(x) for x in r[vec_col]][j * dsub : (j + 1) * dsub]
            for r in first
        ]
        for j in range(m)
    ]
    for _ in range(iterations):
        codes = _assign_codes(vectors, cb, vec_col, keep_vec=True)
        # exact fixed-point means per (subspace, code, pos-in-subspace):
        # one posexplode of the full vector, subspace derived from pos
        lf = codes.select(
            "__ks",
            F.posexplode(F.col(vec_col)).alias("pos0", "v"),
        ).select(
            F.expr(f"pos0 div {dsub}").alias("sub"),
            F.expr(f"element_at(__ks, cast(pos0 div {dsub} as int) + 1)").alias(
                "c"
            ),
            F.expr(f"pos0 % {dsub}").alias("p"),
            "v",
        )
        mrows = (
            lf.groupBy("sub", "c", "p")
            .agg(_fixed_mean(F.col("v")).alias("mv"))
            .collect()
        )
        nxt: dict[tuple[int, int], dict[int, float]] = {}
        for r in mrows:
            nxt.setdefault((r["sub"], r["c"]), {})[r["p"]] = r["mv"]
        for j in range(m):
            for c in range(ks):
                got = nxt.get((j, c))
                if got:
                    cb[j][c] = [got[p] for p in sorted(got)]
                # empty cell: keep previous centroid (deterministic)
    return cb


def ivf_pq_topk(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    dim: int = 64,
    m: int = 4,
    ks: int = 8,
    iterations: int = 2,
    k: int = 5,
    nprobe: int = 2,
    rerank: int = 20,
    query_mod: int = 37,
    fixed_queries: int | None = None,
    codebooks: list[list[list[float]]] | None = None,
    centroids: list[tuple] | None = None,
) -> DataFrame:
    """IVF + product quantization + exact rerank — the canonical 100 TB
    ANN compression (FAISS ``IVF,PQ``): :func:`ivf_adc_topk` with the
    per-dimension scalar quantizer upgraded to m-subspace codebooks
    (``m * log2(ks)`` bits/vector instead of ``dim`` bytes).

    Codes quantize the RESIDUAL ``x - centroid(cell)`` (what FAISS
    encodes; residuals cluster tighter around 0, so the same m*ks budget
    buys higher recall) and the ADC vector is ``centroid(cell) +
    reconstruct(codes)``.  The coarse centroids are exact fixed-point
    means (:func:`coarse_centroids`): a ulp flip in ``cent_cos`` would
    change which cells are probed.

    * **Training** (:func:`pq_train_codebooks`): ``iterations`` corpus
      scans, each map-side-combining into an ``m*ks*dsub``-key mean.
    * **Corpus side**: ONE narrow pass — encode, reconstruct and the
      candidate cosine run in one kernel (:func:`veckernels.score_pq_map`),
      so there is no explode, no per-dimension aggregate and no re-join.
    * **Probe / ADC / rerank**: :func:`_ivf_serve`, shared with
      :func:`ivf_adc_topk`.

    Every step is deterministic (fixed-point means, quantized argmin with
    lowest-code ties, exact float64 folds, ``neighbor_id`` tie-breaks), so
    the composition carries a FULL SQL oracle that replays training as
    unrolled CTEs.  ``centroids`` and ``codebooks`` pass an offline index
    (the serving form: FAISS never retrains per query batch); otherwise
    the |cells|-row centroid table is collected once and re-injected as a
    local table, so its corpus aggregate is not re-run by every training
    action.
    """
    if centroids is None:
        centroids = coarse_centroids(
            vectors, cell_col=cell_col, vec_col=vec_col
        ).collect()
    cent_pairs = [(int(c), [float(x) for x in v]) for c, v in centroids]
    cent = local_table(
        vectors.sparkSession, cent_pairs, "cell int, centroid array<double>"
    )
    cb = codebooks
    if cb is None:
        res = residualize(
            vectors, cent, id_col=id_col, vec_col=vec_col, cell_col=cell_col
        )
        cb = pq_train_codebooks(
            res,
            id_col=id_col,
            vec_col="rvec",
            m=m,
            ks=ks,
            iterations=iterations,
        )
    return _ivf_serve(
        vectors, cent, score_pq_map(dim, dim // m, cb, dict(cent_pairs)),
        with_cell=True, id_col=id_col, vec_col=vec_col, cell_col=cell_col,
        dim=dim, k=k, nprobe=nprobe, rerank=rerank, query_mod=query_mod,
        fixed_queries=fixed_queries,
    )


def semantic_dedup(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    dim: int | None = None,
    seed: int = 13,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: embedding → hyperplane-LSH
    bucket (a proxy for the k-means cluster SemDeDup uses), keep the
    min-id representative per bucket.

    Linear like :func:`lsh_cluster_wide`'s text twin: no pairs, no
    self-join — the 100 TB-credible shape for "drop embedding-
    near-identical docs".  Tightening the dedup radius = raising
    ``bits``; the expected bucket occupancy is n / 2^bits, so candidate
    work stays O(n).

    De-skewed: the (id, bucket) projection is pinned once (lazy
    localCheckpoint, 16 bytes/row), the representative is a
    ``groupBy(bucket).agg(min)`` (partial aggregation collapses a hot
    bucket map-side, where a ``min().over(partitionBy(bucket))`` window
    ran it as one straggler task), and the join back is a BROADCAST of
    the at most 2^bits-row rep table.  The bucket is one table of
    :func:`lsh_topk`'s kernel (:func:`_lsh_buckets`), so both operators
    share one bucket definition."""
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    planes = hyperplane_lsh_perms(bits, dim, seed)
    keyed = (
        _lsh_buckets(vectors.select(id_col, vec_col), planes, 1, bits)
        .select(F.col(id_col), F.col("__bt")[0].alias("bucket"))
        .localCheckpoint(eager=False)
    )
    reps = keyed.groupBy("bucket").agg(F.min(id_col).alias("rep_id"))
    # the rep table is bounded by 2^bits rows — an explicit broadcast is
    # safe for the practical bits range, but a caller raising bits past
    # ~2^20 for a tighter dedup radius could exceed broadcast/driver
    # limits (ADVICE r17): fall back to a plain join there and let the
    # planner/AQE pick from measured sizes (skew splitting still applies)
    attach = F.broadcast(reps) if bits <= 20 else reps
    return (
        keyed.join(attach, "bucket")
        .select(id_col, "bucket", "rep_id")
        .withColumn("is_dup", F.col("rep_id") != F.col(id_col))
    )


def semantic_decontaminate(
    vectors: DataFrame,
    evalset: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.30,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every corpus
    vector whose max cosine against the EVAL set reaches ``tau`` — the
    semantic complement to n-gram :func:`~...curation.decontaminate`
    (paraphrased leakage shares no 8-gram but still embeds nearby).

    Scale shape: eval benchmarks are SMALL by nature (thousands of
    rows), so the right 100 TB plan is the exact one — broadcast the
    eval side and stream the corpus past it map-side, reducing with one
    per-corpus-row window over |eval| candidates (partitioned by
    ``id_col``; no corpus-side shuffle of vectors, no pairs ever leave
    the map stage... the exchange carries one row per corpus vector).
    For an eval set too big to broadcast, the banded LSH machinery
    (:func:`lsh_topk` / ``dedup_simhash_banded``) is the valve — this
    operator deliberately stays exact.

    Deterministic: cosine is the in-order ``aggregate`` fold (bit-equal
    to DuckDB's ``list_dot_product``), the nearest-eval tie breaks on
    ``eval_id`` asc, and ``tau`` compares against bit-identical doubles
    — full SQL oracle, no rounding valve needed.  A zero-norm vector's
    cosine is NULL, so a zero eval vector ranks after every real match.
    """
    ev = evalset.select(
        F.col(id_col).alias("eval_id"),
        F.col(vec_col).alias("__ev"),
        l2_norm(F.col(vec_col)).alias("__en"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("max_cos"), F.asc("eval_id")
    )
    return (
        vectors.select(
            F.col(id_col),
            F.col(vec_col).alias("__v"),
            l2_norm(F.col(vec_col)).alias("__vn"),
        )
        .crossJoin(F.broadcast(ev))
        .withColumn(
            "max_cos",
            F.try_divide(
                dot(F.col("__v"), F.col("__ev")), F.col("__vn") * F.col("__en")
            ),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            id_col,
            F.col("eval_id").alias("nearest_eval_id"),
            "max_cos",
            (F.col("max_cos") >= F.lit(float(tau))).alias("contaminated"),
        )
    )


def matryoshka_topk(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    coarse_k: int = 32,
    prefix_dim: int = 16,
    queries: DataFrame,
) -> DataFrame:
    """Two-stage Matryoshka / adaptive-retrieval kNN: COARSE rank on the
    first ``prefix_dim`` dims (dim/prefix_dim × fewer FLOPs), EXACT
    full-dim rerank of only the global coarse top-``coarse_k``.

    Both stages keep :func:`block_matmul_topk`'s scale shape — broadcast
    query matrix, Arrow-batch BLAS, map-side pruning before any exchange:

    * stage 1 emits ≤ ``coarse_k`` candidates per query per batch
      (prefix dot over FULL-norm-normalized vectors), then one window
      takes the global coarse top-``coarse_k`` — deterministic across
      partitionings (ties broken by neighbor id), so a SQL oracle can
      replay it;
    * stage 2 broadcast-semi-joins the Q×coarse_k candidate ids against
      the corpus (only those rows' full vectors are ever touched again)
      and reranks with the exact full-dim cosine.

    At 100 TB the win is stage 1's bandwidth: the prefix slice is the
    only thing dense-scanned at full corpus width. Recall vs the exact
    answer is tested differentially against block_matmul_topk."""
    bc = _broadcast_queries(vectors, queries, id_col, vec_col)
    cand = vectors.select(id_col, vec_col).mapInArrow(
        blas_topk_map(bc, coarse_k, "coarse", prefix_dim=prefix_dim),
        schema="query_id long, neighbor_id long, coarse double",
    )
    cand = _rank_topk(cand, "coarse", coarse_k, rank="crank")
    joined = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).join(F.broadcast(cand), "neighbor_id")
    res = joined.mapInArrow(
        unit_cosine_map(bc), schema="query_id long, neighbor_id long, cosine double"
    )
    return _rank_topk(res, "cosine", k, "rank")


GRAM_SCALE = 10_000


def gram_matrix(
    vectors: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    scale: int = GRAM_SCALE,
) -> DataFrame:
    """Exact integer Gram (uncentred second-moment) matrix of the corpus:
    ``(i, j, gram_sum)`` for the upper triangle ``i <= j``, where
    ``gram_sum = sum_rows floor(x_i * scale) * floor(x_j * scale)``.

    The d x d covariance/Gram matrix is the workhorse behind PCA
    whitening and embedding diagnostics. Spark-first shape: map-side
    ``X^T X`` per Arrow batch (one int64 matmul per batch — the same
    broadcast-free pattern as ``block_matmul_topk``), emitting only the
    d(d+1)/2 upper-triangle partials per partition; the exchange carries
    O(parts * d^2) tiny rows, never the corpus. Integer fixed-point
    partials make the reduction exact and partition-invariant
    (bit-identical at any parallelism — same contract as
    ``label_centroids``). ``floor`` (not round) quantization: float32
    inputs land exactly on .5 at coarse scales, where engines' rounding
    modes disagree; floor of the identical IEEE product is portable.
    At extreme corpus sizes rescale ``scale`` to keep
    ``rows * (max|x| * scale)^2`` inside int64.
    """
    parts = vectors.select(vec_col).mapInArrow(
        gram_partials_map(dim, scale), "i int, j int, s long"
    )
    return parts.groupBy("i", "j").agg(F.sum("s").alias("gram_sum"))


PCA_POWER_B = 1 << 12  # fixed-point vector scale (|v_i| <= 4096)
PCA_POWER_ITERS = 64


def pca_power_project(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    scale: int = GRAM_SCALE,
    iters: int = PCA_POWER_ITERS,
) -> DataFrame:
    """Top-2 principal-axis projection of embeddings onto the UNCENTRED
    second-moment matrix (truncated SVD of X — the standard
    embedding-compression / visualization step), via ENGINE-EXACT
    fixed-point power iteration.

    Scale shape: integer :func:`gram_matrix` partials -> bounded d^2
    driver collect -> Arrow-batched projection; the corpus never
    shuffles. In place of a floating-point eigensolver, a deterministic
    integer power iteration whose every step is specified in int64
    arithmetic with truncating division (``tdiv(a,b) = sign(a) * (|a|
    // b)`` — DuckDB's native ``//``), so a SQL oracle replays the whole
    computation bit-for-bit (the same fixed-point move as
    ``graph_pagerank``'s :func:`~cassandra_fs_pp_spark.operators.graph.pagerank_exact`).

    Spec: ``Gs = tdiv(G, max|G| // (2^20 - 1) + 1)`` (int64/float-exact
    headroom); axis 1 from ``v = ones * 2^12``, iterating
    ``v <- tdiv(Gs v * 2^12, max|Gs v|)``; axis 2 from the alternating
    ``+-2^12`` start, each step deflating exactly:
    ``w2 = (v1.v1) * tdiv(w, 2^10) - (tdiv(w, 2^10).v1) * v1`` then the
    two-stage renormalization ``q = m // 2^38 + 1`` (overflow guard),
    ``v <- tdiv(tdiv(w2, q) * 2^12, max(m // q, 1))``. Sign pinned by
    the largest-|component| (smallest index on ties) being positive.

    Convergence: error after T steps is O((lambda_2/lambda_1)^T) — exact
    PCA wherever a spectral gap exists (the regime where PCA is
    meaningful). On near-degenerate spectra (the synthetic test corpus:
    lambda_1/lambda_2 ~ 1.017) the returned axes are a deterministic,
    mutually-orthogonal heavy-direction pair rather than the exact
    eigenbasis; the spectral-gap pytest pins cos >= 0.9999 against
    LAPACK eigh where a gap exists.

    Returns ``(id, pc1_fp, pc2_fp, pc1, pc2)``: the exact integer dot
    products ``Q . v`` plus data-unit doubles ``fp / (scale * ||v||)``
    (one correctly-rounded IEEE sqrt + divide — deterministic across
    engines)."""

    def tdiv(a: np.ndarray, b: int) -> np.ndarray:
        a = np.asarray(a, dtype=np.int64)
        return np.sign(a) * (np.abs(a) // b)

    B = PCA_POWER_B
    g = gram_matrix(vectors, vec_col=vec_col, dim=dim, scale=scale).collect()
    G = np.zeros((dim, dim), dtype=np.int64)
    for r in g:
        G[r["i"], r["j"]] = r["gram_sum"]
        G[r["j"], r["i"]] = r["gram_sum"]
    gdiv = int(np.abs(G).max()) // ((1 << 20) - 1) + 1
    Gs = tdiv(G, gdiv)

    v = np.full(dim, B, dtype=np.int64)
    for _ in range(iters):
        w = Gs @ v
        m = max(int(np.abs(w).max()), 1)
        v = tdiv(w * B, m)
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

    def signfix(vec: np.ndarray) -> np.ndarray:
        order = np.lexsort((np.arange(dim), -np.abs(vec)))
        return -vec if vec[order[0]] < 0 else vec

    va, vb = signfix(va), signfix(vb)
    den_a = float(scale) * float(np.sqrt(float((va * va).sum())))
    den_b = float(scale) * float(np.sqrt(float((vb * vb).sum())))

    return vectors.select(id_col, vec_col).mapInArrow(
        pca_project_map(va, vb, den_a, den_b, scale),
        f"{id_col} long, pc1_fp long, pc2_fp long, pc1 double, pc2 double",
    )
