"""Training-data curation operators (beyond reference parity).

The reference (`cassandra_fs_pp`) is a sensor-ETL package with no corpus
tooling; these are the dataset-curation primitives a large-scale training
pipeline needs, expressed Spark-first so every one of them scales:

* deterministic stratified sampling — pure hash predicate, no RNG, no
  shuffle, fully pushdown-friendly;
* context-window sequence packing — one window cumsum per stratum, no
  driver-side loop;
* n-gram decontamination — distinct-gram semi-join keyed on a 60-bit
  hash (narrow shuffle keys; the eval side is small and broadcastable);
* Gopher-style quality-rule filtering — pure column expressions.

All are cross-engine deterministic (md5-backed `hash60`) so the DuckDB
oracle can verify them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cassandra_fs_pp_spark.functions.text import (
    hash60,
    stopword_ratio,
    whitespace_tokens,
)


def stratified_sample_keep(
    id_col: Column, stratum_col: Column, rates: dict[str, int], buckets: int = 100
) -> Column:
    """Keep-predicate for deterministic per-stratum downsampling.

    ``rates`` maps stratum value -> number of kept buckets out of
    ``buckets`` (e.g. {'en': 10} keeps ~10% of English rows). Strata not
    listed are dropped. Hash-bucket membership replaces RNG sampling, so
    the same row survives on every engine and every run — the property
    that makes 100 TB curation reruns reproducible and incremental.
    """
    b = hash60(id_col.cast("string")) % buckets
    out = None
    for stratum, n in rates.items():
        cond = (stratum_col == stratum) & (b < n)
        out = cond if out is None else (out | cond)
    if out is None:  # no strata listed -> keep nothing (per the contract)
        return F.lit(False)
    return F.coalesce(out, F.lit(False))


def pack_sequences(
    df: DataFrame,
    token_count_col: str,
    order_col: str = "doc_id",
    ctx_len: int = 512,
    partition_col: str | None = None,
) -> DataFrame:
    """Assign each document to a context-window pack (offset binning).

    Documents are laid out end-to-end in deterministic ``order_col``
    order; ``pack_id = floor(start_offset / ctx_len)`` where
    ``start_offset`` is the exclusive running token total. This is the
    single-pass, shuffle-light approximation of greedy sequence packing
    (a document may straddle a boundary — the trainer's concat-and-chunk
    loader semantics), vs. exact first-fit-decreasing which is inherently
    sequential. One window cumsum per ``partition_col`` stratum; with no
    ``partition_col`` the corpus-wide prefix sum runs through
    :func:`~cassandra_fs_pp_spark.operators.stats.global_running_sum`
    (range shuffle + narrow local cumsums + broadcast carry-ins) — a
    corpus-sized ``Window.orderBy`` would drag every row through ONE
    partition, the classic 100 TB killer.
    """
    if partition_col is None:
        from cassandra_fs_pp_spark.operators.stats import global_running_sum

        packed = global_running_sum(
            df,
            token_count_col,
            [order_col],
            out_col="__start",
            exclusive=True,
        )
        return packed.withColumn(
            "pack_id", F.floor(F.col("__start") / F.lit(ctx_len)).cast("long")
        ).drop("__start")
    w = Window.partitionBy(partition_col).orderBy(order_col)
    start = (
        F.sum(F.col(token_count_col)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
        - F.col(token_count_col)
    )
    return df.withColumn(
        "pack_id", F.floor(start / F.lit(ctx_len)).cast("long")
    )


def ngram_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    partition_by_id: bool = True,
) -> DataFrame:
    """Exploded (id, gram) rows — word ``n``-grams, space-joined and
    lower-cased; no rows for a document shorter than ``n`` tokens — with
    the token array materialized ONCE per document: a CollapseProject
    barrier prevents Catalyst inlining the regex split into the per-gram
    lambda (a plain ``transform`` over the split re-runs it once PER GRAM;
    measured 7.6x at sf0.1).

    ``partition_by_id=True`` (default) barriers via ``repartition(id)``
    — load-bearing for consumers whose next keyed op is satisfied by the
    id clustering (a distinct or ``groupBy`` on the id): the one
    exchange is shared.  ``partition_by_id=False`` (r17)
    skips the exchange entirely: the tokens still materialize once but
    the corpus token arrays are NOT shuffled at all; use it when the
    consumer filters the gram stream before any keyed op
    (``decontaminate``'s broadcast prefilter: the grams must stream past
    map-side, paying at most a post-filter sliver exchange).  A/B at
    sf0.1: no-shuffle == repartition wall locally (2.72 vs 2.64 s
    two-pass) and naive collapse 6.99 s.

    What keeps the split single-evaluation on this path (ADVICE r17):
    the discarded ``monotonically_increasing_id`` marker below was
    MEANT as a CollapseProject barrier, but Spark 4.1.2's optimizer
    prunes it from the executed plan — single evaluation actually rests
    on CollapseProject's cost heuristic refusing to duplicate the
    expensive regex ``split`` into the per-gram lambda.  The marker is
    kept as belt-and-braces for optimizer versions that would collapse
    first and prune later, and
    ``tests/test_plan_health.py::test_decontaminate_single_split_per_side``
    pins the one-split-per-side property so a Spark upgrade that
    regresses the heuristic is caught."""
    cols = [F.col(id_col), whitespace_tokens(F.col(text_col)).alias("__t")]
    if not partition_by_id:
        cols.append(F.monotonically_increasing_id().alias("__nd"))
    toks = df.select(*cols)
    if partition_by_id:
        toks = toks.repartition(F.col(id_col))
    grams = F.when(
        F.size("__t") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("__t") - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select(F.col(id_col), F.explode(grams).alias("gram"))


def decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-train-document count of distinct n-gram hashes shared with the
    eval set. Join is on the eval side's distinct gram hashes (small →
    broadcast); at 100 TB the train grams stream past it map-side.

    The train side is deliberately NOT pre-deduplicated: a distinct()
    there would be a full shuffle of every gram, while the broadcast join
    filters first (typically >99% of grams drop) and the final
    ``countDistinct`` dedups only the surviving sliver.

    r17: both sides use ``ngram_rows``'s marker barrier instead of its
    ``repartition(id)`` — the train-side token arrays previously took a
    full corpus shuffle BEFORE the broadcast prefilter, contradicting
    the map-side-streaming story above; now the only train-side exchange
    carries the post-filter sliver into the groupBy, and the eval side
    keeps just the distinct's own gram_hash exchange."""
    train_grams = ngram_rows(
        train, id_col, text_col, n, partition_by_id=False
    ).select(F.col(id_col), hash60(F.col("gram")).alias("gram_hash"))
    eval_grams = (
        ngram_rows(evalset, id_col, text_col, n, partition_by_id=False)
        .select(hash60(F.col("gram")).alias("gram_hash"))
        .distinct()
    )
    return (
        train_grams.join(F.broadcast(eval_grams), "gram_hash")
        .groupBy(id_col)
        .agg(F.count_distinct("gram_hash").alias("n_shared_grams"))
    )


def gopher_quality_flags(
    text_col: Column,
    min_words: int = 20,
    max_words: int = 80,
    min_mean_wl: float = 3.0,
    max_mean_wl: float = 6.0,
    min_stopword_ratio: float = 0.02,
) -> dict[str, Column]:
    """Gopher-style quality-rule booleans (Rae et al. 2021 §A1.1 shape,
    thresholds tuned to this corpus): word-count band, mean word length
    band, minimum stopword ratio. Returns {rule_name: fails_bool}."""
    toks = whitespace_tokens(text_col)
    n_words = F.size(toks)
    mean_wl = F.aggregate(
        toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t)
    ) / n_words
    return {
        "fail_word_count": ~n_words.between(min_words, max_words),
        "fail_mean_word_len": ~mean_wl.between(min_mean_wl, max_mean_wl),
        "fail_stopword_ratio": stopword_ratio(text_col) < min_stopword_ratio,
    }


def source_budget_keep(
    df: DataFrame,
    *,
    group_col: str = "source",
    size_col: str = "n_chars",
    order_col: str = "doc_id",
    budget: int,
) -> DataFrame:
    """Per-source corpus budgeting: keep documents, in deterministic
    ``order_col`` order, while the running ``size_col`` total stays within
    ``budget`` — the "cap each domain's contribution" step of web-corpus
    mixing (no reference analogue; corpus-curation extension).

    One window cumsum per group, no driver loop; the group key is the
    shuffle key, so a 100 TB corpus budgets every domain in one pass.
    Returns the input columns plus ``cum_size``.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("cum_size", F.sum(size_col).over(w))
        .filter(F.col("cum_size") <= budget)
    )


def weighted_reservoir_topk(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    k: int,
    stratum_col: str | None = None,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-Res).

    Efraimidis–Spirakis reservoir sampling: each row gets priority
    ``u^(1/w)`` where ``u`` is a hash-derived uniform in (0,1) and ``w``
    its weight; the top-k priorities per stratum are an exact weighted
    sample without replacement. Hash-backed ``u`` (not RNG) keeps the
    sample identical across engines, runs, and partitionings — the same
    reproducibility contract as ``stratified_sample_keep``, but with
    per-row *weights* (sample long documents proportionally more).

    One window on ``stratum_col`` — a single shuffle; at 100 TB use a
    real stratum (lang, source) so no partition sees the whole corpus.
    For the unstratified global case prefer a two-level top-k (per
    partition, then merge) if k is small.
    """
    u = (
        (hash60(F.col(id_col).cast("string")) % F.lit(1_000_000_000)) + F.lit(0.5)
    ) / F.lit(1e9)
    # Efraimidis-Spirakis priority u^(1/w) needs w > 0; non-positive
    # weights sort below every real priority (u^(1/w) is in (0,1)) so
    # they are only ever sampled after all positively-weighted rows.
    key = F.when(
        F.col(weight_col) > 0,
        F.pow(u, F.lit(1.0) / F.col(weight_col)),
    ).otherwise(F.lit(-1.0))
    part = [stratum_col] if stratum_col else []
    w = Window.partitionBy(*part).orderBy(F.desc("__key"), F.col(id_col))
    return (
        df.withColumn("__key", key)
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .withColumn("sample_rank", F.col("__rk"))
        .drop("__key", "__rk")
    )


def shuffle_shard(
    df: DataFrame,
    id_col: str,
    *,
    shards: int = 8,
    seed: str = "shuffle7",
) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training-data
    export: every row gets a ``shard`` and a stable position within it.

    Training runs need the corpus in a reproducible pseudo-random order,
    split into equal-ish shards (one per output file / data-loader
    worker). RNG-based shuffles aren't rerunnable; this orders by a
    60-bit md5 hash of (id, seed) — same order on every engine, run, and
    partitioning — and shards by ``hash % shards`` so membership never
    depends on global position.

    One shuffle (the per-shard window); each partition sees ~n/shards
    rows. At 100 TB set ``shards`` to the output-file count and write
    with ``partitionBy(shard)`` — the window's sort IS the file order.
    """
    key = hash60(F.concat(F.col(id_col).cast("string"), F.lit(":" + seed)))
    shard = (key % F.lit(shards)).cast("int")
    w = Window.partitionBy("shard").orderBy("__k", id_col)
    return (
        df.select(F.col(id_col), key.alias("__k"), shard.alias("shard"))
        .withColumn("shard_pos", F.row_number().over(w).cast("int"))
        .select(id_col, "shard", "shard_pos")
    )


def quality_model_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    threshold: float = 0.0,
) -> DataFrame:
    """Model-based quality filtering (the fasttext/logreg stage of a
    training-data pipeline): score = mean per-token weight of a linear
    bag-of-words model, keep docs above ``threshold``.

    The weight table is the hashing trick taken to its conclusion — the
    token's weight IS a hash: ``pmod(hash60(w), 2001) - 1000`` in
    milli-units (a deterministic stand-in for trained weights with the
    same plumbing: per-token lookup-free scoring, no dictionary join,
    no broadcast). Swapping in real trained weights = replacing this
    expression with a broadcast map lookup; the distributed shape is
    identical and stays JVM-side either way.

    Exactness: the sum is integer; the single final division of two
    exactly-representable values is IEEE-identical across engines, so a
    full SQL oracle holds bit-for-bit."""
    # drop the '' token Spark's split yields on empty/whitespace-only
    # text: such docs score n_tokens=0 / score null, not md5('')'s weight
    toks = F.filter(whitespace_tokens(F.col(text_col)), lambda t: t != "")
    w_sum = F.expr(
        "aggregate(transform(__toks, t -> "
        "pmod(cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint), 2001L)"
        " - 1000L), 0L, (acc, x) -> acc + x)"
    )
    return (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(
            id_col,
            F.size("__toks").alias("n_tokens"),
            w_sum.alias("w_sum_milli"),
        )
        .withColumn(
            "score",
            F.when(
                F.col("n_tokens") > 0,
                F.col("w_sum_milli").cast("double")
                / (F.lit(1000.0) * F.col("n_tokens").cast("double")),
            ),
        )
        .withColumn("keep", F.col("score") > F.lit(threshold))
    )


def ccnet_buckets(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style per-source perplexity bucketing (Wenzek et al. 2020):
    score every document with the corpus-trained Kneser-Ney bigram LM
    (:func:`~cassandra_fs_pp_spark.functions.text.kn_perplexity`), then
    split each source into ``n_buckets`` equal-count quality tiers —
    head / middle / tail for the default 3 — by perplexity rank WITHIN
    its source. Per-source (CCNet: per-language) calibration is the
    point: an absolute perplexity threshold would judge every domain by
    the head domain's fluency, starving diverse sources.

    Scale shape: the KN scoring plan plus one doc_id hash join to
    re-attach the source, then a single ntile window partitioned by
    source — the fleet-valve-friendly partitioning (sources are the
    cohort key; no global sort). Deterministic: ntile over
    (ppl, doc_id) — ppl is already cross-engine bit-identical (rounded
    6 dp) and doc_id breaks ties, so bucket assignment replays exactly
    in SQL. Docs with no bigrams (<2 tokens) have no perplexity and are
    excluded, same as the scorer.
    """
    from cassandra_fs_pp_spark.functions.text import kn_perplexity

    scored = kn_perplexity(docs, order=2, id_col=id_col, text_col=text_col)
    src = docs.select(id_col, source_col)
    w = Window.partitionBy(source_col).orderBy(
        F.col("ppl").asc(), F.col(id_col).asc()
    )
    bucket = F.ntile(n_buckets).over(w)
    label = (
        F.when(bucket == 1, F.lit("head"))
        .when(bucket == n_buckets, F.lit("tail"))
        .otherwise(F.lit("middle"))
        if n_buckets == 3
        else bucket.cast("string")
    )
    return (
        scored.join(src, id_col)
        .select(
            id_col,
            source_col,
            "ppl",
            bucket.alias("bucket"),
            label.alias("tier"),
        )
    )


def ccnet_buckets_banded(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    band_decimals: int = 2,
) -> DataFrame:
    """Scale-valve twin of :func:`ccnet_buckets` (VERDICT r11 item 3).

    ``ccnet_buckets``'s per-source ``ntile`` sorts each source cohort in
    ONE partition — fine for 20 synthetic sources, a single-task sort at
    CCNet scale, where the cohort key is the language and a head
    language can be half the corpus.  This twin never sorts a cohort:

    * quantize perplexity to the ``band_decimals`` grid
      (``floor(ppl * 10^d)`` — deterministic: both engines floor the
      same IEEE double);
    * per-(source, band) counts — ONE map-side-combinable aggregation,
      hash-distributed over the full (source, band) key space;
    * per-source cumulative counts over the BAND table — the window
      input is the histogram, bounded by the value grid
      (range x 10^d rows/source), not the cohort;
    * exact integer-rank tercile cutoffs (``cum >= ceil(n/3)`` /
      ``ceil(2n/3)``, pure integer arithmetic — the
      a_weighted_median / winsorized order-statistic machinery);
    * a stateless broadcast band join assigns tiers by VALUE.

    Semantic difference vs the ntile form, by design: docs tied within
    the cutoff band share a tier, so tier counts are equal only up to
    the cutoff band's multiplicity — the standard histogram-quantile
    trade every production CCNet pipeline makes.  Deterministic and
    exactly SQL-replayable (no interpolation, no RNG).
    """
    from cassandra_fs_pp_spark.functions.text import kn_perplexity

    scale = 10 ** int(band_decimals)
    scored = kn_perplexity(docs, order=2, id_col=id_col, text_col=text_col)
    src = docs.select(id_col, source_col)
    d = (
        scored.join(src, id_col)
        .select(
            id_col,
            source_col,
            "ppl",
            F.floor(F.col("ppl") * scale).cast("long").alias("band"),
        )
    )
    hist = d.groupBy(source_col, "band").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(source_col).orderBy("band")
    wt = Window.partitionBy(source_col)
    cum = hist.select(
        source_col,
        "band",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wt).alias("n"),
    )
    cuts = cum.groupBy(source_col).agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 2) div 3"), F.col("band"))
        ).alias("c1"),
        F.min(
            F.when(F.col("cum") >= F.expr("(2 * n + 2) div 3"), F.col("band"))
        ).alias("c2"),
    )
    bucket = (
        F.when(F.col("band") <= F.col("c1"), F.lit(1))
        .when(F.col("band") <= F.col("c2"), F.lit(2))
        .otherwise(F.lit(3))
    )
    label = (
        F.when(bucket == 1, F.lit("head"))
        .when(bucket == 3, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return d.join(F.broadcast(cuts), source_col).select(
        id_col,
        source_col,
        "ppl",
        "band",
        bucket.cast("int").alias("bucket"),
        label.alias("tier"),
    )


def dsir_scores(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    target_sources: tuple[str, ...] = ("src0", "src1"),
    buckets: int = 512,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023)
    — the modern data-selection step: score every document by how much
    its hashed-n-gram feature distribution looks like a TARGET domain
    versus the RAW pool. Returns per-doc ``(id, n_tok, logw_nano)`` for
    EVERY input document (no limit; :func:`dsir_select` adds the global
    top-k, the pretraining-pipeline flagship applies per-source mixture
    quotas instead).

    Implementation (hashed word UNIGRAMS + BIGRAMS — the feature family
    the DSIR paper actually uses (§3: "hashed n-gram features",
    unigrams and bigrams hashed into 10k buckets) — add-1 smoothing;
    r14 upgrade per VERDICT r13 item 6, previously unigrams only):

    * feature stream per doc = every token ``w`` plus every adjacent
      pair ``w_i ++ ' ' ++ w_{i+1}`` (built with one ``transform`` over
      the token array — no self-join, no second explode);
    * ``bucket(f) = hash60(f) % buckets`` (the corpus-wide idiom shared
      with :func:`quality_model_score` — cross-engine exact);
    * per-bucket occurrence counts ``n_t`` / ``n_r`` over target
      (``source IN target_sources``) and raw (the rest) — exact
      integers, map-side combinable, table bounded by ``buckets``;
    * per-bucket log importance ratio in NANO-NATS:
      ``lam = round(ln(((n_t+1)*(R+buckets)) / ((n_r+1)*(T+buckets)))
      * 1e9)`` — ONE transcendental of a ratio of exactly-representable
      integer products (all < 2^53), so both engines round the same
      double to the same integer;
    * per-doc importance = integer sum of ``lam`` over feature
      OCCURRENCES (order-free), emitted with the top-``top_k`` by
      ``(importance desc, doc_id)``.

    Scale shape: one feature explode (~2x token count); the λ table is
    ``buckets`` rows (broadcast); the per-doc reduce is a hash
    aggregate; the global top-k is TakeOrdered (no single-partition
    window). The corpus never shuffles except by ``doc_id`` for the
    reduce.
    """
    # Materialize the token array as a BOUND COLUMN before any lambda
    # touches it: a higher-order-function lambda does NOT share
    # subexpressions with its enclosing scope, so referencing the raw
    # split(...) expression from inside `transform` re-tokenized the
    # whole document PER ELEMENT — O(tokens^2) text splits per doc
    # (measured: 68 s first-run at sf0.01 vs 1.4 s for this form).
    # CollapseProject cannot re-inline it: `__toks` is referenced
    # several times and split() is non-cheap, which is exactly the
    # guard Catalyst applies before collapsing adjacent projections.
    toks = F.filter(whitespace_tokens(F.col(text_col)), lambda t: t != "")
    toked = docs.select(
        F.col(id_col),
        F.col(source_col).isin(*target_sources).alias("__is_t"),
        toks.alias("__toks"),
    )
    tc = F.col("__toks")
    n1 = F.greatest(F.size(tc) - 1, F.lit(0))
    feats = F.concat(
        tc,
        F.zip_with(
            F.slice(tc, 1, n1),
            F.slice(tc, 2, n1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    )
    ex = toked.select(
        F.col(id_col),
        F.col("__is_t"),
        F.explode(feats).alias("w"),
    ).select(
        id_col,
        "__is_t",
        F.expr(
            "pmod(cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint),"
            f" {int(buckets)}L)"
        ).alias("bucket"),
    )
    # r17: collapse feature OCCURRENCES to per-(doc, bucket) counts once
    # and stage the compact table.  The λ build (cnt + tot) and the final
    # score join each consumed the raw occurrence stream, so the
    # tokenize + explode + md5 corpus pass ran ~3x per invocation
    # (measured: three ~400 ms twin jobs at sf0.1).  Every downstream
    # quantity is an exact integer fold of the counts — n_t/n_r sum the
    # counts, n_tok = Σc, logw_nano = Σ(c·λ) — so results are
    # bit-identical and the oracle is untouched; the map-side partial
    # aggregate also shrinks the only corpus shuffle from one row per
    # occurrence to at most ``buckets`` rows per document.
    exd = (
        ex.groupBy(id_col, "__is_t", "bucket")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=False)
    )
    cnt = exd.groupBy("bucket").agg(
        F.sum(F.when(F.col("__is_t"), F.col("__c")).otherwise(0)).alias("n_t"),
        F.sum(F.when(~F.col("__is_t"), F.col("__c")).otherwise(0)).alias("n_r"),
    )
    tot = cnt.agg(
        F.sum("n_t").alias("T"), F.sum("n_r").alias("R")
    )
    lam = (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.round(
                F.log(
                    (
                        (F.col("n_t") + 1) * (F.col("R") + F.lit(int(buckets)))
                    ).cast("double")
                    / (
                        (F.col("n_r") + 1) * (F.col("T") + F.lit(int(buckets)))
                    ).cast("double")
                )
                * F.lit(1e9)
            )
            .cast("long")
            .alias("lam_nano"),
        )
    )
    return (
        exd.join(F.broadcast(lam), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_tok"),
            F.sum(F.col("lam_nano") * F.col("__c")).alias("logw_nano"),
        )
    )


def dsir_select(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    target_sources: tuple[str, ...] = ("src0", "src1"),
    buckets: int = 512,
    top_k: int = 500,
) -> DataFrame:
    """DSIR selection: :func:`dsir_scores` + global top-``top_k`` by
    ``(importance desc, id)`` (TakeOrdered — no single-partition
    window). See :func:`dsir_scores` for the model and determinism
    contract."""
    scored = dsir_scores(
        docs,
        id_col=id_col,
        text_col=text_col,
        source_col=source_col,
        target_sources=target_sources,
        buckets=buckets,
    )
    return (
        scored.orderBy(F.desc("logw_nano"), F.asc(id_col))
        .limit(int(top_k))
        .select(
            id_col,
            "n_tok",
            "logw_nano",
            (F.col("logw_nano").cast("double") / F.lit(1e9)).alias("logw"),
        )
    )


def logreg_train_select(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    target_sources: tuple[str, ...] = ("src0", "src1"),
    buckets: int = 64,
    rounds: int = 3,
    lr_div: int = 65536,
    top_k: int = 400,
) -> DataFrame:
    """TRAINED model-based quality filtering — the distributed
    logistic-regression stage :func:`quality_model_score`'s docstring
    promises ("swapping in real trained weights"): learn a linear
    bag-of-hashed-words classifier separating TARGET-source documents
    from the raw pool by full-batch gradient descent, then score every
    document with the learned weights and keep the top-``top_k``.

    Model & determinism contract (the fixed-point idiom family shared
    with k-means / PQ / DSIR):

    * features: per-doc token-fraction of each hashed unigram bucket in
      MICRO units — ``f(d,b) = round(1e6 * count(d,b) / n_tokens(d))``
      (exact-integer inputs, one deterministic double divide+round) —
      plus a constant bias feature ``f(d, buckets) = 1e6``;
    * weights: BIGINT micro-nats, ``w_0 = 0``;
    * per round: margin ``z_d = sum_b w_b * f(d,b)`` (exact BIGINT
      sum), residual ``g_d = round((sigmoid(z_d / 1e12) - y_d) * 1e6)``
      (ONE transcendental per doc per round — a ulp flip would need to
      land within 1e-6 of a rounding boundary to matter, the same bet
      the nano-nat ln/exp oracles already make), gradient
      ``grad_b = sum_d g_d * f(d,b)`` (exact BIGINT), update
      ``w_b -= round(double(grad_b) / (N * lr_div))`` — every rounding
      happens in Spark SQL so the oracle replays it operation-for-
      operation as unrolled CTE rounds;
    * the per-round driver round-trip is the ``buckets + 1``-row update
      vector (the k-means/PQ codebook pattern) — never rows.

    Scale shape: one tokenize+explode scan builds the feature table
    (rows ≤ docs × min(buckets, tokens)), persisted (MEMORY_AND_DISK)
    for the duration of training so every GD round reads cached
    ``(doc, bucket, f)`` rows instead of re-running tokenize+explode —
    cost ∝ rounds, not rounds × corpus-scan (r15); the final scoring
    pass ALSO reads the cache — its ≤ ``top_k``-row result is
    localCheckpoint-ed before the cache is released, so no pass ever
    re-derives the tokenize+explode lineage (r16, VERDICT r15 item 6).
    Each round is two hash aggregates plus one broadcast-sized literal
    array lookup (no join for the weight attach — ``element_at`` on a
    65-element literal), and the final selection is TakeOrdered.
    Nothing shuffles except by ``doc_id`` / ``bucket`` for the reduces.
    The gradient reduce accumulates in ``decimal(38,0)`` (per-doc terms
    reach 1e12; a BIGINT sum would wrap silently past ~9.2M docs per
    bucket while the DuckDB oracle sums in HUGEINT — ADVICE r14).

    Zero-token documents carry no features (not even bias) and are
    excluded, matching :func:`quality_model_score`'s null-score posture.
    """
    toks = F.filter(whitespace_tokens(F.col(text_col)), lambda t: t != "")
    base = docs.select(
        F.col(id_col),
        F.col(source_col).isin(*target_sources).alias("y"),
        toks.alias("__toks"),
    ).where(F.size("__toks") > 0)
    ex = base.select(
        id_col,
        "y",
        F.size("__toks").alias("n_tok"),
        F.explode("__toks").alias("w"),
    ).select(
        id_col,
        "y",
        "n_tok",
        F.expr(
            "pmod(cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint),"
            f" {int(buckets)}L)"
        ).alias("bucket"),
    )
    unigram = (
        ex.groupBy(id_col, "y", "n_tok", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            id_col,
            "y",
            "n_tok",
            "bucket",
            F.expr("cast(round(1e6 * c / n_tok) as bigint)").alias("f"),
        )
    )
    bias = base.select(
        id_col,
        "y",
        F.size("__toks").alias("n_tok"),
        F.lit(int(buckets)).cast("bigint").alias("bucket"),
        F.lit(1_000_000).cast("bigint").alias("f"),
    )
    from pyspark import StorageLevel

    feats = (
        unigram.unionByName(bias)
        # r17: cache ALREADY hash-partitioned by doc — the id partitioning
        # satisfies both per-round consumers (groupBy(id, y): id ⊆ keys;
        # the g join: key == id), so each GD round stops re-exchanging the
        # cached feature table and only the tiny residual table moves.
        .repartition(F.col(id_col))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # n_docs = count of bias rows (exactly one per doc with >= 1 token —
    # the same population base.count() measured).  Counting on ``feats``
    # instead of ``base`` materializes the persisted feature table in the
    # same job, so training does ONE tokenize+explode pass total where the
    # r16 form paid a separate tokenize scan just for the count (r17).
    n_docs = feats.where(F.col("bucket") == int(buckets)).count()
    weights = [0] * (int(buckets) + 1)

    def _wlit() -> Column:
        # ONE F.expr string, not buckets+1 F.lit py4j round-trips: the
        # Column-builder form cost ~1k driver calls per GD round just to
        # rebuild this literal (measured r18) — same
        # expression tree, same BIGINT literals, bit-identical plan.
        return F.expr(
            "array(" + ", ".join(f"{int(x)}L" for x in weights) + ")"
        )

    margin = F.sum(
        F.element_at(_wlit(), F.col("bucket").cast("int") + 1) * F.col("f")
    ).alias("z")
    for _ in range(int(rounds)):
        z = feats.groupBy(id_col, "y").agg(margin)
        g = z.select(
            id_col,
            F.expr(
                "cast(round((1.0 / (1.0 + exp(-(cast(z as double) / 1e12)))"
                " - (case when y then 1.0 else 0.0 end)) * 1e6) as bigint)"
            ).alias("g"),
        )
        upd = (
            feats.join(g, id_col)
            .groupBy("bucket")
            .agg(
                F.expr(
                    "cast(round(cast(sum(cast(g as decimal(38,0)) * f)"
                    " as double)"
                    f" / ({int(n_docs)} * {int(lr_div)}.0)) as bigint)"
                ).alias("u")
            )
            .collect()
        )
        for r in upd:
            weights[int(r["bucket"])] -= int(r["u"])
        margin = F.sum(
            F.element_at(_wlit(), F.col("bucket").cast("int") + 1)
            * F.col("f")
        ).alias("z")
    scored = feats.groupBy(id_col, "y", "n_tok").agg(margin)
    out = (
        scored.orderBy(F.desc("z"), F.asc(id_col))
        .limit(int(top_k))
        .select(
            F.col(id_col),
            F.col("y").alias("is_target"),
            "n_tok",
            F.col("z").alias("score12"),
            (F.col("z").cast("double") / F.lit(1e12)).alias("score"),
            (F.col("z") > 0).alias("pred_target"),
        )
        # materialize the <= top_k-row selection WHILE the feature table
        # is still cached, then release the cache: unpersisting before
        # the final pass (r15) re-derived the full tokenize+explode
        # lineage once per consumer — a whole-corpus re-scan at 100 TB
        # (VERDICT r15 item 6). localCheckpoint on the post-limit result
        # is a bounded (top_k-row) materialization.
        .localCheckpoint()
    )
    feats.unpersist(blocking=False)
    return out


def repetition_flags(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    top2_max: float = 0.08,
    dup5_max: float = 0.20,
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1, the
    repetition half — :func:`gopher_quality_flags` covers the
    length/stopword half): flag documents dominated by (a) ONE bigram
    — ``top_bigram_frac`` = occurrences of the most frequent word
    2-gram over all 2-gram occurrences — or (b) duplicated 5-grams —
    ``dup_5gram_frac`` = occurrences of non-unique 5-grams over all
    5-gram occurrences. Occurrence fractions (not Gopher's character
    fractions) keep every numerator and denominator an exact BIGINT, so
    the two final divisions are single deterministic double ops and the
    oracle holds bit-for-bit with no rounding valve.

    Scale shape (r17 — one pass, was two): ONE tokenize behind ONE
    repartition(id) CollapseProject barrier (the r16 form ran
    :func:`ngram_rows` twice — two corpus scans, two token-array
    shuffles), both gram arrays built from the same token array and
    exploded as one (n, gram)-tagged stream, then two STACKED hash
    aggregates — (id, n, gram) counts, then the per-doc stats — both
    satisfied by the id hash partitioning (id is a subset of each
    grouping key), so the whole query is one exchange, zero joins.
    Counts are bit-identical to the two-branch form: tagging by n
    keeps the (id, gram) count spaces disjoint, and the s2-join-s5
    exclusion of <5-token documents (no 5-grams) is the ``t5 IS NOT
    NULL`` filter. No windows, no pairs, same posture as the
    perplexity scorers."""
    toks = docs.select(
        F.col(id_col), whitespace_tokens(F.col(text_col)).alias("__t")
    ).repartition(F.col(id_col))

    def _grams(n: int) -> Column:
        return F.when(
            F.size("__t") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    tagged = toks.select(
        F.col(id_col),
        F.explode(
            F.concat(
                F.transform(
                    _grams(2),
                    lambda g: F.struct(
                        F.lit(2).alias("n"), g.alias("gram")
                    ),
                ),
                F.transform(
                    _grams(5),
                    lambda g: F.struct(
                        F.lit(5).alias("n"), g.alias("gram")
                    ),
                ),
            )
        ).alias("p"),
    ).select(id_col, F.col("p.n").alias("n"), F.col("p.gram").alias("gram"))
    c = tagged.groupBy(id_col, "n", "gram").agg(F.count(F.lit(1)).alias("c"))
    s = (
        c.groupBy(id_col)
        .agg(
            F.max(F.when(F.col("n") == 2, F.col("c"))).alias("m2"),
            F.sum(F.when(F.col("n") == 2, F.col("c"))).alias("t2"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("n") == 5) & (F.col("c") >= 2), F.col("c")
                    )
                ),
                F.lit(0).cast("long"),
            ).alias("d5"),
            F.sum(F.when(F.col("n") == 5, F.col("c"))).alias("t5"),
        )
        .filter(F.col("t5").isNotNull())
    )
    top2 = F.col("m2").cast("double") / F.col("t2").cast("double")
    dup5 = F.col("d5").cast("double") / F.col("t5").cast("double")
    return s.select(
        id_col,
        "m2",
        "t2",
        "d5",
        "t5",
        top2.alias("top_bigram_frac"),
        dup5.alias("dup_5gram_frac"),
        (top2 > F.lit(float(top2_max))).alias("rep_top2_flag"),
        (dup5 > F.lit(float(dup5_max))).alias("rep_dup5_flag"),
    )
