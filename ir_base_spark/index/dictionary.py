"""Dictionary (term → id) + exact corpus statistics.

Reference semantics: exact DF/TTF per term
(/root/reference/src/structures/_stat.java:54-62) — NOT
approx_count_distinct; rank-identity needs exact DF (SURVEY §4.5).
Deterministic term ids: row_number over (df desc, term asc) — arrival
order (the reference's expandVocabulary,
/root/reference/src/Analyzer/Analyzer.java:126-130) is not reproducible
in a distributed engine, so the canonical ordering is pinned instead
(FIXTURES.md §4). min/max-DF pruning mirrors the DF feature selector
(/root/reference/src/Analyzer/FeatureSelector.java:64-71).

Scale notes (10^12 turns → ~10^8-term dictionary):
- DF/TTF is a single shuffle of pre-aggregated (doc, term) rows keyed by
  term; AQE handles moderate skew, and the posting-block build (blocks.py)
  adds explicit salting for the Zipf head.
- Term-id assignment avoids a single-partition global window: terms are
  range-partitioned on the sort key, ranked within partitions, and offset
  by cumulative partition counts (a driver-side array of #partitions
  ints) — fully distributed, deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def term_stats(raw_postings: DataFrame) -> DataFrame:
    """(term, df, ttf) with exact counts.

    raw_postings already has one row per (doc, term), so DF is count(*)
    — no countDistinct shuffle of doc ids needed.
    """
    return raw_postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("long").alias("ttf"),
    )


def assign_dense_ids(
    df: DataFrame,
    order_cols: list,
    id_name: str,
    num_partitions: int = 32,
) -> DataFrame:
    """Deterministic dense 0-based ids = row_number over ``order_cols``.

    Distributed two-phase ranking: range-partition by the sort key, rank
    within each partition, add exclusive cumulative offsets (a driver
    array of #partitions ints). Equivalent to a global-window row_number
    but with no single-partition bottleneck — safe for 10^8-term
    dictionaries and 10^12-row doc maps alike. ``order_cols`` must be a
    total order (unique key) for determinism.
    """
    # the ranked frame is traversed twice (sizes collect + final select);
    # cache the input (so upstream aggs don't recompute during the
    # boundary-sampling passes), then pin the ranked frame with an EAGER
    # localCheckpoint: repartitionByRange samples its boundaries, and
    # the two traversals must observe the SAME partition assignment or
    # the per-partition offsets are applied to the wrong partitions. A
    # plain cache() is not enough at scale — a lost cached partition
    # would silently recompute through a fresh boundary sample (the
    # overlapping-id hazard); the checkpoint truncates lineage so a lost
    # block fails LOUDLY instead, and the input cache can be released
    # immediately because nothing can recompute through it.
    df = df.cache()
    ordered = df.repartitionByRange(num_partitions, *order_cols)
    with_pid = ordered.withColumn("_pid", F.spark_partition_id())
    # local 1-based rank within each range partition
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    local = with_pid.withColumn("_rk", F.row_number().over(w)).localCheckpoint()
    sizes = (
        local.groupBy("_pid").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("_pid")
        .collect()
    )
    df.unpersist()
    if not sizes:
        return local.withColumn(id_name, (F.col("_rk") - 1).cast("long")).drop(
            "_pid", "_rk"
        )
    offsets = {}
    acc = 0
    for row in sizes:
        offsets[row["_pid"]] = acc
        acc += row["n"]
    offs = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    return (
        local.withColumn(id_name, (F.col("_rk") - 1 + offs[F.col("_pid")]).cast("long"))
        .drop("_pid", "_rk")
    )


def assign_term_ids(stats: DataFrame, num_partitions: int = 32) -> DataFrame:
    """Deterministic dense term ids: row_number over (df desc, term asc)
    (FIXTURES.md §4)."""
    return assign_dense_ids(
        stats,
        [F.col("df").desc(), F.col("term").asc()],
        "term_id",
        num_partitions=num_partitions,
    )


def two_phase_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cum_before",
    num_partitions: int = 32,
    extra_sums: list[str] | None = None,
    totals_out: dict | None = None,
) -> DataFrame:
    """Exclusive prefix sum of ``value_col`` under ``order_col`` order,
    fully distributed: range-partition on the key, window-cumsum within
    each partition, add #partitions driver offsets. Returns the input
    columns plus ``out_col`` (sum of all values strictly before this
    row) and ``_total`` (grand total, same on every row).

    The partitioned+ranked frame is pinned with an eager localCheckpoint
    before the offsets collect: the offsets job and the returned plan
    must observe the SAME range boundaries, and repartitionByRange
    samples its boundaries — two separate evaluations could disagree,
    silently producing overlapping id ranges (observed as duplicate doc
    ids at 3.4M docs before this pin)."""
    # cache the input: repartitionByRange SAMPLES the frame for range
    # boundaries before the checkpoint pass materializes it — without
    # the cache every upstream aggregation runs twice (assign_dense_ids
    # already does this; a measured ~1.5s of the sf0.1 split phase)
    df = df.cache()
    part = df.repartitionByRange(num_partitions, F.col(order_col).asc())
    with_pid = part.withColumn("_pid", F.spark_partition_id())
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # eager localCheckpoint, not cache(): same overlapping-id hazard as
    # assign_dense_ids — a lost cached partition would recompute through
    # a fresh boundary sample; the checkpoint truncates lineage so the
    # boundaries observed by the offsets job are the only ones possible.
    local = with_pid.withColumn("_cum", F.sum(value_col).over(w)).localCheckpoint()
    df.unpersist(blocking=False)
    # piggyback requested column totals on the SAME offsets job
    # (extra_sums/totals_out) — a separate totals aggregation would be
    # one more driver barrier on the finalize critical path
    aggs = [F.sum(value_col).alias("s")] + [
        F.sum(c).alias(f"_x_{c}") for c in (extra_sums or [])
    ]
    sums = local.groupBy("_pid").agg(*aggs).orderBy("_pid").collect()
    if totals_out is not None:
        for c in extra_sums or []:
            totals_out[c] = sum(int(r[f"_x_{c}"] or 0) for r in sums)
    offsets = {}
    acc = 0
    for row in sums:
        offsets[row["_pid"]] = acc
        acc += row["s"]
    if not offsets:
        return local.withColumn(out_col, F.lit(0).cast("long")).withColumn(
            "_total", F.lit(0).cast("long")
        ).drop("_pid", "_cum")
    offs = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    return (
        local.withColumn(
            out_col,
            (F.col("_cum") - F.col(value_col) + offs[F.col("_pid")]).cast("long"),
        )
        .withColumn("_total", F.lit(acc).cast("long"))
        .drop("_pid", "_cum")
    )


def conv_doc_base(doc_lens: DataFrame, num_partitions: int = 32) -> DataFrame:
    """(conv_id, base): per-conversation doc-id base offsets.

    base(c) = Σ over conversations c' < c (string order) of
    (max(turn_idx)+1), so ``doc_id = base[conv_id] + turn_idx`` is
    globally ascending in (conv_id, turn_idx) — the stable-ordering
    contract — WITHOUT ranking every turn. Ids are gapped where turns
    were dropped (empty/pruned): gaps are free for delta-gap blocks and
    doc-range buckets; only the ORDER is load-bearing.

    Why this shape at scale: the base table is CONVERSATION-level (orders
    of magnitude smaller than the turn count), so attaching doc ids to a
    10^12-row posting stream becomes a broadcast hash join + one integer
    add — replacing a full sort-merge shuffle of the postings on a fat
    (conv_id string, turn_idx) key. The cumsum itself is the two-phase
    range-partitioned pattern (local window cumsum + #partitions driver
    offsets). At ~10^9+ conversations the base table outgrows broadcast:
    persist it bucketed by conv_id (or rely on the Iceberg identity
    partition) and let the join be storage-co-located instead.

    Requires turn_idx >= 0 (schema contract).
    """
    ext = doc_lens.groupBy("conv_id").agg(
        (F.max("turn_idx") + 1).cast("long").alias("_n")
    )
    return two_phase_cumsum(
        ext, "conv_id", "_n", "base", num_partitions=num_partitions
    ).select("conv_id", "base")


def conv_doc_base_with_stats_ranged(
    doc_lens: DataFrame,
) -> tuple:
    """conv_doc_base PLUS the corpus scalar constants (n_docs,
    avg_doc_len), for doc_lens that carry the build's ``partition_id``
    column (the conv_partition_map contract: each partition owns a
    CONTIGUOUS conv_id range, ranges ascending in partition_id). Per-conv
    doc count and length sum ride the same conversation-level groupBy
    that feeds the base cumsum, so the corpus constants need no second
    pass over doc_lens.

    The data-defined ranges replace repartitionByRange entirely, which
    removes BOTH non-scaling terms of the generic cumsum: the boundary
    -sampling pass and the eager localCheckpoint. No checkpoint is
    needed because partition_id is a DATA column — any recomputation
    (lost cache block, task retry) reproduces the identical grouping,
    so the overlapping-id hazard of sampled boundaries cannot occur.

    Job shape: one collect (materializes the conv-level aggregate and
    yields per-partition totals = cumsum offsets + corpus stats) and
    whatever single job the caller runs to consume the returned frame
    (the base/ write). The within-partition cumsum is a window over
    partition_id — one group per build partition, conv-level rows, so
    at 10^12 turns with 10^5 build partitions each group holds ~10^4
    conversations: no skew, no single-partition window.

    Returns (base DataFrame(conv_id, base), n_docs, avg_doc_len,
    release) — ``release()`` unpersists the backing conv-level cache
    once the caller has consumed ``base`` (e.g. after the base/ write);
    values are identical to conv_doc_base + corpus_stats (doc_len sums
    are integer-exact well below 2^53, so Σlen/Σcount equals avg()
    however the partials associate).
    """
    ext = doc_lens.groupBy("partition_id", "conv_id").agg(
        (F.max("turn_idx") + 1).cast("long").alias("_n"),
        F.count(F.lit(1)).alias("_cnt"),
        F.sum("doc_len").cast("long").alias("_sum"),
    ).cache()
    sums = (
        ext.groupBy("partition_id")
        .agg(
            F.sum("_n").alias("s"),
            F.sum("_cnt").alias("c"),
            F.sum("_sum").alias("l"),
        )
        .collect()
    )
    sums.sort(key=lambda r: r["partition_id"])
    offsets: dict[int, int] = {}
    acc = 0
    n_docs = 0
    len_sum = 0
    for r in sums:
        offsets[r["partition_id"]] = acc
        acc += int(r["s"])
        n_docs += int(r["c"])
        len_sum += int(r["l"])
    avg = (float(len_sum) / n_docs) if n_docs else 0.0
    w = (
        Window.partitionBy("partition_id")
        .orderBy("conv_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if offsets:
        offs = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        )[F.col("partition_id")]
    else:
        offs = F.lit(0)
    base = (
        ext.withColumn("_cum", F.sum("_n").over(w))
        .withColumn(
            "base", (F.col("_cum") - F.col("_n") + offs).cast("long")
        )
        .select("conv_id", "base")
    )
    return base, n_docs, avg, ext.unpersist


def assign_doc_ids(
    doc_lens: DataFrame,
    num_partitions: int = 32,
    base: DataFrame | None = None,
) -> DataFrame:
    """Doc ids ascending in (conv_id, turn_idx): ascending doc_id IS
    the stable turn ordering (BASELINE.json:15), so doc-ordered posting
    traversal and the (conv_id, turn_idx)-asc tie-break coincide.

    doc_id = conv base offset + turn_idx (see conv_doc_base): attached
    by a broadcast join on conv_id — no turn-level shuffle."""
    b = base if base is not None else conv_doc_base(doc_lens, num_partitions)
    return (
        doc_lens.join(F.broadcast(b), "conv_id")
        .withColumn("doc_id", (F.col("base") + F.col("turn_idx")).cast("long"))
        .drop("base")
    )


def term_stats_from_partials(partials: DataFrame) -> DataFrame:
    """(term, df, ttf) from build-time per-partition partial aggregates
    (manifest.load_term_partials). Exact: df/ttf are sums of disjoint
    per-partition counts — the final-agg half of the partial+final
    pattern, with the partial half already paid during the build wave
    while the postings were page-hot."""
    return partials.groupBy("term").agg(
        F.sum("df").cast("long").alias("df"),
        F.sum("ttf").cast("long").alias("ttf"),
    )


def build_dictionary(
    raw_postings: DataFrame,
    min_df: int = 1,
    max_df: int | None = None,
    num_partitions: int = 32,
    stats: DataFrame | None = None,
    small_rank: bool = False,
) -> DataFrame:
    """terms(term, term_id, df, ttf), pruned then deterministically
    ranked. ``stats``: precomputed (term, df, ttf) — e.g.
    term_stats_from_partials — replacing the full-postings aggregation
    (values must be identical; the id ranking depends on exact df).

    ``small_rank``: rank with a single-partition window instead of the
    two-phase range-partitioned machinery. Identical ids, ONE Spark job
    instead of four (sampling, checkpoint, sizes collect, write) —
    each job pays a fixed scheduling latency, and for a vocabulary
    that fits one task (callers gate on a driver-side row-count bound)
    the latency dominates the sort. Large vocabularies (10^8 terms)
    must keep the distributed path."""
    if stats is None:
        stats = term_stats(raw_postings)
    pruned = stats.filter(F.col("df") >= F.lit(min_df))
    if max_df is not None:
        pruned = pruned.filter(F.col("df") <= F.lit(max_df))
    if small_rank:
        w = Window.orderBy(F.col("df").desc(), F.col("term").asc())
        return (
            pruned.repartition(1)
            .withColumn("term_id", (F.row_number().over(w) - 1).cast("long"))
            .select("term", "term_id", "df", "ttf")
        )
    return assign_term_ids(pruned, num_partitions=num_partitions).select(
        "term", "term_id", "df", "ttf"
    )


def corpus_stats(doc_lens: DataFrame) -> tuple[int, float]:
    """(n_docs, avg_doc_len) — the scalar manifest constants pinned per
    index snapshot (/root/reference/src/Analyzer/Analyzer.java:191,
    238-242; SURVEY §7.3)."""
    row = doc_lens.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("navg")
    ).collect()[0]
    return int(row["n"]), float(row["navg"] or 0.0)
