"""Count-Min sketch (SURVEY.md §2.11 X4 companion family): mergeable
approximate frequency counts with a one-sided error guarantee.

The CMS completes the repo's sketch inventory (MinHash/SimHash for
similarity, winnowing for containment, HLL via approx_count_distinct for
cardinality, GK for quantiles) with the FREQUENCY sketch: estimate(x) >=
true(x) always, and estimate(x) <= true(x) + eps*N with probability
1 - delta for width = ceil(e/eps), depth = ceil(ln(1/delta)).

Spark-first shape: the sketch IS a (depth x width) count table built by
one aggregation — each item row explodes to ``depth`` (row, bucket) cells
(map-side combine collapses them immediately), so sketch construction is a
single partial-aggregated exchange of at most depth*width rows regardless
of corpus size, and two sketches merge by unioning cell tables and summing
(the property that makes CMS the standard distributed-telemetry counter).
Point estimates join the query keys against the cell table and take
``min`` over depths — never a scan of the raw data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(item: Column, depth_idx: Column | int, width: int) -> Column:
    """Row ``depth_idx``'s bucket for ``item``: xxhash64(item, row), one
    independent seeded rehash per row; pmod keeps the bucket non-negative."""
    return F.pmod(F.xxhash64(item, F.lit(depth_idx) if isinstance(depth_idx, int) else depth_idx), F.lit(width))


def cms_build(
    items: DataFrame,
    item_col: str,
    *,
    width: int = 1024,
    depth: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the sketch cell table (depth_idx, bucket, cnt) from item rows
    (one row per occurrence, or weighted via ``weight_col``).

    Plan: explode to ``depth`` cells per row (zero-exchange Generate in
    the scan stage), then ONE aggregation whose partial side collapses
    every partition to <= depth*width cells — the shuffle is bounded by
    the sketch size, not the data size.
    """
    w = F.col(weight_col) if weight_col else F.lit(1)
    cells = items.select(
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("depth_idx"),
        F.col(item_col).alias("__item"),
        w.alias("__w"),
    ).select(
        "depth_idx",
        _bucket(F.col("__item"), F.col("depth_idx"), width).alias("bucket"),
        "__w",
    )
    return cells.groupBy("depth_idx", "bucket").agg(F.sum("__w").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    item_col: str,
    *,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Point-frequency estimates for the query items: min over the depth
    rows of each item's bucket count. The (tiny: <= depth*width rows)
    sketch broadcasts; the query side explodes to its depth probes and
    never touches the raw corpus. Output: (item_col, est)."""
    probes = queries.select(
        F.col(item_col),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("depth_idx"),
    ).select(
        item_col,
        "depth_idx",
        _bucket(F.col(item_col), F.col("depth_idx"), width).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["depth_idx", "bucket"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def cms_inner_product(
    sketch_a: DataFrame, sketch_b: DataFrame, *, depth: int = 4
) -> DataFrame:
    """AMS/CMS join-size estimate: the inner product of two sketches'
    cell rows, minimized over depths — estimates ``|A JOIN B|`` =
    sum_k cnt_A(k)*cnt_B(k) WITHOUT executing the join (the classic
    cardinality-estimation input a cost-based planner wants at 100 TB).
    One-sided like the point estimate: every depth's dot product
    over-counts by collision mass only, so min(est) >= true always, and
    est <= true + (e/width)*N_A*N_B with per-depth failure prob 1/e.

    Both inputs are (depth_idx, bucket, cnt) cell tables (<= depth*width
    rows each); the join/aggregation here is sketch-sized, never
    data-sized. A depth spine anchors the per-depth dots: a depth whose
    sketches share NO buckets has a true dot of ZERO, and dropping that
    row (the bare inner-join formulation) would silently inflate the
    min — including returning NULL when the sketches are disjoint or one
    side is empty, where the correct estimate is 0. Products/sums run in
    DECIMAL(38,0): per-depth dots approach N_a*N_b/width, far past
    BIGINT at the scale this function advertises. Returns a one-row
    frame: (est DECIMAL(38,0))."""
    a = sketch_a.filter(F.col("depth_idx") < depth).select(
        "depth_idx", "bucket", F.col("cnt").alias("cnt_a")
    )
    b = sketch_b.filter(F.col("depth_idx") < depth).select(
        "depth_idx", "bucket", F.col("cnt").alias("cnt_b")
    )
    # ONE full-outer join derives the depth spine AND the per-depth dots
    # in a single pass over each input (no second evaluation of the
    # sketch lineage): every cell row of either sketch survives the
    # join, so a depth present in either input keeps a group even when
    # the two sketches share no buckets there — its products are all
    # NULL-padded to 0 and its true dot of 0 participates in the min.
    # Phantom depths beyond the sketches' real depth never appear (the
    # spine is observed, not trusted from the ``depth`` parameter, which
    # acts only as an upper clamp), so a caller-supplied depth larger
    # than reality cannot zero-collapse the estimate. Both inputs empty
    # => zero groups => min over nothing is NULL, coalesced to the
    # correct estimate of 0.
    per_depth = (
        a.join(b, ["depth_idx", "bucket"], "full_outer")
        .groupBy("depth_idx")
        .agg(
            F.sum(
                F.coalesce(F.col("cnt_a"), F.lit(0)).cast("decimal(38,0)")
                * F.coalesce(F.col("cnt_b"), F.lit(0))
            ).alias("dot")
        )
    )
    return per_depth.agg(
        F.coalesce(F.min("dot"), F.lit(0))
        .cast("decimal(38,0)")
        .alias("est")
    )


# ---------------------------------------------------------------------------
# Bloom filter (md5-positioned, engine-portable) — the MEMBERSHIP sketch,
# completing the family (frequency=CMS, cardinality=HLL, quantiles=GK,
# similarity=MinHash/SimHash). This is Spark's runtime bloom-filter
# semi-join reduction made explicit and auditable: build a compact bitmap
# over the small side's keys, broadcast it, and pre-filter the fact scan
# map-side before any shuffle — the classic 100 TB join-reduction move.
# Positions come from md5 (identical hex in any engine), words are 32-bit
# (bit 63 overflows DuckDB's checked left shift), so the filter CONTENTS
# — not just the decisions — are cross-engine exact.
# ---------------------------------------------------------------------------

BLOOM_WORD_BITS = 32


def _bloom_hex_cols(key: Column, k: int) -> list[Column]:
    return [
        F.substring(
            F.md5(F.concat(key.cast("string"), F.lit(f":bloom:{i}"))), 1, 8
        ).alias(f"__bh{i}")
        for i in range(k)
    ]


def bloom_build(
    keys: DataFrame,
    key_col: str,
    *,
    m_bits: int = 1024,
    k: int = 3,
) -> DataFrame:
    """Build the filter as ONE row: (words array<long> of 32-bit words,
    n_keys). Construction is an explode to k (word, mask) cells with
    map-side combine, one bit_or aggregation bounded by m_bits/32 rows,
    then a dense-array assembly — sketch size is independent of |keys|.
    """
    from ibis_flink_example_spark.operators.sampling import hex_prefix_int_sql

    if m_bits % BLOOM_WORD_BITS:
        raise ValueError(f"m_bits must be a multiple of {BLOOM_WORD_BITS}")
    n_words = m_bits // BLOOM_WORD_BITS
    hexed = keys.select(
        F.col(key_col).alias("__k"), *_bloom_hex_cols(F.col(key_col), k)
    ).distinct()
    cells = None
    for i in range(k):
        pos = F.expr(f"pmod({hex_prefix_int_sql(f'__bh{i}', 8)}, {m_bits})")
        # F.shiftleft needs a LITERAL bit count; the SQL function form
        # accepts a column
        c = hexed.select(
            (pos / BLOOM_WORD_BITS).cast("long").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST(pmod({hex_prefix_int_sql(f'__bh{i}', 8)}, {m_bits}) "
                f"% {BLOOM_WORD_BITS} AS INT))"
            ).alias("mask"),
        )
        cells = c if cells is None else cells.unionAll(c)
    words = cells.groupBy("word").agg(F.bit_or("mask").alias("w"))
    nk = hexed.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    dense = words.agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("word", "w")))
        ).alias("__m")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("__m"), i.cast("long")), F.lit(0).cast("long")
            ),
        ).alias("words")
    )
    return dense.crossJoin(F.broadcast(nk))


def bloom_probe(
    probes: DataFrame,
    key_col: str,
    bloom: DataFrame,
    *,
    m_bits: int = 1024,
    k: int = 3,
) -> DataFrame:
    """Tag each probe row with ``bloom_maybe`` (true = possibly a member;
    false = DEFINITELY not — the one-sided guarantee). The filter row is
    a broadcast crossJoin (the literal runtime-filter shape: every
    executor holds the bitmap, the membership test is pure map-side
    column math on the scan — zero shuffle)."""
    from ibis_flink_example_spark.operators.sampling import hex_prefix_int_sql

    hexed = probes.select(
        "*", *_bloom_hex_cols(F.col(key_col), k)
    ).crossJoin(F.broadcast(bloom))
    cond = None
    for i in range(k):
        pos = F.expr(f"pmod({hex_prefix_int_sql(f'__bh{i}', 8)}, {m_bits})")
        word = F.element_at(
            F.col("words"), (pos / BLOOM_WORD_BITS).cast("int") + 1
        )
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), "
            f"CAST(pmod({hex_prefix_int_sql(f'__bh{i}', 8)}, {m_bits}) "
            f"% {BLOOM_WORD_BITS} AS INT))"
        )
        hit = word.bitwiseAND(mask) == mask
        cond = hit if cond is None else (cond & hit)
    return hexed.withColumn("bloom_maybe", cond).drop(
        "words", *[f"__bh{i}" for i in range(k)]
    )
