"""Deduplication operators (SURVEY.md §2.11 X1/X2 + north-star): exact,
MinHash+LSH, SimHash, n-gram Jaccard — the large-scale training-data
pipeline's core cleaning stage.

Scale design notes:
- Exact dedup: hash-groupBy on a content digest — one shuffle of (digest,
  id), never of full text. Deterministic representative (min id), unlike
  ``dropDuplicates`` whose survivor is partition-order-dependent.
- MinHash/LSH: signatures come from explode(shingles) → xxhash64 → 64-way
  min-aggregation — every op whole-stage-codegen, no Python in the 100 TB
  scan, and map-side partial aggregation collapses each doc to one 512-byte
  state before any shuffle. Candidate generation is an equi-join on
  (band_idx, band_hash) — pair count is controlled by band geometry, not
  O(n²).
- Connected components: iterative min-label propagation over the candidate
  edge list, O(diameter) joins; dedup clusters are tiny (near-dup groups),
  so a handful of iterations reaches fixpoint.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOG = logging.getLogger(__name__)

# Above this many hot keys the skew-guard anti-join falls back from
# broadcast to shuffle (a few hundred MB of 8-byte keys is where
# broadcasts start endangering executors).
_MAX_BROADCAST_HOT_KEYS = 10_000_000


def drop_hot_keys(
    df: DataFrame,
    key_cols: list[str],
    *,
    max_rows_per_key: int | None,
    what: str = "bucket",
    log_dropped: bool = False,
    lazy: bool = False,
    lazy_broadcast_hint: bool = False,
    expected_rows: int | None = None,
) -> DataFrame:
    """Drop all rows whose join-key group exceeds ``max_rows_per_key`` —
    the skew guard every bucketed pair-generation self-join needs at scale.

    A degenerate key (an LSH band hash shared by every empty/boilerplate
    doc; a stopword shingle present in millions of docs) turns one bucket
    into O(n²) candidate pairs — the classic LSH skew-killer at 100 TB.
    Capping is semantically standard for near-dup candidate generation
    (ultra-common features carry no discriminative signal; dropping them
    loses only pairs whose OTHER shared features would still collide).

    Plan shape: one partial-aggregated count keyed exactly like the
    downstream self-join, filtered to the (tiny) hot-key set, then a
    BROADCAST anti-join — the probe side never re-shuffles. The broadcast
    is itself GUARDED: the hot set is counted (cheap — it is the filtered
    output of an aggregation), an empty set skips the anti-join entirely,
    and a set larger than ``max_broadcast_keys`` falls back to a shuffle
    anti-join instead of an unbounded broadcast (at ~10^12 banded rows a
    degenerate corpus could exceed the cap on millions of keys at once).
    ``None`` disables the cap. ``log_dropped=True`` logs how many keys
    were dropped. ``lazy=True`` returns a pure plan (no driver actions:
    AQE provides the guarded broadcast at runtime) — the form for
    per-micro-batch loop callers, where the eager arm's two actions per
    call are measurable overhead. Logging REQUIRES counting the hot set,
    so ``log_dropped=True`` takes the eager arm even under ``lazy=True``
    (a caller that forwards both flags still gets its warning).

    Checkpoint lifetime (caller-release contract, same as chunking/text):
    when the hot set is non-empty its eager ``localCheckpoint`` blocks are
    referenced by the RETURNED lazy plan and live until the caller drops
    the plan or calls ``_release_local_checkpoint`` on it after
    materializing — callers looping over many banded self-joins in one
    session should release per iteration to keep block-manager memory flat.
    """
    if max_rows_per_key is None:
        return df
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__kn"))
    if lazy and log_dropped:
        lazy = False  # the warning needs the eager arm's hot-set count
    if lazy:
        # Zero-action form for per-micro-batch callers: no eager
        # checkpoint, no driver-side hot-set count — the hot set stays a
        # lazy agg subtree and AQE supplies the same guarded-broadcast
        # semantics at runtime (broadcast only when
        # the materialized build side is small, shuffle anti-join
        # otherwise). The eager arm below pays two driver actions per
        # call for an empty-set fast path and explicit logging — right
        # for one-shot pair generators, pure overhead when a streaming
        # loop calls this every batch.
        hot_lazy = counts.filter(F.col("__kn") > max_rows_per_key).select(
            *key_cols
        )
        if lazy_broadcast_hint:
            # For callers that run with AQE disabled (the micro-batch
            # ingests, see streaming/ingest.py _ingest_conf): static
            # planning estimates the hot set from its corpus-sized child
            # and would pick a shuffle anti-join that re-exchanges the
            # probe side every batch. The hint pins the broadcast the
            # eager arm / AQE would have chosen. Valid while the hot-key
            # CARDINALITY stays broadcastable — it is bounded by
            # n_rows / max_rows_per_key keys (e.g. ~1e9 banded rows at a
            # 50k cap -> <= 2e4 keys); deployments beyond ~1e8 expected
            # hot keys should re-enable AQE instead of hinting. The bound
            # is enforced at runtime when the caller can supply it:
            # ``expected_rows`` (e.g. the ingest loops'
            # cumulative Observation row counts — zero extra actions)
            # caps the hot-set cardinality at
            # expected_rows / max_rows_per_key; past the broadcast
            # ceiling the hint is DROPPED and the static planner's
            # shuffle anti-join degrades gracefully instead of OOMing
            # the driver on a degenerate corpus.
            if (
                expected_rows is None
                or expected_rows / max_rows_per_key
                <= _MAX_BROADCAST_HOT_KEYS
            ):
                hot_lazy = F.broadcast(hot_lazy)
        return df.join(hot_lazy, key_cols, "left_anti")
    hot = (
        counts.filter(F.col("__kn") > max_rows_per_key)
        .select(*key_cols)
        .localCheckpoint(eager=True)  # count + anti-join share one run
    )
    n_hot = hot.count()
    if n_hot == 0:
        _release_local_checkpoint(hot)
        return df
    if log_dropped:
        _LOG.warning(
            "drop_hot_keys: dropping %d %s key(s) with > %d rows each",
            n_hot,
            what,
            max_rows_per_key,
        )
    from ibis_flink_example_spark.operators.checkpoints import (
        attach_eager_checkpoints,
    )

    handle = hot
    if n_hot <= _MAX_BROADCAST_HOT_KEYS:
        hot = F.broadcast(hot)
    # The hot-set checkpoint handle rides the returned plan so loop
    # callers can release_eager_checkpoints() per iteration instead of
    # leaving the blocks to GC-driven cleanup.
    return attach_eager_checkpoints(
        df.join(hot, key_cols, "left_anti"), df, handles=(handle,)
    )


# Java's \s spelled out — the canonical whitespace class for every
# engine+oracle pair (Java \s includes U+000B, RE2/DuckDB \s does not;
# the explicit class is IDENTICAL in both). Re-exported by operators/text.
WS_CLASS = r"[ \t\n\x0B\f\r]"
WS_SPLIT = WS_CLASS + "+"


def content_digest(col: Column | str, normalize: bool = True) -> Column:
    """Stable 256-bit content key. Normalization: lowercase + collapse
    whitespace (the cheap canonicalization every dedup paper starts with)."""
    c = F.col(col) if isinstance(col, str) else col
    if normalize:
        c = F.lower(F.regexp_replace(F.trim(c), WS_SPLIT, " "))
    return F.sha2(c.cast("binary"), 256)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """X1: keep exactly one row (min id) per normalized content digest.

    Implementation: digest → groupBy(digest).min(id) → semi-join back.
    Two narrow shuffles on the digest/id; full rows move only for survivors.
    """
    keyed = df.withColumn("__digest", content_digest(text_col))
    winners = keyed.groupBy("__digest").agg(F.min(id_col).alias(id_col))
    return (
        keyed.join(winners, on=["__digest", id_col], how="left_semi").drop("__digest")
    )


def words(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), WS_SPLIT)


def word_shingles(words_col: Column, n: int) -> Column:
    """Overlapping word n-grams as strings; degenerates to the whole text
    for docs shorter than n words. Pure JVM expressions (transform/slice).

    ``words_col`` is BOUND TO A LAMBDA VARIABLE via a length-1 array
    transform before anything references it: higher-order functions are
    interpreted (no whole-stage codegen), and an interpreted lambda body
    re-evaluates every non-lambda-var subtree PER ELEMENT — with the
    usual ``words(text)`` argument inlined, the regexp split re-ran once
    per shingle instead of once per row (measured 5x on the shingle
    scan). A lambda-var reference is a constant-time lookup, so the
    split now runs exactly once per row regardless of caller shape."""

    def body(ws: Column) -> Column:
        return F.when(
            F.size(ws) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - n),
                lambda i: F.concat_ws(" ", F.slice(ws, i + F.lit(1), n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", ws)))

    return F.element_at(F.transform(F.array(words_col), body), 1)


# See shingle_hash_rows: memoized higher-order Column trees keyed by
# (gateway id, text_col, n, hash_col). The gateway id component makes
# entries from a torn-down JVM unreachable (py4j-backed Column trees go
# stale across a SparkContext restart within one Python process), and
# the cache is bounded so distinct key tuples cannot grow it forever.
_SHINGLE_COLS: dict[tuple, tuple] = {}
_SHINGLE_COLS_MAX = 32


def _gateway_id() -> int:
    """Identity of the live py4j gateway (0 when no JVM is up yet).
    Column trees minted under one gateway are invalid under another."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return id(sc._gateway) if sc is not None else 0


def shingle_hash_rows(
    df: DataFrame, *, id_col: str, text_col: str, n: int, hash_col: str = "__h"
) -> DataFrame:
    """(id, shingle_hash) rows WITHOUT materializing shingle strings: hash
    each word once (``__wh``, its own projection so downstream lambdas
    reference the attribute, not the transform subtree), then shingle i is
    the fixed-width ``xxhash64`` of its n word-hash longs.

    Building "w1 w2 w3" strings first (concat_ws per shingle) re-allocates
    ~|text| bytes per row and was the dominant cost of the MinHash
    signature scan (~3 s of 3.4 s at sf0.1); the long-tuple path cuts the
    scan >2x. Shingle identity is the word-hash n-tuple, equivalent to
    string identity up to 64-bit collisions (~1e-11 at 1M shingles).
    Degenerate short docs (<n words) hash the whole word-hash array."""
    from ibis_flink_example_spark.catalog import fan_out

    # The two higher-order columns are MEMOIZED per (text_col, n,
    # hash_col): every fresh construction mints new lambda-variable ids,
    # which defeats the plan/codegen caches and costs ~1 s of driver
    # recompilation per call — painful for per-micro-batch callers
    # (streaming_neardup_ingest builds this once per batch). Column
    # objects are immutable unbound expression trees, safe to reuse
    # across DataFrames and sessions.
    key = (
        (_gateway_id(), text_col, n, hash_col)
        if isinstance(text_col, str)
        else None
    )
    cached = _SHINGLE_COLS.get(key) if key is not None else None
    if cached is None:
        wh_col = F.transform(words(text_col), lambda w: F.xxhash64(w)).alias(
            "__wh"
        )
        shingles = F.when(
            F.size(F.col("__wh")) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(F.col("__wh")) - n),
                lambda i: F.xxhash64(
                    *[
                        F.element_at(F.col("__wh"), i + F.lit(k + 1))
                        for k in range(n)
                    ]
                ),
            ),
        ).otherwise(F.array(F.xxhash64(F.col("__wh"))))
        cached = (wh_col, F.explode(shingles).alias(hash_col))
        if key is not None:
            if len(_SHINGLE_COLS) >= _SHINGLE_COLS_MAX:
                # Evict stale-gateway entries first; fall back to a full
                # clear (a cold rebuild costs ~1 s, unbounded growth is
                # worse).
                live = key[0]
                for k in [k for k in _SHINGLE_COLS if k[0] != live]:
                    del _SHINGLE_COLS[k]
                if len(_SHINGLE_COLS) >= _SHINGLE_COLS_MAX:
                    _SHINGLE_COLS.clear()
            _SHINGLE_COLS[key] = cached
    wh_col, explode_col = cached
    wh = fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), wh_col
    )
    return wh.select(F.col(id_col), explode_col)


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int = 64,
    sig_col: str = "__sig",
) -> DataFrame:
    """(id, signature) via one-permutation hashing (OPH): each shingle hash
    lands in bucket ``pmod(h, num_hashes)``; signature position j is the min
    hash within bucket j, with empty buckets densified by circular borrowing
    (Shrivastava-style rotation, implemented as log2(k) doubling fills).

    Why OPH instead of k independent rehashes: the k-permutation scan
    evaluates ``xxhash64(h, j)`` k times per shingle — with k=64 that is 64
    full 16-byte hashes per shingle and was ~60% of the dedup pipeline's
    cost at sf0.1. OPH computes ONE bucket id per shingle; the 64
    per-bucket conditional mins are integer compares inside whole-stage
    codegen (~10x less per-shingle work, identical collision probability
    P[sig_a[j] == sig_b[j]] = Jaccard after densification). Map-side
    partial aggregation still collapses each document to one 64-slot state
    before the (id-keyed) shuffle, so exchanged volume stays |docs| x 512
    bytes regardless of text size. Duplicate shingles need no dedup — min()
    absorbs them.

    NOT bit-compatible with ``md5_minhash_band_rows`` (the classical
    k-rehash estimator, kept for oracle replay); both satisfy the same
    estimator contract."""
    rows = shingle_hash_rows(df, id_col=id_col, text_col=text_col, n=shingle_n)
    # bucket id projected ONCE per row; the per-bucket mins are then plain
    # integer compare-and-min updates in the codegen'd hash aggregate, with
    # map-side partial aggregation collapsing each doc to one 64-long state
    # before the id-keyed shuffle — exchanged volume stays |docs| x ~0.5 KB
    # regardless of text size. Duplicate shingles need no dedup — min()
    # absorbs them.
    bucketed = rows.select(
        F.col(id_col),
        F.col("__h"),
        F.pmod(F.col("__h"), F.lit(num_hashes)).cast("int").alias("__b"),
    )
    aggs = [
        F.min(F.when(F.col("__b") == j, F.col("__h"))).alias(f"__m{j}")
        for j in range(num_hashes)
    ]
    # Densification by ROTATION (Shrivastava-style): an empty bucket j
    # borrows the min of the nearest non-empty bucket to its right
    # (circular). Both docs then derive the fill from SHARED content — if
    # bucket j is empty in both and their nearest-right non-empty buckets
    # agree, the fills agree, preserving P[sig_a[j]==sig_b[j]] ≈ Jaccard.
    # (The previous xxhash64(global_min, j) re-randomizing fill made fills
    # collide only when bucket j was empty in BOTH docs AND global mins
    # matched; a bucket empty in exactly one doc almost never agreed, which
    # biased estimates DOWN on sparse docs — caught by
    # test_properties.py::test_oph_scan_signatures_track_true_jaccard.)
    # Implemented as log2(k) prefix-doubling coalesce passes over the
    # 64-slot array: after pass i, slot j holds the first non-null value in
    # the circular window [j, j+2^(i+1)) — per-DOC work on 64 longs, never
    # per-shingle. Each pass is its own projection so CollapseProject keeps
    # single evaluation of the (non-cheap) zip_with subtree.
    out = (
        bucketed.groupBy(id_col)
        .agg(*aggs)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"__m{j}") for j in range(num_hashes)]).alias(sig_col),
        )
    )
    step = 1
    while step < num_hashes:
        rotated = F.concat(
            F.slice(F.col(sig_col), step + 1, num_hashes - step),
            F.slice(F.col(sig_col), 1, step),
        )
        out = out.select(
            F.col(id_col),
            F.zip_with(
                F.col(sig_col), rotated, lambda a, b: F.coalesce(a, b)
            ).alias(sig_col),
        )
        step *= 2
    return out


def md5_minhash_band_rows(
    sh_rows: DataFrame,
    *,
    id_col: str,
    shingle_col: str = "shingle",
    num_hashes: int = 16,
    rows_per_band: int = 2,
    salt: str = "mh",
    carry_count: bool = False,
    assume_distinct: bool = False,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, band_idx, band_key) LSH band rows from an ENGINE-PORTABLE
    MinHash signature: permutation j reads the 8-hex slice ``j % 4`` of
    ``md5(shingle || ':salt:' || j DIV 4)`` as a 32-bit integer (the
    hex-slice idiom any SQL engine reproduces) and the
    signature position is the per-document min; band i's key is the
    ':'-joined ``rows_per_band`` consecutive positions. This is the
    classical k-rehash estimator with k deliberately SMALL (default 16 =
    8 bands x 2 rows, collision curve s² per band): the portability arm
    used where an external oracle must replay the exact signature —
    the xxhash64 one-permutation path (``minhash_signatures``) computes
    ONE hash per shingle instead of k and is the cheap production
    default when bit-replay is not required.

    Input is DISTINCT (id, shingle-string) rows; min() absorbs any
    residual duplicates. One groupBy(id) with k conditional mins
    (map-side partial aggregation collapses each doc before the
    id-keyed shuffle); band assembly is in-row array math. Output rows:
    num_hashes / rows_per_band per document.

    Hash economics: one md5 yields 32 hex chars = FOUR independent
    32-bit draws, so permutation j reads an 8-hex slice of
    md5(shingle || ':salt:' || j DIV 4) — ceil(k/4) md5 evaluations per
    shingle instead of k (the md5s are projected ONCE in their own
    select; the 16 min-aggregates then read plain substr/conv over the
    projected columns, so no re-evaluation however the aggregate plans).
    32-bit draw space keeps min-collision ties negligible at any
    realistic per-doc shingle count.
    """
    if num_hashes % rows_per_band != 0:
        raise ValueError("md5_minhash_band_rows: bands must divide evenly")
    n_md5 = (num_hashes + 3) // 4
    c = F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col
    hexed = sh_rows.select(
        F.col(id_col),
        *[F.col(x) for x in carry_cols],
        *[
            F.md5(F.concat(c, F.lit(f":{salt}:{g}")).cast("binary")).alias(
                f"__x{g}"
            )
            for g in range(n_md5)
        ],
    )
    aggs = [
        F.min(
            F.expr(
                f"CAST(conv(substr(__x{j // 4}, {(j % 4) * 8 + 1}, 8),"
                f" 16, 10) AS BIGINT)"
            )
        ).alias(f"__m{j}")
        for j in range(num_hashes)
    ]
    if carry_count:
        # ``carry_count=True`` folds |shingles(doc)| into the SAME
        # groupBy that computes the signature and stamps it on every band
        # row — so a banded-state consumer that needs it for exact
        # Jaccard verification can read it off the band join instead of
        # maintaining a separate doc-keyed sizes table. Counted as
        # COUNT(DISTINCT __x0) — __x0 is already projected and
        # md5-injective over shingles for any realistic
        # per-doc count — so the carried value matches the documented
        # |shingles(doc)| even if a caller skips the pre-.distinct()
        # (a plain count(*) silently inflated under duplicate input
        # while leaving the min-based signature unchanged).
        # Cost: the mixed distinct/min aggregate plans an extra
        # aggregation level (~0.3 s per sf0.1 pass, measured) — callers
        # that STRUCTURALLY guarantee distinct (id, shingle) input (e.g.
        # the minhash ingest, whose sh frame is read back from the state
        # table its own dropDuplicates just wrote) may pass
        # ``assume_distinct=True`` to use the plain count, where the two
        # are provably equal.
        if assume_distinct:
            aggs.append(F.count(F.lit(1)).cast("long").alias("n_shingles"))
        else:
            aggs.append(
                F.countDistinct(F.col("__x0")).cast("long").alias("n_shingles")
            )
    # ``carry_cols``: columns constant within each id group (e.g. a
    # micro-batch arrival tag) ride the SAME aggregation via min() and are
    # projected through to every band row. The streaming ingests use this
    # instead of stamping a per-batch ``F.lit(arrival)`` column — a literal
    # that changes every micro-batch makes the generated stage code differ
    # per batch and defeats the codegen cache (measured ~0.5-1 s of
    # recompilation per batch on the md5/min-agg tree).
    for x in carry_cols:
        aggs.append(F.min(F.col(x)).alias(x))
    sigs = hexed.groupBy(id_col).agg(*aggs)
    n_bands = num_hashes // rows_per_band
    entries = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("band_idx"),
                F.concat_ws(
                    ":",
                    *[
                        F.col(f"__m{i * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                ).alias("band_key"),
            )
            for i in range(n_bands)
        ]
    )
    extra = (["n_shingles"] if carry_count else []) + list(carry_cols)
    return sigs.select(
        F.col(id_col), *extra, F.explode(entries).alias("__e")
    ).select(
        id_col,
        *extra,
        F.col("__e.band_idx").alias("band_idx"),
        F.col("__e.band_key").alias("band_key"),
    )


def minhash_similarity(sig_a: Column, sig_b: Column, num_hashes: int) -> Column:
    """Estimated Jaccard = fraction of agreeing signature positions."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return agree / F.lit(num_hashes)


def minhash_lsh_candidates(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = 50_000,
    log_dropped: bool = False,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) with their estimated Jaccard.

    Banding: signature split into ``bands`` rows of ``num_hashes/bands``;
    docs agreeing on any full band meet in a bucket. The bucket join is the
    only shuffle; at 100 TB tune (bands, rows) for the target threshold
    (P[candidate] = 1-(1-j^r)^b).

    ``max_bucket_size`` caps (band_idx, band_hash) bucket population before
    the self-join (drop_hot_keys): a degenerate band value shared by n docs
    otherwise emits n²/2 candidate rows. True near-dup clusters far above
    the cap are boilerplate by definition at that multiplicity; their
    members still meet through their other, non-degenerate bands.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # Signatures via the codegen explode+min-agg path (see
    # minhash_signatures). The signature table is materialized
    # (localCheckpoint) because it is consumed three times below (banding +
    # both sides of the verify join); without it the full
    # scan->shingle->hash->agg pipeline re-runs per consumer. Size:
    # num_hashes longs per doc (~0.5 KB) — executor-local blocks,
    # MEMORY_AND_DISK, no driver collect, so the pattern survives any SF.
    sigd = minhash_signatures(
        df,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        sig_col="__sig",
    ).localCheckpoint(eager=True)
    # Band rows are NARROW (id, band_idx, band_hash) — the 16x explode and
    # the bucket self-join never shuffle the 0.5 KB signature arrays.
    banded = sigd.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            F.slice(F.col("__sig"), b * rows_per_band + 1, rows_per_band)
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_hash")
    banded = drop_hot_keys(
        banded,
        ["band_idx", "band_hash"],
        max_rows_per_key=max_bucket_size,
        what="LSH band bucket",
        log_dropped=log_dropped,
        # lazy: batch sessions run AQE, which supplies the same guarded
        # broadcast anti-join at runtime — zero driver actions instead of
        # the eager arm's checkpoint + count per call (interleaved A/B
        # across the batch queries that cap hot keys: ~0.5 s/query)
        lazy=True,
    )
    a = banded.alias("a")
    b = banded.alias("b")
    # Unique candidate pairs FIRST (docs sharing >=1 band meet once per
    # shared band — distinct before the similarity math, so the signature
    # comparison runs once per pair, not once per colliding band).
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sig_a = sigd.select(F.col(id_col).alias("id_a"), F.col("__sig").alias("__sig_a"))
    sig_b = sigd.select(F.col(id_col).alias("id_b"), F.col("__sig").alias("__sig_b"))
    return (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a",
            "id_b",
            minhash_similarity(F.col("__sig_a"), F.col("__sig_b"), num_hashes).alias(
                "est_jaccard"
            ),
        )
    )


def _driver_union_find(edges: DataFrame, *, id_col: str) -> DataFrame:
    """Union-find over a BOUNDED collected edge list → (id_col, component)
    DataFrame with component = min member id. Deterministic irrespective of
    edge order: the union structure fixes the partition into components, and
    the label is each component's minimum, not anything order-dependent."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    rows = edges.collect()
    for r in rows:
        a, b = r["src"], r["dst"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for node in parent:
        root = find(node)
        cur = comp_min.get(root)
        if cur is None or node < cur:
            comp_min[root] = node
    data = [(node, comp_min[find(node)]) for node in parent]
    id_type = edges.schema["src"].dataType
    schema = T.StructType(
        [T.StructField(id_col, id_type), T.StructField("component", id_type)]
    )
    return edges.sparkSession.createDataFrame(data, schema=schema)


def _release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort deterministic release of an eager localCheckpoint's
    blocks, freeing them immediately instead of waiting for the async
    ContextCleaner.

    ``toRdd()`` on the checkpointed DataFrame returns a FRESH
    MapPartitionsRDD wrapping the persisted RDD (unpersisting it directly
    is a silent no-op — verified empirically), so this walks the RDD
    dependency DAG from it and unpersists every ancestor whose storage
    level is set. The walk is bounded: a checkpointed plan is LogicalRDD →
    a couple of adapter RDDs → the persisted RDD. Non-public surface,
    hence the broad except — worst case the cleaner reclaims the blocks
    later, exactly as before. Release is verified by
    tests/test_runtime_semantics.py::test_local_checkpoint_release."""
    try:
        seen: set[int] = set()
        stack = [df._jdf.queryExecution().toRdd()]
        while stack:
            jrdd = stack.pop()
            if jrdd.id() in seen or len(seen) > 64:
                continue
            seen.add(jrdd.id())
            lvl = jrdd.getStorageLevel()
            if lvl.useMemory() or lvl.useDisk():
                jrdd.unpersist(False)
            it = jrdd.dependencies().iterator()
            while it.hasNext():
                stack.append(it.next().rdd())
    except Exception:
        pass


def connected_components(
    pairs: DataFrame,
    ids: DataFrame,
    *,
    id_col: str,
    max_iterations: int = 8,
    driver_cc_max_edges: int = 100_000,
    require_convergence: bool = True,
) -> DataFrame:
    """Min-label components over an undirected edge list.

    Returns (id_col, component) where component = min id reachable —
    under the default ``require_convergence=True`` that is a guarantee:
    the distributed arm RAISES if min-label propagation has not reached
    fixpoint within ``max_iterations`` (a label moves one hop per
    iteration, so a component of diameter > max_iterations would
    otherwise come back silently split). Callers whose contract is the
    k-STEP TRANSFORM itself (the PageRank posture — e.g. the
    connected_components_distributed driver query, whose unrolled oracle
    pins iteration-for-iteration equality) pass
    ``require_convergence=False`` to accept the deterministic
    max_iterations-step labels — which also PINS the distributed arm:
    the driver union-find arm has no iteration budget and always returns
    fixpoint labels, so honoring the k-step contract means never taking
    the edge-count cutover into it.

    Two physical strategies behind one contract (the IVF index build
    precedent: bounded driver-side work where it collapses whole job
    rounds, distributed where data can be large):

    - ``|edges| < driver_cc_max_edges`` — the common near-dup shape even
      over huge corpora, because the candidate graph is the POST-LSH,
      post-threshold residue — collect the bounded edge list (< ~2 MB at
      the default cap) and run union-find on the driver: zero iterative
      jobs instead of 3 jobs x diameter iterations.
    - otherwise — distributed min-label propagation, iterations bounded by
      cluster diameter with early exit on fixpoint; state per iteration is
      localCheckpoint-truncated. This is the 100 TB path: label state never
      leaves the cluster.
    """
    # The edge list is consumed once per iteration (and derives from the
    # full LSH pipeline) — materialize it, or every iteration recomputes
    # shingling + minhash + the bucket join from scratch. localCheckpoint
    # (not persist): the downstream node-set derivation + per-iteration
    # joins otherwise each re-plan the whole LSH lineage.
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # The count is free — edges is already materialized.
    n_edges = edges.count()
    # The driver arm always returns FIXPOINT components (union-find has no
    # iteration budget), so a caller that opted into k-step-transform
    # semantics must never fall into it — the same inputs would otherwise
    # change meaning across the edge-count cutover.
    if n_edges < driver_cc_max_edges and require_convergence:
        labels_small = _driver_union_find(edges, id_col=id_col)
        singletons = ids.join(labels_small, on=id_col, how="left_anti").select(
            F.col(id_col), F.col(id_col).alias("component")
        )
        out = labels_small.unionByName(singletons)
        _release_local_checkpoint(edges)
        return out
    # Propagate labels ONLY over nodes that touch an edge — every other id
    # is trivially its own singleton component and joins back at the end.
    # Near-dup graphs are sparse (edge nodes << all ids), so this shrinks
    # every iteration's join input from |corpus| to |edge endpoints| — the
    # same asymmetry a 100 TB corpus has, where the candidate graph fits a
    # fraction of the cluster while ids span the full dataset.
    seed_labels = (
        edges.select("src").distinct().withColumn("component", F.col("src")).persist()
    )
    labels = seed_labels
    superseded: list[DataFrame] = []
    converged = False
    try:
        for _ in range(max_iterations):
            neighbor_min = (
                edges.join(
                    labels.withColumnRenamed("src", "dst2"), edges.dst == F.col("dst2")
                )
                .groupBy("src")
                .agg(F.min("component").alias("n_component"))
            )
            # localCheckpoint truncates the growing lineage each iteration
            # (label propagation is iterative — without this, iteration k
            # re-plans a k-deep join tree). The convergence flag rides along
            # in the same pass, so detecting fixpoint is a scan of the
            # materialized checkpoint — not an extra labels-vs-labels join.
            stepped = (
                labels.join(neighbor_min, on="src", how="left")
                .select(
                    "src",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("n_component"), F.col("component")),
                    ).alias("component"),
                    (F.col("n_component") < F.col("component")).alias("__changed"),
                )
                .localCheckpoint(eager=True)
            )
            changed = stepped.filter(F.col("__changed")).limit(1).count()
            if labels is not seed_labels:
                superseded.append(labels)
            labels = stepped.drop("__changed")
            if changed == 0:
                converged = True
                break
        if not converged and require_convergence:
            # Surface non-convergence LOUDLY: min-label propagation moves a
            # label one hop per iteration, so a component whose diameter
            # exceeds max_iterations would otherwise return silently-split
            # partial labels. Real near-dup clusters are shallow (the LSH
            # residue graph is dense within a cluster), so hitting this
            # means either an adversarial chain or a too-small budget —
            # both are caller decisions, not results to hand back as data.
            # Nothing is returned, so release the blocks the happy path
            # keeps alive (the final labels checkpoint and the edge list).
            if labels is not seed_labels:
                _release_local_checkpoint(labels)
            _release_local_checkpoint(edges)
            raise RuntimeError(
                "connected_components: min-label propagation did not reach "
                f"fixpoint within max_iterations={max_iterations}; the edge "
                "graph has a component with diameter > max_iterations. "
                "Raise max_iterations (cost is ~3 jobs per extra hop)."
            )
    finally:
        # Deterministic release — repeated minhash_dedup calls in one session
        # must not ratchet up block-manager storage while waiting for the
        # async ContextCleaner: drop the seed persist and every superseded
        # iteration's checkpoint blocks. Only the FINAL labels checkpoint
        # (what the returned plan reads) and the edges checkpoint (consumed
        # by the singleton anti-join below) stay alive.
        seed_labels.unpersist()
        for old in superseded:
            _release_local_checkpoint(old)
    singletons = ids.join(
        labels.select(F.col("src").alias(id_col)), on=id_col, how="left_anti"
    ).select(F.col(id_col), F.col(id_col).alias("component"))
    return labels.withColumnRenamed("src", id_col).unionByName(singletons)


def minhash_dedup(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """X2 end-to-end near-dup dedup: LSH candidates → threshold on estimated
    Jaccard → connected components → keep component representative (min id).

    Output: input columns + ``component`` + ``is_representative``.
    """
    pairs = minhash_lsh_candidates(
        df, id_col=id_col, text_col=text_col, shingle_n=shingle_n,
        num_hashes=num_hashes, bands=bands,
    ).filter(F.col("est_jaccard") >= threshold)
    comp = connected_components(pairs, df.select(id_col), id_col=id_col)
    return df.join(comp, on=id_col).withColumn(
        "is_representative", F.col(id_col) == F.col("component")
    )


def simhash64(text_col: str, bits: int = 64) -> Column:
    """64-bit SimHash over word unigrams — pure JVM expressions: per word a
    64-bit xxhash; per bit, +1/-1 votes summed over words; bit set if the
    vote is positive. Packed into one signed long.

    Single-pass formulation: ONE aggregate over the word hashes carrying a
    64-slot vote array, with per-bit masks supplied as a literal array
    (zip_with pairs each vote slot with its mask). This keeps the expression
    tree small — the naive per-bit version (64 separate aggregates) is
    semantically identical but bloats codegen ~64x.
    """
    # bit b's mask as a signed-long literal (bit 63 wraps negative)
    masks = F.array(
        *[
            F.lit((1 << b) - (1 << 64) if b == 63 else (1 << b)).cast("long")
            for b in range(bits)
        ]
    )
    hashes = F.transform(words(text_col), lambda w: F.xxhash64(w, F.lit(42)))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_signatures(
    df: DataFrame, *, id_col: str, text_col: str, bits: int = 64, sig_col: str = "__sim"
) -> DataFrame:
    """(id, simhash) via explode + per-bit conditional sums — the scan-path
    formulation, bit-identical to the array-form ``simhash64`` (integer
    vote sums are order-independent).

    The array form folds a 64-slot vote vector per WORD through interpreted
    ``zip_with`` lambdas (64 x |words| interpreted ops per doc — the
    dominant cost of the simhash scan at sf0.1). Exploding words to rows
    turns each bit into ``sum((h >> b) & 1)`` — a shift/and/sum that stays
    inside whole-stage codegen, with map-side partial aggregation
    collapsing each doc to one 65-long state before the id-keyed shuffle.
    Bit b is set iff its +1/-1 vote sum is positive, i.e. 2*cnt_b > n."""
    from ibis_flink_example_spark.catalog import fan_out

    rows = (
        fan_out(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(words(text_col)).alias("__w"))
        .select(id_col, F.xxhash64(F.col("__w"), F.lit(42)).alias("__wh"))
    )
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(
            F.shiftrightunsigned(F.col("__wh"), b).bitwiseAND(F.lit(1).cast("long"))
        ).alias(f"__c{b}")
        for b in range(bits)
    ]
    g = rows.groupBy(id_col).agg(*aggs)
    fp = F.lit(0).cast("long")
    for b in range(bits):
        mask = (1 << b) - (1 << 64) if b == 63 else (1 << b)
        fp = fp.bitwiseOR(
            F.when(F.col(f"__c{b}") * 2 > F.col("__n"), F.lit(mask).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    return g.select(F.col(id_col), fp.alias(sig_col))


def simhash_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = 50_000,
    log_dropped: bool = False,
) -> DataFrame:
    """SimHash near-dup candidates: band the 64-bit fingerprint into 4
    16-bit chunks (pigeonhole: hamming<=3 pairs share >=1 exact chunk),
    bucket-join, verify hamming via bit_count(xor).

    The fingerprint table is materialized (localCheckpoint) because the
    bucket self-join consumes it twice — without it the whole word-hash +
    vote aggregate pipeline runs once per join side. 8 bytes per doc:
    executor-local blocks, any SF.

    ``max_bucket_size`` caps (chunk_idx, chunk) bucket population before
    the self-join (drop_hot_keys) — the skew guard against a degenerate
    16-bit chunk value (e.g. 0x0000 from near-empty docs) detonating into
    O(n²) colliding rows."""
    sigd = simhash_signatures(
        df, id_col=id_col, text_col=text_col, sig_col="__sim"
    ).localCheckpoint(eager=True)
    out = hamming_band_pairs(
        sigd,
        id_col=id_col,
        sig_col="__sim",
        max_hamming=max_hamming,
        n_chunks=4,
        max_bucket_size=max_bucket_size,
        log_dropped=log_dropped,
        what="simhash chunk bucket",
    )
    # release discipline: loop callers release via
    # checkpoints.release_eager_checkpoints(out) after consumption
    from ibis_flink_example_spark.operators.checkpoints import (
        attach_eager_checkpoints,
    )

    return attach_eager_checkpoints(out, handles=(sigd,))


def hamming_band_pairs(
    sigd: DataFrame,
    *,
    id_col: str,
    sig_col: str,
    max_hamming: int,
    n_chunks: int = 4,
    max_bucket_size: int | None = 50_000,
    log_dropped: bool = False,
    what: str = "hamming chunk bucket",
) -> DataFrame:
    """Shared Hamming-LSH candidate machinery over ANY 64-bit signature
    table (SimHash over text, blockhash over image payloads, ...): band
    the signature into ``n_chunks`` equal bit chunks, bucket-join on
    (chunk_idx, chunk), verify via ``bit_count(xor)``.

    Recall contract (pigeonhole): pairs within Hamming distance
    ``n_chunks - 1`` ALWAYS share >= 1 exact chunk, so the banding is
    LOSSLESS for ``max_hamming <= n_chunks - 1``. A larger
    ``max_hamming`` is permitted and is the standard LSH recall trade:
    the verify step still rejects every pair above the cut, but pairs
    whose differing bits straddle all chunks are never generated —
    callers needing set-exact output (oracle-checked queries) must keep
    ``max_hamming <= n_chunks - 1``.

    ``max_bucket_size`` caps bucket population before the self-join
    (drop_hot_keys) — the skew guard against one degenerate chunk value
    detonating into O(n²) colliding rows.

    Returns (id_a, id_b, hamming), id_a < id_b, distinct.
    """
    # n_chunks=1 is rejected too: its chunk mask (1<<64)-1 overflows the
    # LongType literal, and a single band degenerates to full-signature
    # equality (can never surface a nonzero-Hamming pair).
    if not (2 <= n_chunks <= 64) or 64 % n_chunks != 0:
        raise ValueError(
            "hamming_band_pairs: n_chunks must divide 64 and be in [2, 64]"
        )
    width = 64 // n_chunks
    mask = (1 << width) - 1
    chunks = sigd.select(
        id_col,
        sig_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned(F.col(sig_col), width * i)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select(id_col, sig_col, "c.chunk_idx", "c.chunk")
    chunks = drop_hot_keys(
        chunks,
        ["chunk_idx", "chunk"],
        max_rows_per_key=max_bucket_size,
        what=what,
        log_dropped=log_dropped,
        lazy=True,  # AQE-guarded anti-join; zero driver actions
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}"))
            ).alias("hamming"),
        )
        # verify BEFORE distinct: the hamming cut is one xor+popcount per
        # colliding row, so only true near-dup pairs reach the dedup shuffle
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 50_000,
    log_dropped: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs sharing >= 1 shingle: explode
    distinct shingles → self-join on shingle → |A∩B| per pair → Jaccard
    with inclusion-exclusion. Exact (not estimated), SQL-expressible, and
    bounded by shingle co-occurrence, not O(n²).

    The distinct (id, shingle) table is materialized (localCheckpoint): it
    feeds the self-join twice plus the per-doc size aggregate — three
    consumers of the explode+dedup pipeline. Shingle identity is the
    64-bit word-hash n-tuple hash (shingle_hash_rows) so the self-join
    shuffles 8-byte keys and the scan never allocates n-gram strings
    (collision probability ~1e-11 at 1M distinct shingles — negligible
    against MinHash-style estimation error budgets).

    ``max_doc_freq`` drops shingles present in more than that many docs
    BEFORE the self-join (drop_hot_keys): one stopword trigram shared by
    millions of docs is otherwise an O(n²) pair bomb. Dropped shingles
    leave the universe entirely — sizes are computed AFTER the cap, so the
    Jaccard stays a true Jaccard over the capped shingle space (the
    standard document-frequency cutoff semantics)."""
    sh = (
        shingle_hash_rows(df, id_col=id_col, text_col=text_col, n=n, hash_col="shingle")
        .distinct()
        .localCheckpoint(eager=True)
    )
    sh = drop_hot_keys(
        sh,
        ["shingle"],
        max_rows_per_key=max_doc_freq,
        what="shingle (document frequency)",
        log_dropped=log_dropped,
        lazy=True,  # AQE-guarded anti-join; zero driver actions
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _stride1_gram_anchors(
    docs: DataFrame, *, id_col: str, text_col: str, k: int
) -> DataFrame:
    """The ExactSubstr trilogy's shared core: (id, pos, __h) — a k-word
    window anchored at EVERY word position (stride 1), hashed with md5
    (engine-portable). One word per row; the gram is assembled by a
    doc-partitioned bounded ROWS window, never by exploding anchor
    indices against the word array (O(len²) bytes at stride 1).
    runs/attribution/removal all consume THIS definition — changing the
    tokenizer, separator, or the trailing-window guard here changes all
    three together, which is the point (the three tables must agree on
    what an anchor is or their numbers silently diverge)."""
    from pyspark.sql.window import Window

    if k < 2:
        raise ValueError("substring anchors: k must be >= 2")
    tok = docs.select(
        id_col, F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "__w")
    )
    frame = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, k - 1)
    return tok.select(
        id_col,
        "pos",
        F.md5(F.concat_ws(" ", F.collect_list("__w").over(frame))).alias("__h"),
        F.count("__w").over(frame).alias("__n"),
    ).filter(F.col("__n") == k)


def substring_dup_runs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Exact-substring duplicate RUNS per document — the Lee et al.
    ('Deduplicating Training Data Makes Language Models Better')
    ExactSubstr insight in its distributed window-hash formulation:
    anchor a k-word window at EVERY word position (stride 1 — unlike
    ``dedup_chunk_exact``'s disjoint stride-k chunks, which miss any
    duplicated span straddling a chunk boundary), mark anchors whose
    window occurs >= 2 times anywhere in the corpus (including within
    the same document), then coalesce each document's duplicated anchors
    into maximal runs. A maximal duplicated substring of L >= k words
    shows up as exactly L-k+1 CONSECUTIVE duplicated anchors, so run
    extension falls out of gaps-and-islands over anchor positions — the
    suffix-array "extend left/right" step without a suffix array.

    Two island definitions, both reported:
    - extension runs (gap == 1 merges): ``n_runs`` maximal duplicated
      substrings; the longest spans ``max_run_tokens`` = anchors + k - 1
      words;
    - coverage islands (gap <= k merges, where the k-word intervals
      still overlap or touch): ``dup_token_coverage`` = exact number of
      words lying inside at least one duplicated window (interval-union
      arithmetic: islands are contiguous, span = max_pos - min_pos + k —
      no double counting).

    Scale shape (100 TB): one word per row — the k-gram is assembled by
    a doc-partitioned ROWS window (frame bounded by k), NEVER by
    exploding anchor indices against the full word array (that
    dedup_chunk_exact shape is O(len²) bytes per document at stride 1).
    Window hashes are md5 (engine-portable), so the global dup test is
    one hash-partitioned COUNT window over (16-byte hash, id, pos) rows;
    the island windows are doc-partitioned with bounded lookback, and the
    final rollups reuse the doc partitioning (grouping keys extend the
    partition key). No joins anywhere.

    Returns (id_col, n_runs, dup_anchors, max_run_tokens,
    dup_token_coverage), one row per document that contains at least one
    duplicated window.
    """
    from pyspark.sql.window import Window

    grams = _stride1_gram_anchors(docs, id_col=id_col, text_col=text_col, k=k)
    dup = grams.withColumn(
        "__cnt", F.count(F.lit(1)).over(Window.partitionBy("__h"))
    ).filter(F.col("__cnt") >= 2)
    bypos = Window.partitionBy(id_col).orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(bypos)
    flagged = dup.select(
        id_col,
        "pos",
        # first row per doc: gap is NULL -> both flags default to 1
        F.when(gap == 1, F.lit(0)).otherwise(F.lit(1)).alias("__run_brk"),
        F.when(gap <= k, F.lit(0)).otherwise(F.lit(1)).alias("__cov_brk"),
    )
    ids = flagged.select(
        id_col,
        "pos",
        F.sum("__run_brk").over(bypos).alias("__run_id"),
        F.sum("__cov_brk").over(bypos).alias("__cov_id"),
    )
    # every coverage break is also a run break (gap > k implies gap > 1),
    # so runs nest inside coverage islands and one grouping chain — each
    # reusing the doc hash partitioning — yields both statistics
    runs = ids.groupBy(id_col, "__cov_id", "__run_id").agg(
        F.count(F.lit(1)).alias("__anchors"),
        F.min("pos").alias("__p0"),
        F.max("pos").alias("__p1"),
    )
    islands = runs.groupBy(id_col, "__cov_id").agg(
        F.count(F.lit(1)).alias("__n_runs"),
        F.sum("__anchors").alias("__anchors"),
        F.max("__anchors").alias("__max_run_anchors"),
        (F.max("__p1") - F.min("__p0") + F.lit(k)).alias("__span"),
    )
    return islands.groupBy(id_col).agg(
        F.sum("__n_runs").cast("long").alias("n_runs"),
        F.sum("__anchors").cast("long").alias("dup_anchors"),
        (F.max("__max_run_anchors") + F.lit(k) - F.lit(1))
        .cast("long")
        .alias("max_run_tokens"),
        F.sum("__span").cast("long").alias("dup_token_coverage"),
    )


def substring_dup_attribution(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    max_occurrences_per_gram: int | None = 50,
) -> DataFrame:
    """Cross-document ATTRIBUTION for exact-substring duplication — the
    provenance step of the Lee et al. ExactSubstr pass: not just "this
    span is duplicated somewhere" (``substring_dup_runs``) but WHICH
    (doc_a, doc_b) pairs share maximal runs, the table a removal policy
    acts on (keep the span in one canonical doc, cut it from the rest;
    rank source pairs by shared volume).

    Construction: the same stride-1 k-word anchor table (doc-partitioned
    bounded ROWS window — never an explode against the word array), then
    occurrences of the same window hash are PAIRED cross-document
    (id_a < id_b) by one hash-keyed equi self-join. A shared maximal run
    of L words between two docs is exactly L-k+1 consecutive anchor
    pairs advancing along a fixed DIAGONAL (pos_a - pos_b constant), so
    maximal shared runs fall out of gaps-and-islands over
    (id_a, id_b, diagonal) ordered by pos_a.

    Scale shape: the pair generator is bucket-style — occurrences of one
    hash self-join, so pair volume is Σ_h c_h² and a boilerplate k-gram
    present in millions of docs is the classic skew-killer;
    ``max_occurrences_per_gram`` is the hot-key cap (``drop_hot_keys``
    contract: ultra-common windows carry no attribution signal — the
    docs they'd pair are still paired via their rarer shared windows).
    The islands windows partition by (id_a, id_b, diagonal) — parallel,
    bounded by the pair's own anchor count. Returns one row per
    UNORDERED doc pair sharing at least one duplicated window:
    (id_a, id_b, n_shared_runs, shared_anchors, max_shared_run_tokens).
    """
    from pyspark.sql.window import Window

    grams = _stride1_gram_anchors(docs, id_col=id_col, text_col=text_col, k=k)
    occ = grams.withColumn(
        "__cnt", F.count(F.lit(1)).over(Window.partitionBy("__h"))
    ).filter(F.col("__cnt") >= 2)
    if max_occurrences_per_gram is not None:
        occ = occ.filter(F.col("__cnt") <= max_occurrences_per_gram)
    occ = occ.select(id_col, "pos", "__h")
    a = occ.select(
        F.col(id_col).alias("id_a"), F.col("pos").alias("__pa"), "__h"
    )
    b = occ.select(
        F.col(id_col).alias("id_b"), F.col("pos").alias("__pb"), "__h"
    )
    pairs = a.join(b, "__h").filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", "__pa", (F.col("__pa") - F.col("__pb")).alias("__diag")
    )
    bydiag = Window.partitionBy("id_a", "id_b", "__diag").orderBy("__pa")
    brk = F.when(
        F.col("__pa") - F.lag("__pa").over(bydiag) == 1, F.lit(0)
    ).otherwise(F.lit(1))
    runs = (
        pairs.select("id_a", "id_b", "__diag", "__pa", brk.alias("__brk"))
        .select(
            "id_a",
            "id_b",
            "__diag",
            F.sum("__brk").over(bydiag).alias("__run_id"),
        )
        .groupBy("id_a", "id_b", "__diag", "__run_id")
        .agg(F.count(F.lit(1)).alias("__anchors"))
    )
    return runs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_runs"),
        F.sum("__anchors").cast("long").alias("shared_anchors"),
        (F.max("__anchors") + F.lit(k) - F.lit(1))
        .cast("long")
        .alias("max_shared_run_tokens"),
    )


def substring_dup_removal(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    pos_bits: int = 20,
) -> DataFrame:
    """The REMOVAL step of the Lee et al. ExactSubstr pass — the
    transform the runs/attribution tables inform: delete every token
    that lies only inside NON-CANONICAL duplicated windows, keeping the
    single canonical occurrence of each duplicated span. Canonical
    occurrence of a window hash = the globally smallest (doc_id, pos)
    pair carrying it (encoded as doc_id·2^pos_bits + pos so the argmin
    is ONE integer MIN window — engine-portable, no struct ordering). A
    token survives iff it is outside every duplicated window, or at
    least one duplicated window covering it is canonical — so exactly
    one copy of each duplicated region remains and unique text is never
    touched.

    Scale shape: the anchor table is the substring_dup_runs machinery
    (bounded ROWS window, one hash-partitioned MIN+COUNT window); each
    duplicated anchor explodes to its k covered positions (x k on the
    DUPLICATED subset only, never the whole corpus); kept tokens
    reassemble per doc via sort_array(collect_list) — one doc-keyed
    aggregation whose input is one row per corpus token. Returns one
    row per document that LOST at least one token:
    (id_col, n_tokens, n_removed, clean_md5) — clean_md5 is the md5 of
    the space-rejoined surviving tokens, the receiving pipeline's
    content digest.
    """
    from pyspark.sql.window import Window

    # tok is kept locally (the reassembly join reads every token);
    # the anchor definition itself is the trilogy's shared helper
    tok = docs.select(
        id_col, F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "__w")
    )
    grams = _stride1_gram_anchors(docs, id_col=id_col, text_col=text_col, k=k)
    byhash = Window.partitionBy("__h")
    # the packed argmin key needs pos < 2^pos_bits AND
    # id < 2^(63-pos_bits) — raise loudly on either (a snowflake-scale
    # doc id would wrap the int64 product and silently mis-rank which
    # occurrence is canonical) instead of corrupting the removal
    pos_guard = F.when(
        F.col("pos") >= F.lit(2**pos_bits),
        F.raise_error(
            F.lit(f"substring_dup_removal: pos >= 2^{pos_bits}; raise pos_bits")
        ).cast("long"),
    ).otherwise(F.col("pos"))
    id_guard = F.when(
        (F.col(id_col) < 0) | (F.col(id_col) >= F.lit(2 ** (63 - pos_bits))),
        F.raise_error(
            F.lit(
                f"substring_dup_removal: {id_col} outside "
                f"[0, 2^{63 - pos_bits}); lower pos_bits or remap ids"
            )
        ).cast("long"),
    ).otherwise(F.col(id_col))
    enc = (id_guard * F.lit(2**pos_bits) + pos_guard).cast("long")
    dup = (
        grams.select(
            id_col,
            "pos",
            enc.alias("__enc"),
            F.count(F.lit(1)).over(byhash).alias("__cnt"),
            F.min(enc).over(byhash).alias("__canon_enc"),
        )
        .filter(F.col("__cnt") >= 2)
    )
    covered = dup.select(
        id_col,
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
        ).alias("pos"),
        (F.col("__enc") == F.col("__canon_enc")).alias("__canon"),
    )
    removed = (
        covered.groupBy(id_col, "pos")
        .agg(F.max(F.col("__canon").cast("int")).alias("__any_canon"))
        .filter(F.col("__any_canon") == 0)
        .select(id_col, "pos", F.lit(True).alias("__rm"))
    )
    marked = tok.join(removed, [id_col, "pos"], "left")
    entry = F.struct(F.col("pos").alias("p"), F.col("__w").alias("w"))
    out = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.count(F.when(F.col("__rm"), 1)).cast("long").alias("n_removed"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(F.col("__rm").isNull(), entry))
                    ),
                    lambda x: x["w"],
                ),
            ).cast("binary")
        ).alias("clean_md5"),
    )
    return out.filter(F.col("n_removed") > 0)


def incremental_dedup(
    incoming: DataFrame,
    existing: DataFrame,
    *,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Ingest-time dedup: keep incoming rows whose normalized content is
    (a) absent from the already-accepted corpus and (b) the min-id copy
    within the incoming batch itself.

    Shape at 100 TB: the existing corpus contributes ONLY its digest
    column (narrow scan), the anti-join and the in-batch winner semi-join
    are both digest-keyed — each side moves one hash + id per row, full
    incoming rows move only for survivors. This is the daily-ingest
    complement of the one-shot ``exact_dedup``: the corpus is deduped
    once, then every new batch checks against digests, never re-reading
    accepted text.
    """
    inc = incoming.withColumn("__digest", content_digest(text_col))
    seen = existing.select(content_digest(text_col).alias("__digest"))
    fresh = inc.join(seen, "__digest", "left_anti")
    winners = fresh.groupBy("__digest").agg(F.min(id_col).alias(id_col))
    return fresh.join(winners, on=["__digest", id_col], how="left_semi").drop(
        "__digest"
    )


def shingle_match_ids(
    new_sh: DataFrame,
    pool_sh: DataFrame,
    *,
    id_col: str,
    shingle_col: str = "shingle",
    new_sizes: DataFrame | None = None,
    pool_sizes: DataFrame | None = None,
    threshold_num: int = 1,
    threshold_den: int = 2,
    restrict_smaller_pool_id: bool = False,
) -> DataFrame:
    """Ids from ``new_sh`` whose exact n-gram Jaccard against ANY pool doc
    reaches ``threshold_num/threshold_den`` — the per-batch probe of the
    incremental near-dup ingest (the streaming complement of
    ``ngram_jaccard_pairs``, which scores a static corpus all at once).

    Inputs are DISTINCT (id, shingle) rows (``shingle_hash_rows(...)
    .distinct()``). Sizes may be passed pre-aggregated (the ingest loop
    maintains a persistent per-doc size table precisely so the growing
    pool is never re-aggregated per batch); otherwise they are derived.
    The threshold test is the integer cross-multiplication
    ``den*|A∩B| >= num*(|A|+|B|-|A∩B|)`` — no float ever enters, so the
    decision is engine-exact and SQL-mirrorable.

    ``restrict_smaller_pool_id=True`` keeps only pool ids strictly below
    the new id — the within-batch arm, where "earlier arrival" is id
    order inside one micro-batch.

    Scale shape: one shingle-keyed join bounded by shingle co-occurrence
    (never all-pairs), one (new, pool) pair aggregation, two tiny size
    joins. Production corpora additionally cap document frequency on the
    shingle key before this join (``drop_hot_keys``, see
    ngram_jaccard_pairs) — the ingest query keeps the space uncapped so
    its oracle stays a pure prefix-Jaccard definition.
    """
    # explicit None checks: DataFrame truthiness is undefined behavior to
    # lean on (`or` would silently conflate None with any falsy impostor)
    if new_sizes is None:
        new_sizes = new_sh.groupBy(id_col).agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles")
        )
    if pool_sizes is None:
        pool_sizes = pool_sh.groupBy(id_col).agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles")
        )
    ns, ps = new_sizes, pool_sizes
    a = new_sh.select(
        F.col(id_col).alias("__id_n"), F.col(shingle_col).alias("__sh")
    )
    b = pool_sh.select(
        F.col(id_col).alias("__id_p"), F.col(shingle_col).alias("__sh")
    )
    cond = a["__sh"] == b["__sh"]
    if restrict_smaller_pool_id:
        cond = cond & (b["__id_p"] < a["__id_n"])
    inter = (
        a.join(b, cond)
        .groupBy("__id_n", "__id_p")
        .agg(F.count(F.lit(1)).cast("long").alias("__nc"))
    )
    num, den = int(threshold_num), int(threshold_den)
    hits = (
        inter.join(
            ns.select(F.col(id_col).alias("__id_n"), F.col("n_shingles").alias("__na")),
            "__id_n",
        )
        .join(
            ps.select(F.col(id_col).alias("__id_p"), F.col("n_shingles").alias("__nb")),
            "__id_p",
        )
        .filter(
            F.lit(den) * F.col("__nc")
            >= F.lit(num) * (F.col("__na") + F.col("__nb") - F.col("__nc"))
        )
    )
    return hits.select(F.col("__id_n").alias(id_col)).distinct()
