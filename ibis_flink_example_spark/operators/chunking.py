"""Document chunking + line-level boilerplate removal — the 1:N / N:1
reshaping stages of a pretraining data pipeline (SURVEY.md §2.11 X4
extension; no reference analogue — the reference's only reshaping is the
per-event window, window_aggregation.py:73-80).

Scale design:
- ``chunk_documents`` is a pure projection + explode: zero shuffles, stays
  entirely inside whole-stage codegen, and parallelism equals scan
  parallelism — the shape you want when chunking 100 TB of text into
  context-window pieces.
- ``line_document_frequency`` / ``strip_boilerplate_lines`` is the
  CCNet/RefinedWeb pattern: explode lines, count per-line document
  frequency (one hash-keyed shuffle with map-side partial aggregation),
  mark lines whose df exceeds a threshold as boilerplate, and reassemble
  documents with an order-preserving ``collect_list(struct(idx, line))``
  grouped by doc (second shuffle). Both shuffles are on high-cardinality
  keys (line hash, doc id) — no skew hotspot, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def n_chunks(length: Column, chunk_size: int, overlap: int) -> Column:
    """Number of chunks for a doc of ``length`` chars: chunks start every
    ``stride = chunk_size - overlap`` chars; the last start is the largest
    multiple of stride < length - overlap (empty docs still yield 1 chunk).
    Integer ceil-div keeps the expression exact in any engine."""
    stride = chunk_size - overlap
    if stride <= 0:
        raise ValueError("chunk_size must exceed overlap")
    # (length - overlap + stride - 1) // stride; operands are non-negative
    # because stride - 1 >= overlap is NOT guaranteed — guard via greatest.
    raw = F.floor((length - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride))
    return F.greatest(F.lit(1), raw).cast("int")


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Split each document into ``chunk_size``-char pieces overlapping by
    ``overlap`` chars. Emits (id, chunk_idx, chunk_start, chunk_text,
    chunk_len); the final chunk is truncated at the document end.

    Plan shape: Project → Generate(posexplode) → Project — no exchange;
    chunk text is sliced with ``substr`` on the already-scanned text column
    so each input row is read exactly once.
    """
    stride = chunk_size - overlap
    length = F.length(F.col(text_col))
    k = n_chunks(length, chunk_size, overlap)
    exploded = docs.select(
        F.col(id_col),
        F.col(text_col),
        F.posexplode(F.sequence(F.lit(0), k - 1)).alias("chunk_idx", "_k"),
    )
    start = (F.col("chunk_idx").cast("bigint") * stride).alias("chunk_start")
    chunk = F.col(text_col).substr(
        F.col("chunk_idx") * stride + 1, F.lit(chunk_size)
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx"),
        start,
        chunk.alias("chunk_text"),
        F.length(chunk).alias("chunk_len"),
    )


def _literal_pattern(delimiter: str) -> str:
    r"""Quote a delimiter for Java-regex LITERAL matching (\Q...\E): the
    reassembly side (array_join) treats the delimiter as a literal, so the
    split side must too — a caller passing '|' or '.' would otherwise
    split between every character and silently corrupt output."""
    if "\\E" in delimiter:
        raise ValueError(r"delimiter may not contain \E (Java \Q quoting)")
    return "\\Q" + delimiter + "\\E"


def line_document_frequency(
    lines: DataFrame, id_col: str = "doc_id", min_line_chars: int = 1
) -> DataFrame:
    """Per-line document frequency: (line, df). Lines shorter than
    ``min_line_chars`` (after trim) are ignored — near-empty lines are not
    evidence of boilerplate. One shuffle keyed by the line text (Spark
    plans map-side partial ``count(distinct)`` via two-phase aggregate)."""
    return (
        lines.where(F.length(F.trim(F.col("line"))) >= min_line_chars)
        .groupBy("line")
        .agg(F.countDistinct(F.col(id_col)).alias("df"))
    )


def strip_boilerplate_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 5,
    min_line_chars: int = 1,
    extra_cols: tuple[str, ...] = (),
    delimiter: str = "\n",
    max_broadcast_hot: int = 1_000_000,
) -> DataFrame:
    """Remove units appearing in more than ``max_df`` documents and
    reassemble each document in original order. With ``delimiter='\\n'``
    this is CCNet-style boilerplate-line removal (cookie banners, nav
    menus, license footers); with ``delimiter=' '`` it is df-based term
    pruning (sklearn ``max_df`` stopword elimination).

    Pipeline (100 TB shape): explode units → df count (shuffle 1, keyed by
    unit text) → filter to the HOT units only (df > max_df — rare by
    definition: boilerplate is the tail, not the body) → broadcast-join
    the hot set back onto the exploded units as a kept/dropped marker
    (map-side; the full-df-table alternative would shuffle the entire
    corpus a second time on unit text) → groupBy doc with conditional
    ``array_sort(collect_list(...))`` (shuffle 2, keyed by doc id). The
    doc rollup aggregates ALL unit rows (dropped ones contribute only to
    the marker), so documents whose every unit is boilerplate survive
    with empty text — no final join against the doc table is needed, and
    ``extra_cols`` ride the explode (their per-unit duplication is
    column-pruned to the grouping's first()).

    The broadcast is guarded: if the hot set exceeds
    ``max_broadcast_hot`` the join falls back to a shuffle hash join
    (same result, one extra exchange) instead of an unbounded broadcast —
    the decontaminate_ngram guard pattern.
    """
    lines = docs.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.posexplode(
            F.split(F.col(text_col), _literal_pattern(delimiter))
        ).alias("line_idx", "line"),
    )
    df_counts = line_document_frequency(lines, id_col, min_line_chars)
    # Materialize the tiny hot set before probing its size — the count()
    # guard and the join would otherwise each run the corpus-wide
    # explode + df aggregation from scratch (the most expensive stage,
    # twice). The checkpoint's blocks live as long as the returned lazy
    # plan references them (callers that loop should materialize the
    # result and release via dedup._release_local_checkpoint).
    hot = (
        df_counts.where(F.col("df") > max_df)
        .select("line", F.lit(True).alias("__hot"))
        .localCheckpoint(eager=True)
    )
    if hot.count() <= max_broadcast_hot:
        hot = F.broadcast(hot)
    marked = lines.join(hot, "line", "left").withColumn(
        "__kept", F.col("__hot").isNull()
    )
    reassembled = marked.groupBy(id_col).agg(
        *[F.first(c).alias(c) for c in extra_cols],
        F.array_join(
            # struct sort-order is field order, so (line_idx, line) sorts by
            # position; transform strips the idx after ordering. Dropped
            # units yield NULL structs, which collect_list skips.
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__kept"), F.struct("line_idx", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
            delimiter,
        ).alias("clean_text"),
        F.sum(F.col("__kept").cast("int")).cast("int").alias("n_kept_lines"),
    )
    return reassembled.select(
        id_col, *extra_cols, "clean_text", "n_kept_lines"
    )
