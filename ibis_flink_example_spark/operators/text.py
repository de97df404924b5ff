"""Text analysis operators (SURVEY.md §2.11 X4): language ID, quality
scoring, token counting, document fingerprinting — the per-document feature
stage of a training-data pipeline. Everything is built-in column
expressions: at 100 TB these run inside whole-stage codegen over the scan,
zero Python, zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ibis_flink_example_spark.operators.dedup import (  # noqa: F401
    WS_CLASS,
    WS_SPLIT,
    words,
)

# WS_CLASS/WS_SPLIT (canonical home: operators/dedup.py) are Java's \s
# spelled out ([ \t\n\x0B\f\r]) — valid and IDENTICAL in Java regex and
# RE2. The \s SHORTHAND is a cross-engine trap: Java includes U+000B,
# RE2 (DuckDB) does not. As of the late-r11 sweep EVERY engine+oracle
# pair uses the explicit class on both sides; new pairs must too.

def bind_col(col: Column, body) -> Column:
    """Evaluate ``body(var)`` with ``var`` lambda-bound to ``col`` via a
    length-1 array transform. Higher-order functions are interpreted, and
    an interpreted expression tree re-evaluates a non-lambda-var subtree
    at EVERY reference — a derived array (e.g. the ``words`` regexp
    split) referenced k times in one projection splits k times per row
    (measured 10x on ``repetition_features``, whose gram lambda
    re-split per BIGRAM, r15). A lambda-variable reference is a
    constant-time lookup, so the subtree evaluates exactly once per row
    however many times ``body`` references it. For multi-output
    operators, return ONE struct from ``body`` and expand its fields in
    a SECOND projection: CollapseProject keeps the two apart (the struct
    alias is referenced once per field, and the heuristic refuses to
    inline non-cheap multi-referenced aliases), so the struct
    materializes once per row."""
    return F.element_at(F.transform(F.array(col), body), 1)


# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# (Real pipelines use fastText/CLD3; the heuristic keeps the operator
# dependency-free and deterministic — the Spark plumbing is identical.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "in", "is", "a"],
    "es": ["el", "la", "de", "que", "y", "en", "los"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "de", "et", "est", "une"],
}
DEFAULT_LANG = "und"

# BPE-ish: word pieces or single punct (whitespace class spelled out)
TOKEN_REGEX = r"[A-Za-z0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"


def token_count_whitespace(text_col: str) -> Column:
    return F.size(words(text_col))


def token_count_regex(text_col: str) -> Column:
    """Count of BPE-ish tokens (alnum runs + individual punctuation)."""
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), 0))


def lang_id(text_col: str) -> Column:
    """Argmax over marker-lexicon hit counts; deterministic tie-break by
    lexicon declaration order; 'und' when nothing matches.

    Both the words array and the per-language score array are
    lambda-BOUND (``bind_col``): the naive form re-referenced each score
    (and through it the regexp split) once per CASE arm and once inside
    ``greatest`` — ~25 interpreted splits per row; bound, the split and
    the four filters run once and the CASE reads array slots. Verified
    bit-equal on the sf0.1 corpus; ~2x on the scan (r15)."""
    langs = list(LANG_MARKERS)

    def scores_body(ws: Column) -> Column:
        # closure factory, NOT a default arg: PySpark derives lambda-var
        # count from the function's arity, so a second parameter would be
        # handed a lambda variable
        def hit(ms: list[str]):
            low = [m.lower() for m in ms]
            return lambda w: F.lower(w).isin(low)

        return F.array(
            *[
                F.size(F.filter(ws, hit(LANG_MARKERS[lang])))
                for lang in langs
            ]
        )

    def pick(s: Column) -> Column:
        # array_max == greatest here: sizes are never null
        best = F.array_max(s)
        expr = F.lit(DEFAULT_LANG)
        # reversed CASE chain so earlier languages win ties
        for i in range(len(langs) - 1, -1, -1):
            expr = F.when(
                (F.element_at(s, i + 1) == best) & (best > 0),
                F.lit(langs[i]),
            ).otherwise(expr)
        return expr

    return bind_col(bind_col(words(text_col), scores_body), pick)


def quality_features(df: DataFrame, text_col: str, *extra_cols: str) -> DataFrame:
    """Per-doc quality signals + a composite score in [0,1]:
    length band, punctuation density, stopword ratio, mean word length —
    the classic heuristic-filter stack (Gopher/C4-style) as pure columns."""
    # Counting pass bound once per row (bind_col: the split and the
    # stopword filter were re-evaluated per referencing output column —
    # r15), then ratios/flags read the materialized struct fields.
    all_markers = sorted({m for ms in LANG_MARKERS.values() for m in ms})
    n_chars0 = F.length(F.col(text_col))
    n_punct0 = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"[^\w \t\n\x0B\f\r]"), 0)
    )

    def body(ws: Column) -> Column:
        return F.struct(
            n_chars0.alias("c"),
            F.size(ws).alias("w"),
            n_punct0.alias("p"),
            F.size(
                F.filter(ws, lambda w: F.lower(w).isin(all_markers))
            ).alias("s"),
        )

    base = df.select(
        *extra_cols, bind_col(words(text_col), body).alias("__m")
    )
    n_chars = F.col("__m.c")
    n_words = F.col("__m.w")
    n_punct = F.col("__m.p")
    n_stop = F.col("__m.s")
    mean_word_len = (n_chars - (n_words - 1)) / n_words  # chars net of separators
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_words, F.lit(1))
    length_ok = (n_chars >= 50) & (n_chars <= 20000)
    word_len_ok = (mean_word_len >= 2.0) & (mean_word_len <= 12.0)
    score = (
        length_ok.cast("double") * 0.4
        + word_len_ok.cast("double") * 0.2
        + (punct_ratio <= 0.2).cast("double") * 0.2
        + (stop_ratio >= 0.01).cast("double") * 0.2
    )
    return base.select(
        *extra_cols,
        n_chars.alias("n_chars_measured"),
        n_words.alias("n_words"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stopwords"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(score, 6).alias("quality_score"),
    )


def repetition_features(df: DataFrame, text_col: str, *extra_cols: str) -> DataFrame:
    """Gopher-style within-document repetition signals, fully map-only:

    - ``dup_word_frac``: 1 − |distinct words| / |words| — the fraction of
      words that are repeats;
    - ``top_2gram_frac``: occurrences of the most frequent word bigram over
      all bigrams (NULL for sub-2-word docs) — boilerplate/spam loops spike
      this.

    The bigram mode is computed WITHOUT a shuffle: sort the doc's bigram
    array, then one ``aggregate`` pass finds the longest equal-run — per-row
    O(g log g) inside codegen'd higher-order functions. The alternative
    (explode → groupBy(doc, gram) → max/sum) shuffles |corpus words| rows;
    at 100 TB the in-row form wins by the width of that exchange."""
    # The whole feature block runs under ONE lambda binding of the words
    # array (bind_col): the gram lambda's ``element_at(ws, i)`` otherwise
    # re-evaluates the regexp split PER BIGRAM in interpreted HOF
    # evaluation — measured 10x on this operator's scan (6.6 s -> 0.66 s
    # on the sf0.1 corpus, r15), bit-identical output.
    def body(ws: Column) -> Column:
        n_words = F.size(ws)
        dup_word_frac = (
            F.lit(1.0) - F.size(F.array_distinct(ws)).cast("double") / n_words
        )
        # The grams expression must be TOTAL for every row, not merely
        # referenced behind a lazy when() branch: sequence(1, n_words-1) on a
        # 1-word doc would yield the DESCENDING [1, 0] and element_at(ws, 0)
        # throws under ANSI mode. Guard the sequence itself (empty array for
        # sub-2-word docs) and clamp its upper bound so both branches are valid
        # on all inputs regardless of where the expression appears.
        grams = F.when(
            n_words >= 2,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_words - 1, F.lit(1))),
                lambda i: F.concat_ws(
                    " ", F.element_at(ws, i), F.element_at(ws, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        run = F.aggregate(
            F.array_sort(grams),
            F.struct(
                F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
            ),
            lambda acc, g: F.struct(
                g.alias("prev"),
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )
        top_2gram_frac = F.when(
            n_words >= 2, run.cast("double") / (n_words - 1).cast("double")
        )
        return F.struct(
            n_words.alias("w"),
            dup_word_frac.alias("d"),
            top_2gram_frac.alias("t"),
        )

    base = df.select(
        *extra_cols, bind_col(words(text_col), body).alias("__m")
    )
    return base.select(
        *extra_cols,
        F.col("__m.w").alias("n_words"),
        F.col("__m.d").alias("dup_word_frac"),
        F.col("__m.t").alias("top_2gram_frac"),
    )


# The Gopher repetition-free quality rules (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", appendix A1.1 — public). Required-word set
# verbatim from the paper; thresholds verbatim. Every ratio test below is
# restated as an INTEGER cross-multiplication so the flags are bit-exact
# in any engine (no float ever materializes).
GOPHER_REQUIRED_WORDS: list[str] = [
    "the", "be", "to", "of", "and", "that", "have", "with",
]
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_SYMBOLS_REGEX = r"#|\.\.\.|…"  # hash or ellipsis (ASCII + U+2026)
GOPHER_BULLET_CHARS = ("•", "-", "*")


def gopher_flags(df: DataFrame, text_col: str, *extra_cols: str) -> DataFrame:
    """Per-document Gopher quality-rule audit (Rae et al. 2021 A1.1):

    - ``pass_word_count``: 50 <= n_words <= 100000;
    - ``pass_mean_word_len``: mean word length in [3, 10], tested as the
      integer inequality ``3*n_words <= word_chars <= 10*n_words``;
    - ``pass_symbol_ratio``: symbol-to-word ratio (# / ellipsis) <= 0.1,
      i.e. ``10*symbol_hits <= n_words``;
    - ``pass_alpha_frac``: >= 80% of words contain an alphabetic char,
      i.e. ``5*n_alpha_words >= 4*n_words``;
    - ``pass_req_words``: >= 2 distinct words from the paper's required
      set {the, be, to, of, and, that, have, with};
    - ``pass_lines``: < 90% of lines start with a bullet AND < 30% end
      with an ellipsis (``10*bullet < 9*n_lines`` / ``10*ellip < 3*n_lines``);
    - ``pass_gopher``: AND of all of the above — the keep decision.

    Map-only pure column expressions (higher-order functions over the
    split arrays): at 100 TB this is a zero-shuffle scan-stage pass, and
    the integer restatement of every threshold means the flags — not just
    the counts — are engine-exact."""
    # Counting pass bound once per row over BOTH split arrays (bind_col
    # with a struct of the words + lines arrays — r15): the naive form
    # re-ran the splits at every referencing count/flag (~15 interpreted
    # splits per row across the pass_* trees and pass_gopher's copies).
    # Flags then read the materialized struct fields.
    req = [w for w in GOPHER_REQUIRED_WORDS]
    symbol_hits0 = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(GOPHER_SYMBOLS_REGEX), 0)
    ).cast("long")

    def body(x: Column) -> Column:
        ws = x["a"]
        lines = x["b"]
        return F.struct(
            F.size(ws).cast("long").alias("w"),
            F.aggregate(
                F.transform(ws, lambda w: F.length(w).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("wc"),
            F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
            .cast("long")
            .alias("aw"),
            F.size(
                F.array_intersect(
                    F.array_distinct(F.transform(ws, lambda w: F.lower(w))),
                    F.array(*[F.lit(w) for w in req]),
                )
            )
            .cast("long")
            .alias("rk"),
            symbol_hits0.alias("sh"),
            F.size(lines).cast("long").alias("nl"),
            F.size(
                F.filter(
                    lines,
                    lambda ln: F.substring(F.ltrim(ln), 1, 1).isin(
                        *GOPHER_BULLET_CHARS
                    ),
                )
            )
            .cast("long")
            .alias("bl"),
            F.size(
                F.filter(
                    lines,
                    lambda ln: F.rtrim(ln).endswith("...")
                    | F.rtrim(ln).endswith("…"),
                )
            )
            .cast("long")
            .alias("el"),
        )

    ws0 = F.split(F.trim(F.col(text_col)), WS_SPLIT)
    lines0 = F.split(F.col(text_col), "\n", -1)
    bound = F.element_at(
        F.transform(
            F.array(F.struct(ws0.alias("a"), lines0.alias("b"))), body
        ),
        1,
    )
    base = df.select(*extra_cols, bound.alias("__m"))
    n_words = F.col("__m.w")
    word_chars = F.col("__m.wc")
    n_alpha_words = F.col("__m.aw")
    req_kinds = F.col("__m.rk")
    symbol_hits = F.col("__m.sh")
    n_lines = F.col("__m.nl")
    bullet_lines = F.col("__m.bl")
    ellipsis_lines = F.col("__m.el")
    pass_word_count = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    pass_mean_word_len = (word_chars >= 3 * n_words) & (word_chars <= 10 * n_words)
    pass_symbol_ratio = 10 * symbol_hits <= n_words
    pass_alpha_frac = 5 * n_alpha_words >= 4 * n_words
    pass_req_words = req_kinds >= 2
    pass_lines = (10 * bullet_lines < 9 * n_lines) & (
        10 * ellipsis_lines < 3 * n_lines
    )
    return base.select(
        *extra_cols,
        n_words.alias("n_words"),
        word_chars.alias("word_chars"),
        n_alpha_words.alias("n_alpha_words"),
        req_kinds.alias("req_word_kinds"),
        symbol_hits.alias("symbol_hits"),
        n_lines.alias("n_lines"),
        bullet_lines.alias("bullet_lines"),
        ellipsis_lines.alias("ellipsis_lines"),
        pass_word_count.alias("pass_word_count"),
        pass_mean_word_len.alias("pass_mean_word_len"),
        pass_symbol_ratio.alias("pass_symbol_ratio"),
        pass_alpha_frac.alias("pass_alpha_frac"),
        pass_req_words.alias("pass_req_words"),
        pass_lines.alias("pass_lines"),
        (
            pass_word_count
            & pass_mean_word_len
            & pass_symbol_ratio
            & pass_alpha_frac
            & pass_req_words
            & pass_lines
        ).alias("pass_gopher"),
    )


def fingerprint(text_col: str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercase, collapsed whitespace) — the join key for cross-corpus
    exact-dup lookup."""
    normalized = F.lower(
        F.regexp_replace(F.trim(F.col(text_col)), WS_SPLIT, " ")
    )
    return F.md5(normalized.cast("binary"))


def rolling_shingle_fingerprints(
    text_col: str,
    n: int = 8,
    keep: int = 4,
    hash_fn: str = "xxhash64",
    unit: str = "char",
) -> Column:
    """Winnowing-style robust fingerprint: the ``keep`` smallest hash
    values over ALL overlapping n-gram shingles — two docs sharing most
    content share most of the sketch even after small edits. Because every
    overlapping window is hashed (content-defined, not position-anchored),
    the sketch survives insertions: windows after an edit still contain the
    same content and hash to the same values.

    ``unit="char"`` hashes character n-grams (finest granularity, ~|text|
    shingles/doc); ``unit="word"`` hashes word n-grams (~|words| shingles —
    an order of magnitude fewer, the right cost point when the edit model
    is word-level). ``hash_fn="xxhash64"`` (default) is the scale path:
    fixed-width integer hashing. ``hash_fn="md5"`` produces engine-portable
    hex sketches (bit-identical in Spark/DuckDB/etc.) for cross-engine
    verification or cross-system corpus exchange, at higher per-shingle
    cost."""
    c = F.lower(F.regexp_replace(F.trim(F.col(text_col)), WS_SPLIT, " "))
    if unit == "word":
        from ibis_flink_example_spark.operators.dedup import word_shingles

        shingles = word_shingles(F.split(c, " "), n)
    else:
        # The normalized text is lambda-BOUND (bind_col): referenced
        # directly inside the window lambda it would re-run the
        # trim/regexp/lower chain once PER CHARACTER POSITION in
        # interpreted HOF evaluation (r15; the word_shingles lesson).
        shingles = bind_col(
            c,
            lambda cb: F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.length(cb) - n + 1, F.lit(1))
                ),
                lambda i: F.substring(cb, 1, 0x7FFFFFFF).substr(i, F.lit(n)),
            ),
        )
    if hash_fn == "md5":
        hashes = F.transform(shingles, lambda s: F.md5(s.cast("binary")))
    else:
        hashes = F.transform(shingles, lambda s: F.xxhash64(s, F.lit(7)))
    return F.slice(F.array_sort(hashes), 1, keep)


def decontaminate_ngram_overlap(
    train: DataFrame,
    eval_docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 13,
    max_broadcast_grams: int = 2_000_000,
) -> DataFrame:
    """Benchmark decontamination, the 13-gram-overlap flavor (the GPT-3
    appendix-C method): a training document sharing ANY n-word-gram with a
    held-out eval document is flagged ``contaminated``. Short docs (<n
    words) degrade to a single whole-text gram.

    Scale shape: eval sets are normally thousands of documents, so their
    distinct grams BROADCAST and the training side left-semi probes the
    broadcast — zero shuffle of training data. But the broadcast must be
    GUARDED: an eval side that grows with the corpus (or a caller pointing
    "eval" at something big) would OOM every executor. One count() on the
    (small) eval gram set decides: above ``max_broadcast_grams`` distinct
    grams (~2M ≈ hundreds of MB of 13-word strings) the plan falls back to
    a shuffle semi-join on the gram — both sides exchange once on the gram
    key, the classic big-big semi shape.

    Output: (id_col, contaminated) for every training doc.
    """
    from ibis_flink_example_spark.operators.dedup import word_shingles, words

    def grams(d: DataFrame) -> DataFrame:
        return d.select(
            id_col, F.explode(word_shingles(words(text_col), n)).alias("gram")
        )

    # Materialize the eval gram set once: the count() guard and the join
    # probe would otherwise each run the explode+distinct pipeline from
    # scratch. The checkpoint's blocks live as long as the returned lazy
    # plan (callers that loop should materialize the result and release
    # via dedup._release_local_checkpoint).
    ev = grams(eval_docs).select("gram").distinct().localCheckpoint(eager=True)
    n_eval_grams = ev.count()
    # Over budget: pin the shuffle strategy with a merge hint — we have
    # just MEASURED the cardinality, so don't let size-estimate stats (or
    # AQE on a small test fixture) re-broadcast a side we know is big.
    probe = (
        F.broadcast(ev) if n_eval_grams <= max_broadcast_grams else ev.hint("merge")
    )
    hits = (
        grams(train)
        .join(probe, "gram", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return train.join(hits, id_col, "left").select(
        id_col, F.coalesce(F.col("__hit"), F.lit(False)).alias("contaminated")
    )


def contamination_hits(
    train: DataFrame,
    eval_docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    set_col: str,
    n: int = 13,
    max_broadcast_grams: int = 2_000_000,
) -> DataFrame:
    """Per-EVAL-SET contamination attribution — the provenance form of
    ``decontaminate_ngram_overlap``: instead of one boolean per training
    doc, return the distinct (eval_set, training doc) hit pairs, so
    callers can rank WHICH eval set leaks into WHICH corpus slice
    (leaderboards, per-domain contamination budgets). Same n-word-gram
    membership test (any shared gram ⇒ hit; short docs degrade to one
    whole-text gram), same guarded-broadcast scale shape: the eval gram
    set (now carrying its set label) is measured, broadcast under the
    budget, shuffle-joined on the gram key above it. The training side
    exchanges nothing under the broadcast; the distinct collapses
    per-gram multiplicity BEFORE any rollup.

    Output: (set_col, id_col) distinct rows — extra training-doc columns
    survive via the caller joining back on ``id_col``.
    """
    from ibis_flink_example_spark.operators.dedup import word_shingles, words

    ev = (
        eval_docs.select(
            F.col(set_col),
            F.explode(word_shingles(words(text_col), n)).alias("gram"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_eval_grams = ev.count()
    probe = (
        F.broadcast(ev) if n_eval_grams <= max_broadcast_grams else ev.hint("merge")
    )
    tr = train.select(
        id_col, F.explode(word_shingles(words(text_col), n)).alias("gram")
    )
    return tr.join(probe, "gram").select(set_col, id_col).distinct()


# PII redaction patterns — deliberately restricted to a regex dialect subset
# (no backreferences, no lookaround) that Java's regex (Spark) and RE2
# (DuckDB, Go tooling) interpret identically, so redaction is verifiable
# across engines byte-for-byte.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    "ipv4": (r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
}


def redact_pii(col: Column | str) -> Column:
    """Map-only PII scrub: replace email / phone / IPv4 literals with typed
    placeholder tokens — the standard pre-training redaction stage. Pure
    JVM ``regexp_replace`` chain (one pass per pattern, fused into the scan
    projection; no Python, no shuffle). Order matters and is fixed
    (email → phone → ipv4): emails contain dots but the ipv4 pattern can't
    match inside ``<EMAIL>`` after replacement."""
    c = F.col(col) if isinstance(col, str) else col
    for pattern, token in PII_PATTERNS.values():
        c = F.regexp_replace(c, pattern, token)
    return c


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-kind PII match counts (pre-redaction) as named columns."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        f"n_{kind}": F.regexp_count(c, F.lit(pattern))
        for kind, (pattern, _) in PII_PATTERNS.items()
    }


# ---------------------------------------------------------------------------
# Corpus term statistics: TF-IDF keyword extraction + corpus heavy hitters.
# The two-level aggregation (doc-term, then term) is the canonical vocabulary
# pipeline shape: explode stays inside the scan stage, both groupBys get
# map-side partial aggregation, and the term-frequency table is reused by
# both operators.
# ---------------------------------------------------------------------------

# Word tokens for corpus statistics: lowercase alphanumeric runs. Kept
# deliberately simple so the definition is portable across engines (Java
# regex == RE2 == DuckDB for this class).
TFIDF_WORD_RE = r"[a-z0-9]+"


def corpus_stopwords() -> list[str]:
    """The union of the language-marker lexicons — the same list
    quality_features treats as stopwords, reused for term statistics."""
    return sorted({m for ms in LANG_MARKERS.values() for m in ms})


def doc_terms(
    df: DataFrame, *, id_col: str, text_col: str, min_term_len: int = 3
) -> DataFrame:
    """(id, term) rows: lowercase word tokens, stopwords and short tokens
    dropped. The explode happens in the same stage as the scan (no shuffle);
    downstream aggregations decide the partitioning."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TFIDF_WORD_RE), 0)
        ).alias("term"),
    )
    return toks.filter(
        (F.length("term") >= min_term_len) & ~F.col("term").isin(corpus_stopwords())
    )


def term_frequencies(
    df: DataFrame, *, id_col: str, text_col: str, min_term_len: int = 3
) -> DataFrame:
    """(id, term, tf) — per-document term counts. One shuffle on
    (id, term); partial aggregation collapses repeated terms map-side, so
    shuffle volume is bounded by per-doc distinct terms, not token count."""
    return (
        doc_terms(df, id_col=id_col, text_col=text_col, min_term_len=min_term_len)
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_top_terms(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_term_len: int = 3,
) -> DataFrame:
    """Per-document top-k characteristic terms by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1).

    Ranking is by the INTEGER triple (tf DESC, df ASC, term ASC) — NOT the
    float score's total order (a low-tf/very-rare term can out-score a
    high-tf/common one yet rank lower here). The deliberate trade: the
    integer triple is a well-defined characteristic-term ordering of its
    own, exactly reproducible in any engine because no float comparison
    decides the cut; the float tfidf score is emitted (rounded) for
    consumers, never compared. The oracle ranks by the same triple.

    Plan shape at scale: groupBy(id, term) → groupBy(term) for document
    frequency → shuffle join back on term → per-doc window. The df table is
    vocabulary-sized (≪ corpus), the join is term-keyed on both sides, and
    the window partitions by document — no global sort anywhere.
    """
    from pyspark.sql.window import Window

    tf = term_frequencies(df, id_col=id_col, text_col=text_col, min_term_len=min_term_len)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_term"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0)) / (F.col("df_term") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df_term").asc(), F.col("term").asc()
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select(id_col, "term", "tf", "df_term", "tfidf", "term_rank")
    )


def term_heavy_hitters(
    df: DataFrame, *, id_col: str, text_col: str, k: int = 20, min_term_len: int = 3
) -> DataFrame:
    """Exact corpus-wide top-k terms by total occurrences (ties broken by
    term). Catalyst plans the ORDER BY + LIMIT as TakeOrderedAndProject:
    each partition keeps its local top-k, the driver merges k·p rows — no
    global sort, safe at any corpus size. Counts are integers, so the top-k
    boundary is engine-exact."""
    tf = term_frequencies(df, id_col=id_col, text_col=text_col, min_term_len=min_term_len)
    totals = tf.groupBy("term").agg(
        F.sum("tf").alias("total_tf"), F.count(F.lit(1)).alias("df_term")
    )
    return totals.orderBy(F.col("total_tf").desc(), F.col("term").asc()).limit(k)


def vocab_coverage(
    docs: DataFrame,
    *,
    text_col: str = "text",
    targets: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Token-mass coverage curve: rank the vocabulary by frequency and
    report, for each target percentage, the smallest rank whose cumulative
    token mass reaches it — "how many term types cover 50/90/99% of all
    tokens", the Zipf-shape diagnostic that sizes vocabularies and
    estimates the tail a tokenizer must absorb.

    Scale shape — the cumulative-mass scan is the same two-level
    distributed prefix sum as pps_systematic_sample, NOT a global-ORDER-BY
    window (the vocabulary of a 100 TB web corpus is billions of types):

    1. term counts bucket by ``63 - floor(log2(count))`` — bucket order is
       count order between buckets, and equal counts can never straddle a
       bucket boundary, so (bucket ASC, count DESC, term ASC) is exactly
       the global rank order;
    2. per-bucket token/type totals form a <= 64-row frame (count domain
       is int64); offsets and the grand totals come from windows over THAT
       frame;
    3. within-bucket running sums/row_numbers partition by bucket —
       parallel, never corpus-wide.

    ``floor(log2(count))`` of an integer is whole-bit floor-stable across
    engines (the operators/retrieval.py gap argument). The crossing test
    is the INTEGER inequality ``cum*100 >= target*T`` against
    ``prev*100 < target*T`` — each target is crossed by exactly one rank,
    no float coverage ratio ever materializes.

    Returns one row per target: (target_pct, rank, cum_tokens,
    total_tokens, vocab_size), target-ascending.
    """
    toks = docs.select(
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), WS_SPLIT)
        ).alias("term")
    )
    cnt = toks.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    bkt = F.expr("63 - CAST(floor(log2(CAST(cnt AS DOUBLE))) AS BIGINT)")
    c = cnt.select("term", "cnt", bkt.alias("__bkt"))
    bs = c.groupBy("__bkt").agg(
        F.sum("cnt").alias("__bw"), F.count(F.lit(1)).alias("__bn")
    )
    w_off = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    w_tot = Window.orderBy("__bkt").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = bs.select(
        "__bkt",
        F.coalesce(F.sum("__bw").over(w_off), F.lit(0)).cast("long").alias("__toff"),
        F.coalesce(F.sum("__bn").over(w_off), F.lit(0)).cast("long").alias("__noff"),
        F.sum("__bw").over(w_tot).cast("long").alias("__T"),
        F.sum("__bn").over(w_tot).cast("long").alias("__V"),
    )
    w_in = (
        Window.partitionBy("__bkt")
        .orderBy(F.col("cnt").desc(), F.col("term").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = (
        c.join(offs, "__bkt")
        .select(
            "term",
            "cnt",
            (F.col("__noff") + F.row_number().over(w_in)).cast("long").alias("rank"),
            (F.col("__toff") + F.sum("cnt").over(w_in)).cast("long").alias("cum"),
            "__T",
            "__V",
        )
    )
    tgt_arr = F.array(*[F.lit(int(t)).cast("long") for t in targets])
    crossed = ranked.select(
        "rank",
        F.col("cum").alias("cum_tokens"),
        F.col("__T").alias("total_tokens"),
        F.col("__V").alias("vocab_size"),
        F.filter(
            tgt_arr,
            lambda t: (F.col("cum") * 100 >= t * F.col("__T"))
            & ((F.col("cum") - F.col("cnt")) * 100 < t * F.col("__T")),
        ).alias("__crossed"),
    ).filter(F.size("__crossed") > 0)
    return crossed.select(
        F.explode("__crossed").alias("target_pct"),
        "rank",
        "cum_tokens",
        "total_tokens",
        "vocab_size",
    ).orderBy("target_pct")


# Unicode script ranges for the mixed-script profile. \x{...} hex escapes
# parse identically in Java regex and RE2, so ONE range table serves both
# the Spark expressions and any SQL oracle. Coarse BMP blocks — a real
# pipeline extends the table, the plumbing is identical.
SCRIPT_RANGES: dict[str, str] = {
    "latin": r"[A-Za-z\x{00C0}-\x{024F}]",
    "cyrillic": r"[\x{0400}-\x{04FF}]",
    "greek": r"[\x{0370}-\x{03FF}]",
    "arabic": r"[\x{0600}-\x{06FF}]",
    "cjk": r"[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}]",
}
SCRIPT_MIN_SHARE_DEN = 20  # a script "counts" at >= 1/20 of letter mass


def _all_of(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def script_profile(df: DataFrame, text_col: str, *extra_cols: str) -> DataFrame:
    """Per-document Unicode script profile: letter counts per coarse
    script block, the dominant script (fixed precedence tie-break), and
    ``mixed_script`` — true when >= 2 scripts each hold >= 5% of the
    letter mass (integer cross-multiplication, no ratio floats). The
    homoglyph/obfuscation signal: spam swaps Latin letters for Cyrillic
    lookalikes, and a corpus claiming lang='en' with a Cyrillic-heavy
    tail has a labeling or crawling problem. Map-only regexp counts —
    a zero-shuffle scan-stage pass at any scale."""
    counts = {
        name: F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(rx), 0)
        ).cast("long")
        for name, rx in SCRIPT_RANGES.items()
    }
    n_digit = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"[0-9]"), 0)
    ).cast("long")
    letters = None
    for c in counts.values():
        letters = c if letters is None else letters + c
    dominant = F.lit("none")
    # reversed precedence chain: earlier names win ties
    for name in reversed(list(SCRIPT_RANGES)):
        c = counts[name]
        is_max = (c > 0) & _all_of(
            [c >= counts[o] for o in SCRIPT_RANGES if o != name]
        )
        dominant = F.when(is_max, F.lit(name)).otherwise(dominant)
    n_significant = None
    for c in counts.values():
        sig = (c * SCRIPT_MIN_SHARE_DEN >= letters).cast("long")
        n_significant = sig if n_significant is None else n_significant + sig
    return df.select(
        *extra_cols,
        F.length(F.col(text_col)).cast("long").alias("n_chars_total"),
        *[c.alias(f"n_{name}") for name, c in counts.items()],
        n_digit.alias("n_digit"),
        letters.alias("n_letters"),
        dominant.alias("dominant_script"),
        ((letters > 0) & (n_significant >= 2)).alias("mixed_script"),
    )

