"""Query registry: every implemented operator from SURVEY.md §2 as a named
(spark_query, oracle_sql) pair consumed by ``__spark_entry__.py``.

Conventions (driver contract):
- each query callable takes ``(spark, sf_dir)`` and returns a DataFrame;
- every computed column is aliased IDENTICALLY in the Spark code and the
  DuckDB oracle SQL (the driver sorts columns by name before value-hashing);
- double aggregates go through DECIMAL(18,2) (functions/exact.py) so values
  are bit-identical across engines and partition orders;
- outputs avoid nondeterminism: no arbitrary-row picks, ties broken by keys.

Registration: use the ``@query(name, oracle=...)`` decorator; ``QUERIES`` /
``ORACLES`` are the assembled dicts.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
# Names registered with oracle=None — genuinely non-SQL-expressible operators
# (the driver records a weaker rows-only check for these; tests enforce the
# set stays explicit and small).
NON_SQL_EXPRESSIBLE: set[str] = set()


def query(name: str, oracle: str | None = None):
    """Register a query; ``oracle=None`` marks a non-SQL-expressible op
    (driver falls back to a rows-only check)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        else:
            NON_SQL_EXPRESSIBLE.add(name)
        return fn

    return deco


# Import side-effect modules that register queries.
from ibis_flink_example_spark import queries_reference  # noqa: E402,F401
from ibis_flink_example_spark import queries_relational  # noqa: E402,F401
from ibis_flink_example_spark import queries_tpch  # noqa: E402,F401
from ibis_flink_example_spark import queries_llm  # noqa: E402,F401
from ibis_flink_example_spark import queries_sampling  # noqa: E402,F401
from ibis_flink_example_spark import queries_streaming  # noqa: E402,F401
from ibis_flink_example_spark import queries_warehouse  # noqa: E402,F401
from ibis_flink_example_spark import queries_analytics  # noqa: E402,F401

# The external correctness harness verifies the FIRST 50 registry entries
# against their DuckDB oracles, so registry order is a verification budget.
# Rotation policy: the two pinned sentinels come first, then every entry of
# the previous rotation's deferral queue, then the queries whose external
# rows are stalest. Whatever does not fit in the 50 slots goes into
# _NEXT_ROUND_FIRST_ROWS, and the next rotation seats it right after the
# sentinels. Entries past the window fall back to registration order.
_DRIVER_PRIORITY: tuple[str, ...] = (
    # pinned sentinels (regression tripwires)
    "over_range_sum_10s",
    "dedup_exact",
    # the previous rotation's deferral queue, seated in full
    "filtered_aggs",
    "join_null_safe",
    "posexplode_priorities",
    "sample_hash_10pct",
    "window_distribution",
    "window_lag_lead",
    # stalest external rows
    "slide_5m_1m",
    "session_30m",
    "streaming_static_join",
    "warehouse_roundtrip",
    "state_table_retention",
    "streaming_semdedup_ingest",
    "streaming_minhash_neardup_ingest",
    "decontaminate_ngram",
    "text_repetition",
    "text_fingerprint",
    "text_winnow_sketch",
    "text_pii_redact",
    "text_tfidf_top_terms",
    "term_heavy_hitters",
    "token_length_histogram",
    "strip_high_df_terms",
    "semantic_dedup",
    "exists_subquery_customers",
    "ngram_jaccard_pairs",
    "simhash_exact_dup_coverage",
    "embedding_quantize",
    "embedding_centroid_by_label",
    "cosine_topk_lsh",
    "image_blockhash_signatures",
    "image_phash_neardup_pairs",
    "rrf_hybrid_retrieval",
    "roc_auc_lang_score",
    "roc_threshold_sweep",
    "streaming_neardup_ingest",
    "streaming_funnel",
    "chunk_documents_200_50",
    "pack_sequences_2k",
    "pps_systematic_sample",
    "epoch_shuffle_plan",
    "multimodal_meta",
    "multimodal_resize_plan",
    "agg_salted_skew",
    "asof_join_clicks",
    "range_join_events",
    "over_range_sum_1h",
    "cohort_retention_weekly",
    "event_transitions",
)


# Queries that did not fit in this rotation's 50-slot window: the next
# rotation seats these first, right after the sentinels. Tests check that
# every entry is registered, oracle-bearing and outside the current window.
_NEXT_ROUND_FIRST_ROWS: tuple[str, ...] = (
    "events_anomaly_zscore",
    "funnel_view_click_purchase",
    "csv_roundtrip",
    "jsonl_roundtrip",
    "merge_upsert_customers",
    "data_quality_audit",
)


def _apply_driver_priority() -> None:
    prio = [n for n in _DRIVER_PRIORITY if n in QUERIES]
    rest = [n for n in QUERIES if n not in set(prio)]
    order = prio + rest
    snapshot_q, snapshot_o = dict(QUERIES), dict(ORACLES)
    QUERIES.clear()
    ORACLES.clear()
    QUERIES.update({n: snapshot_q[n] for n in order})
    ORACLES.update({n: snapshot_o[n] for n in order if n in snapshot_o})


_apply_driver_priority()
