"""Scaling-exponent probe: how the expensive operators grow with the corpus,
judged on load-independent counts with wall time beside them.

The probe writes two fixture directories from a base fixture: one copy and
N disjoint copies, under the base's table names, so every registered query
reads either one through ``catalog.load_table``. Each row then runs once
per directory (after one unrecorded warm-up run on the 1-copy directory)
through ``bench.run_query``, the fleet benchmark's record: jobs, stages,
tasks, executor CPU and bytes from the Spark status store. A row's exponent
for a metric is ``log(metric_Nx / metric_1x) / log(N)``; 1.0 is linear.

Replica construction (copy 0 is the base fixture, unchanged):

- TPC-H tables and ``events``: key columns offset by ``k * NODE_OFF`` (TPC-H)
  or ``k * DOC_OFF`` (event ids) in copy k. Foreign keys into ``nation``
  keep their values and ``region``/``nation`` are written once, as TPC-H
  scales them. The part<->supplier graph is N disjoint copies, and BFS from
  nation 0's suppliers is seeded in every copy.
- ``documents``: doc ids offset by ``k * DOC_OFF``; every token that
  survives the corpus tokenizer (3+ characters, not a stopword) gets the
  suffix ``x{k}``, so shingles and vocabularies are disjoint across copies
  and the near-dup structure replicates instead of piling up as exact
  duplicates. Short tokens and stopwords stay as they are, so a dropped
  token is not resurrected ('the' -> 'thex3').
- ``embeddings``: vec ids offset; copy k multiplies each dimension by a
  per-copy random sign (a Rademacher pattern). Norms and within-copy
  cosines are preserved exactly; cross-copy cosines concentrate near 0.

A row is its registered query when that query runs the operator with the
same parameters along the same scaled axis (``REGISTRY_ROWS``). The rest
(``OPERATOR_ROWS``) measure a setting no registered query runs: a fixed
eval set, an LSH dial held at constant bucket occupancy (planes grow with
log2 N), or one fixed micro-batch probed against the state an ingest
accumulates, built with the ingest's own helpers. Their setup (state
tables, cluster ids, the batch) runs before the record's clock.

The gate: a row passes when its executor-CPU exponent and its wall
exponent are both at most ``LINEAR_TOLERANCE``. ``ANTI_ROWS`` are measured
to witness a known super-linear growth and are not gated. The exit code is
1 when any gated row fails or errors.

Usage: python scaling_probe.py [--sf DIR] [--copies N] [--ops a,b,...]
Prints one JSON line per row and a summary line. ``SPARK_GRAFT_CPUS`` sets
the local core count and ``SPARK_GRAFT_DRIVER_MEM`` the driver heap.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402
from ibis_flink_example_spark.catalog import (  # noqa: E402
    FIXTURE_TABLES,
    drop_table_and_location,
    load_table,
    table_path,
)
from perfbench.host import cpu_times, steal_pct  # noqa: E402

NODE_OFF = 50_000_000
DOC_OFF = 10_000_000
# A measured exponent at or under this counts as "holds linear scaling".
# Slack above 1.0 absorbs fixed per-job overhead that has not fully
# amortized at these (seconds-scale) run times.
LINEAR_TOLERANCE = 1.15
# Measured to witness a known super-linear growth, so not gated: the
# uncapped 16x4-bit pHash pair join has a 16-value chunk domain, so every
# band bucket's occupancy grows with the corpus.
ANTI_ROWS = {"phash_pair_join_uncapped"}
# Record fields an exponent is reported for; "sec" is the wall time. The
# record's output bytes are left out: the noop sink writes none, so they
# read 0 on every row.
METRICS = ("executor_cpu_s", "input_bytes", "shuffle_write_bytes", "tasks", "sec")
GATED = ("executor_cpu_s", "sec")

# Per-copy key offsets: copy k adds k * offset to each listed column.
KEY_OFFSETS = {
    "customer": {"c_custkey": NODE_OFF},
    "supplier": {"s_suppkey": NODE_OFF},
    "part": {"p_partkey": NODE_OFF},
    "orders": {"o_orderkey": NODE_OFF, "o_custkey": NODE_OFF},
    "lineitem": {"l_orderkey": NODE_OFF, "l_partkey": NODE_OFF, "l_suppkey": NODE_OFF},
    "events": {"event_id": DOC_OFF, "user_id": DOC_OFF},
    "documents": {"doc_id": DOC_OFF},
    "embeddings": {"vec_id": DOC_OFF},
}

REGISTRY_ROWS = {
    "pagerank_5iter": "pagerank_part_supplier",
    "bfs_4hop": "bfs_reach_from_nation0",
    "minhash_dedup": "dedup_minhash",
    "top_pc_gram": "embedding_top_pc",
    "bm25_topk": "bm25_topk_docs",
    "pps_systematic_sample": "pps_systematic_sample",
    "posting_lists": "posting_lists_top_terms",
    "rendezvous_shard_plan": "rendezvous_shard_plan",
    "blockhash_signatures": "image_blockhash_signatures",
    "epoch_shuffle_plan": "epoch_shuffle_plan",
    "roc_auc": "roc_auc_lang_score",
    "phash_pair_join": "image_phash_neardup_pairs_capped",
    "phash_pair_join_uncapped": "image_phash_neardup_pairs",
    "triangle_count": "triangle_count_copurchase",
    "vocab_coverage": "vocab_coverage_curve",
    "priority_sample": "priority_sample_topk",
    "ks_two_sample": "ks_value_by_bucket",
    "gopher_flags": "gopher_quality_flags",
    "hard_negative_mining": "hard_negative_mining",
    "sparse_cosine_pairs": "sparse_cosine_neardup_pairs",
    "bigram_surprisal": "doc_bigram_surprisal",
    "substring_dup_runs": "dedup_substring_runs",
    "substring_dup_attribution": "dedup_substring_attribution",
    "kmeans_lloyd": "kmeans_assign_embeddings",
}


# -- replica builder ----------------------------------------------------------


def _suffix_tokens(texts: pa.ChunkedArray, k: int) -> pa.Array:
    from ibis_flink_example_spark.operators.text import corpus_stopwords

    stop = set(corpus_stopwords())
    return pa.array(
        " ".join(w + f"x{k}" if len(w) >= 3 and w not in stop else w for w in t.split(" "))
        for t in texts.to_pylist()
    )


def _sign_flip(vectors: pa.ChunkedArray, k: int) -> pa.Array:
    arr = vectors.combine_chunks()
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    dim = len(flat) // len(arr)
    signs = np.random.default_rng(k).choice(np.array([-1.0, 1.0], dtype=flat.dtype), dim)
    flipped = (flat.reshape(-1, dim) * signs).ravel()
    return pa.ListArray.from_arrays(arr.offsets, pa.array(flipped, arr.type.value_type))


def _copy(tbl: pa.Table, name: str, k: int) -> pa.Table:
    """Copy ``k`` (>= 1) of fixture table ``name``."""
    for col, off in KEY_OFFSETS[name].items():
        i = tbl.schema.get_field_index(col)
        shift = pa.scalar(k * off, tbl.schema.field(col).type)
        tbl = tbl.set_column(i, col, pc.add(tbl[col], shift))
    if name == "documents":
        text = _suffix_tokens(tbl["text"], k)
        tbl = tbl.set_column(tbl.schema.get_field_index("text"), "text", text)
        i = tbl.schema.get_field_index("n_chars")
        tbl = tbl.set_column(i, "n_chars", pc.cast(pc.utf8_length(text), pa.int64()))
    if name == "embeddings":
        i = tbl.schema.get_field_index("embedding")
        tbl = tbl.set_column(i, "embedding", _sign_flip(tbl["embedding"], k))
    return tbl


def build_replica(src_dir: str, out_dir: str, copies: int) -> str:
    """Write ``copies`` disjoint copies of every fixture table of
    ``src_dir`` to ``out_dir`` (one row group per copy); return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in FIXTURE_TABLES:
        if not os.path.exists(table_path(src_dir, name)):
            continue
        base = pq.read_table(table_path(src_dir, name))
        with pq.ParquetWriter(table_path(out_dir, name), base.schema) as w:
            w.write_table(base)
            for k in range(1, copies if name in KEY_OFFSETS else 1):
                w.write_table(_copy(base, name, k))
    return out_dir


# -- operator rows --------------------------------------------------------------
# Each entry is prepare(spark, sf_dir, copies) -> build(spark, sf_dir): the
# prepare step runs outside the record, the build is what the record times.

_STATE_TABLES: set[str] = set()


def _state_table(spark, row: str, copies: int, what: str) -> str:
    t = f"scaling_probe_{row}_{copies}x_{what}"
    drop_table_and_location(spark, t)
    _STATE_TABLES.add(t)
    return t


def _lsh_planes(copies: int) -> int:
    """Hyperplanes holding Hamming-1 bucket occupancy constant: 6 at one
    copy, one more per doubling of the corpus."""
    return 6 + math.ceil(math.log2(copies))


def _is_batch(col: str):
    """The fixed arriving batch of the state probes: ~1% of copy 0."""
    return (F.col(col) < DOC_OFF) & (F.col(col) % 97 == 0)


def _decontaminate(spark, sf_dir, copies):
    """13-gram decontamination with the eval set FIXED at copy 0's eval
    docs while the train side scales (eval sets do not grow with the
    corpus; the registered query's eval side grows with it)."""
    from ibis_flink_example_spark.operators.text import decontaminate_ngram_overlap

    def build(spark, sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        train = docs.filter((F.col("doc_id") % DOC_OFF) % 97 != 0)
        return decontaminate_ngram_overlap(
            train, docs.filter(_is_batch("doc_id")), id_col="doc_id", text_col="text", n=13
        )

    return build


def _semdedup_lsh(spark, sf_dir, copies):
    from ibis_flink_example_spark.operators.similarity import lsh_semantic_pairs

    return lambda spark, sf_dir: lsh_semantic_pairs(
        load_table(spark, sf_dir, "embeddings"),
        id_col="vec_id", vec_col="embedding", dim=64, n_planes=_lsh_planes(copies),
    )


def _bitext_margin(spark, sf_dir, copies):
    """Margin mining under the same constant-occupancy dial; the A/B split
    is vec_id parity, so both sides replicate with the corpus."""
    from ibis_flink_example_spark.operators.similarity import margin_mined_pairs

    return lambda spark, sf_dir: margin_mined_pairs(
        load_table(spark, sf_dir, "embeddings").withColumn("__isa", F.col("vec_id") % 2 == 0),
        id_col="vec_id", vec_col="embedding", dim=64, is_a_col="__isa",
        n_planes=_lsh_planes(copies),
    )


def _semdedup_kmeans(spark, sf_dir, copies):
    """The capped within-cluster pair join of semdedup_kmeans at constant
    cluster occupancy: cluster ids come from one k=8 Lloyd run on copy 0,
    offset per copy (a sign pattern is an isometry, so each copy clusters
    like copy 0), i.e. k = 8 * copies."""
    from ibis_flink_example_spark.operators.clustering import kmeans_assign
    from ibis_flink_example_spark.operators.similarity import embedding_neardup_pairs

    em = load_table(spark, sf_dir, "embeddings")
    base = kmeans_assign(
        em.filter(F.col("vec_id") < DOC_OFF), id_col="vec_id", vec_col="embedding",
        dim=64, k=8, iters=4,
    ).select(F.col("vec_id").alias("__base"), "cluster_id")
    blocked = em.join(base, F.col("vec_id") % DOC_OFF == F.col("__base")).select(
        "vec_id", "embedding",
        ((F.col("vec_id") / DOC_OFF).cast("long") * 8 + F.col("cluster_id")).alias("cluster_id"),
    ).localCheckpoint(eager=True)
    return lambda spark, sf_dir: embedding_neardup_pairs(
        blocked, id_col="vec_id", vec_col="embedding", block_col="cluster_id",
        threshold=0.35, max_rows_per_block=50_000,
    )


def _neardup_state(spark, sf_dir, copies):
    """streaming_neardup_ingest's per-batch probe: the fixed batch's hashed
    3-gram shingles against the accepted corpus's shingle and size state."""
    from ibis_flink_example_spark.operators.dedup import shingle_hash_rows, shingle_match_ids
    from ibis_flink_example_spark.streaming.ingest import append_bucketed

    docs = load_table(spark, sf_dir, "documents")
    sh_t = _state_table(spark, "neardup", copies, "sh")
    sz_t = _state_table(spark, "neardup", copies, "sizes")
    sh = shingle_hash_rows(
        docs.filter(~_is_batch("doc_id")), id_col="doc_id", text_col="text", n=3,
        hash_col="shingle",
    ).distinct()
    append_bucketed(sh, sh_t, "shingle")
    n_shingles = F.count(F.lit(1)).cast("long").alias("n_shingles")
    sizes = spark.table(sh_t).groupBy("doc_id").agg(n_shingles)
    append_bucketed(sizes, sz_t, "doc_id")
    sh_b = shingle_hash_rows(
        docs.filter(_is_batch("doc_id")), id_col="doc_id", text_col="text", n=3,
        hash_col="shingle",
    ).distinct().localCheckpoint(eager=True)
    sizes_b = sh_b.groupBy("doc_id").agg(n_shingles)
    return lambda spark, sf_dir: shingle_match_ids(
        sh_b, spark.table(sh_t), id_col="doc_id", new_sizes=sizes_b,
        pool_sizes=spark.table(sz_t),
    )


def _minhash_state(spark, sf_dir, copies):
    """streaming_minhash_neardup_ingest's per-batch candidate+verify pass:
    the fixed batch's band rows against the band state (hot buckets
    capped), exact 3-gram Jaccard >= 1/2 against the shingle state."""
    from ibis_flink_example_spark.operators.dedup import (
        drop_hot_keys,
        md5_minhash_band_rows,
        word_shingles,
        words,
    )
    from ibis_flink_example_spark.streaming.ingest import append_bucketed

    def shingles(docs):
        sh = F.explode(word_shingles(words("text"), 3)).alias("shingle")
        return docs.select("doc_id", sh).distinct()

    def bands(sh):
        return md5_minhash_band_rows(
            sh, id_col="doc_id", shingle_col="shingle", carry_count=True, assume_distinct=True
        )

    docs = load_table(spark, sf_dir, "documents")
    sh_t = _state_table(spark, "minhash", copies, "sh")
    bd_t = _state_table(spark, "minhash", copies, "bands")
    append_bucketed(shingles(docs.filter(~_is_batch("doc_id"))), sh_t, "shingle")
    append_bucketed(bands(spark.table(sh_t)), bd_t, "band_key")
    sh_b = shingles(docs.filter(_is_batch("doc_id"))).localCheckpoint(eager=True)
    bd_b = bands(sh_b).localCheckpoint(eager=True)

    def build(spark, sf_dir):
        probe = bd_b.select(
            F.col("doc_id").alias("id_n"), F.col("n_shingles").alias("ns"), "band_idx", "band_key"
        )
        pool = drop_hot_keys(
            spark.table(bd_t).select(
                F.col("doc_id").alias("id_o"),
                F.col("n_shingles").alias("no"),
                "band_idx",
                "band_key",
            ),
            ["band_idx", "band_key"], max_rows_per_key=50_000, what="probe band bucket",
        )
        cand = (
            F.broadcast(probe).join(pool, ["band_idx", "band_key"])
            .select("id_n", "id_o", "ns", "no")
            .distinct()
        )
        nn = sh_b.select(F.col("doc_id").alias("id_n"), "shingle").join(
            F.broadcast(cand.select("id_n")), "id_n", "left_semi"
        )
        oo = spark.table(sh_t).select(F.col("doc_id").alias("id_o"), "shingle").join(
            F.broadcast(cand.select("id_o")), "id_o", "left_semi"
        )
        inter = (
            nn.join(oo, "shingle")
            .join(F.broadcast(cand.select("id_n", "id_o")), ["id_n", "id_o"], "left_semi")
            .groupBy("id_n", "id_o")
            .agg(F.count(F.lit(1)).alias("nc"))
        )
        return (
            inter.join(F.broadcast(cand), ["id_n", "id_o"])
            .filter(F.expr("2 * nc >= ns + no - nc"))
            .select("id_n")
            .distinct()
        )

    return build


def _semdedup_state(spark, sf_dir, copies):
    """streaming_semdedup_ingest's per-batch probe+verify pass: the fixed
    batch's 1 + 6 Hamming-1 probes of 6 tables x 6 planes against the
    bucket state (hot buckets capped), exact cos6 >= 350000 against the
    vector state. Fixed planes: occupancy grows with the state."""
    from ibis_flink_example_spark.operators.dedup import drop_hot_keys
    from ibis_flink_example_spark.operators.similarity import (
        dot,
        l2_norm,
        multitable_signature_structs,
        random_hyperplanes,
    )
    from ibis_flink_example_spark.streaming.ingest import append_bucketed

    tables = [random_hyperplanes(64, 6, 42 + 1000 * t) for t in range(6)]

    def sigs(em):
        return em.select(
            "vec_id",
            F.explode(multitable_signature_structs(F.col("embedding"), tables)).alias("__tb"),
        ).select("vec_id", F.col("__tb.t").alias("t"), F.col("__tb.b").alias("b"))

    def vecs(em):
        return em.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
            l2_norm(F.col("embedding")).alias("nrm"),
        )

    em = load_table(spark, sf_dir, "embeddings")
    bkt_t = _state_table(spark, "semdedup", copies, "buckets")
    vec_t = _state_table(spark, "semdedup", copies, "vecs")
    append_bucketed(sigs(em.filter(~_is_batch("vec_id"))), bkt_t, "b")
    append_bucketed(vecs(em.filter(~_is_batch("vec_id"))), vec_t, "vec_id")
    sg_b = sigs(em.filter(_is_batch("vec_id"))).localCheckpoint(eager=True)
    va = vecs(em.filter(_is_batch("vec_id"))).select(
        F.col("vec_id").alias("id_n"), F.col("vec").alias("__vn"), F.col("nrm").alias("__nn")
    ).localCheckpoint(eager=True)

    def build(spark, sf_dir):
        flips = [F.col("b").bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(6)]
        probe = sg_b.select(
            F.col("vec_id").alias("id_n"), "t", F.explode(F.array(F.col("b"), *flips)).alias("b")
        )
        pool = drop_hot_keys(
            spark.table(bkt_t).select(F.col("vec_id").alias("id_o"), "t", "b"),
            ["t", "b"], max_rows_per_key=50_000, what="probe semdedup bucket",
        )
        cand = probe.join(pool, ["t", "b"]).select("id_n", "id_o").distinct()
        vb = spark.table(vec_t).select(
            F.col("vec_id").alias("id_o"), F.col("vec").alias("__vo"), F.col("nrm").alias("__no")
        )
        cos = dot(F.col("__vn"), F.col("__vo")) / (F.col("__nn") * F.col("__no"))
        cos6 = F.round(cos * 1_000_000, 0)
        return (
            F.broadcast(cand).join(vb, "id_o").join(F.broadcast(va), "id_n")
            .filter(cos6.cast("long") >= 350_000)
            .select("id_n")
            .distinct()
        )

    return build


OPERATOR_ROWS = {
    "decontaminate_13gram": _decontaminate,
    "semdedup_lsh_pairs": _semdedup_lsh,
    "semdedup_kmeans_pairs": _semdedup_kmeans,
    "bitext_margin_mining": _bitext_margin,
    "neardup_state_probe": _neardup_state,
    "minhash_ingest_state_probe": _minhash_state,
    "semdedup_ingest_state_probe": _semdedup_state,
}
ROWS = (*REGISTRY_ROWS, *OPERATOR_ROWS)


# -- measurement -------------------------------------------------------------------


def _exponent(a: float, b: float, copies: int) -> float | None:
    """Growth exponent of a metric from 1 to ``copies`` copies; None when
    either side reads zero (a metric the row does not move)."""
    return round(math.log(b / a) / math.log(copies), 3) if a > 0 and b > 0 else None


def measure(spark, row: str, dirs: tuple[str, str], copies: int) -> dict:
    """One row's record: its ``bench.run_query`` record on the 1-copy and
    the ``copies``-copy directory, and each metric's exponent."""
    query = REGISTRY_ROWS.get(row)
    stat0 = cpu_times()
    recs = []
    for k, sf_dir in zip((1, copies), dirs):
        build = None if query else OPERATOR_ROWS[row](spark, sf_dir, k)
        if k == 1:  # warm-up: JIT and codegen caches, footer reads
            bench.run_query(spark, sf_dir, query or row, build)
        recs.append(bench.run_query(spark, sf_dir, query or row, build))
    exp = {m: _exponent(recs[0][m], recs[1][m], copies) for m in METRICS}
    out = {
        "row": row,
        "runs": query or "operator",
        "copies": copies,
        "1x": {m: recs[0][m] for m in METRICS},
        f"{copies}x": {m: recs[1][m] for m in METRICS},
        "exponent": exp,
        "steal_pct": round(steal_pct(stat0, cpu_times()), 2),
    }
    if row in ANTI_ROWS:
        out["anti_row"] = True
    else:
        out["passes"] = all(exp[m] is not None and exp[m] <= LINEAR_TOLERANCE for m in GATED)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--ops", default="", help="comma-separated subset of rows (default: all)")
    args = ap.parse_args()
    if args.copies < 2:
        ap.error("--copies must be >= 2 (the probe compares 1 copy with N)")
    rows = [x.strip() for x in args.ops.split(",") if x.strip()] or list(ROWS)
    unknown = sorted(set(rows) - set(ROWS))
    if unknown:
        ap.error(f"unknown --ops: {unknown} (choose from {list(ROWS)})")

    from ibis_flink_example_spark.session import apply_session_conf, get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = get_spark(app_name="scaling-probe", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("WARN")
    apply_session_conf(spark)
    work = tempfile.mkdtemp(prefix="scaling_probe_")
    try:
        dirs = (
            build_replica(args.sf, os.path.join(work, "1x"), 1),
            build_replica(args.sf, os.path.join(work, f"{args.copies}x"), args.copies),
        )
        results, failed = {}, []
        for row in rows:
            try:
                rec = measure(spark, row, dirs, args.copies)
            except Exception as exc:  # reported as not reproduced, and fails the gate
                rec = {"row": row, "error": f"{type(exc).__name__}: {exc}"[:500]}
            if not rec.get("passes", row in ANTI_ROWS):
                failed.append(row)
            results[row] = rec
            print(json.dumps(rec), flush=True)
        summary = {
            "sf": args.sf,
            "copies": args.copies,
            "cpus": cpus,
            "linear_tolerance": LINEAR_TOLERANCE,
            "failed": failed,
            "holds_linear": not failed,
        }
        print(json.dumps(summary), flush=True)
        return 1 if failed else 0
    finally:
        for t in _STATE_TABLES:
            drop_table_and_location(spark, t)
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
