"""Behavioral tests for the LLM-pipeline operators beyond the oracle gate:
dedup actually removes planted duplicates, MinHash finds planted near-dups,
LSH top-k recall against brute force, multimodal stage plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from ibis_flink_example_spark.catalog import load_table
from ibis_flink_example_spark.operators import dedup as D
from ibis_flink_example_spark.operators import multimodal as M
from ibis_flink_example_spark.operators import similarity as S


def _docs_with_planted_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    # exact dup (different id), near dup (one word changed), unrelated doc
    base = docs.filter(F.col("doc_id") == 0).select("text").first()["text"]
    words = base.split()
    near = " ".join(words[:-1] + ["zzz"])
    extra = spark.createDataFrame(
        [
            (100001, base, "en", "synth", len(base)),
            (100002, near, "en", "synth", len(near)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return docs.unionByName(extra)


def test_exact_dedup_removes_planted_duplicate(spark, sf_dir):
    docs = _docs_with_planted_dups(spark, sf_dir)
    out = D.exact_dedup(docs, text_col="text", id_col="doc_id")
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 0 in ids  # min-id survivor
    assert 100001 not in ids  # exact dup removed
    assert 100002 in ids  # near dup NOT removed by exact dedup


def test_shingle_hash_rows_short_and_normal_docs(spark, sf_dir):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "a b c d"), (4, "")],
        "id long, text string",
    )
    rows = D.shingle_hash_rows(df, id_col="id", text_col="text", n=3)
    got = {}
    for r in rows.collect():
        got.setdefault(r["id"], []).append(r["__h"])
    assert len(got[1]) == 2  # 4 words, n=3 -> 2 shingles
    assert len(got[2]) == 1  # short doc degenerates to one whole-text shingle
    assert sorted(got[1]) == sorted(got[3])  # identical text -> identical hashes
    assert len(got[4]) == 1  # empty text still yields a row (whole-array hash)
    assert got[2][0] != got[4][0]


def test_minhash_finds_planted_near_dup(spark, sf_dir):
    docs = _docs_with_planted_dups(spark, sf_dir)
    out = D.minhash_dedup(
        docs, id_col="doc_id", text_col="text", threshold=0.5, shingle_n=3
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    # the exact dup and the near dup must land in doc 0's component
    assert rows[100001]["component"] == 0
    assert rows[100002]["component"] == 0
    assert rows[0]["is_representative"]
    assert not rows[100001]["is_representative"]


def test_simhash_pairs_find_planted_near_dup(spark, sf_dir):
    docs = _docs_with_planted_dups(spark, sf_dir)
    pairs = D.simhash_neardup_pairs(
        docs, id_col="doc_id", text_col="text", max_hamming=6
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 100001) in got  # identical text → hamming 0
    assert (0, 100002) in got  # one word changed → small hamming


def test_lsh_topk_recall_vs_bruteforce(spark, sf_dir):
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 5)
    exact = S.cosine_topk(
        em, queries, id_col="vec_id", vec_col="embedding", query_id_col="vec_id", k=5
    )
    approx = S.lsh_topk(
        em, queries, id_col="vec_id", vec_col="embedding", query_id_col="vec_id",
        k=5, dim=64, n_planes=8,
    )
    # sanity: every approx hit's cosine is <= the exact best, and the approx
    # result is a subset of each query's bucket with correct ranks
    a = approx.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()
    assert all(r["n"] <= 5 for r in a)
    e1 = {
        (r["query_id"], r["rank"]): r["cosine"]
        for r in exact.collect()
    }
    for r in approx.collect():
        assert r["cosine"] <= e1[(r["query_id"], 1)] + 1e-12
    # multi-probe (Hamming-1) widens the candidate pool, so with the same
    # k cut each query's hit count can only grow, and the worst kept
    # cosine per query can only improve (a better candidate may displace a
    # single-probe hit, so set-superset does NOT hold — counts and scores do)
    probed = S.lsh_topk(
        em, queries, id_col="vec_id", vec_col="embedding", query_id_col="vec_id",
        k=5, dim=64, n_planes=8, probe_hamming=1,
    )
    probed_rows = probed.collect()
    def per_query(rows):
        n, worst = {}, {}
        for r in rows:
            q = r["query_id"]
            n[q] = n.get(q, 0) + 1
            worst[q] = min(worst.get(q, float("inf")), r["cosine"])
        return n, worst
    n_single, worst_single = per_query(approx.collect())
    n_probed, worst_probed = per_query(probed_rows)
    for q, n in n_single.items():
        assert n_probed.get(q, 0) >= n
        if n_probed.get(q) == n:  # same count -> kth-best can only improve
            assert worst_probed[q] >= worst_single[q] - 1e-12
    for r in probed_rows:
        assert r["cosine"] <= e1[(r["query_id"], 1)] + 1e-12


def test_multimodal_plumbing(spark, sf_dir):
    media = M.documents_as_media(load_table(spark, sf_dir, "documents"))
    feats = M.extract_features(media)
    row = feats.orderBy("media_id").first()
    assert row["n_bytes"] > 0 and 0 <= row["mean_byte"] <= 255
    assert row["min_byte"] <= row["max_byte"]
    resized = M.resize_metadata(media, max_side=32)
    r = resized.select(F.max("resized.width").alias("w"), F.max("resized.height").alias("h")).first()
    assert r["w"] <= 32 and r["h"] <= 32
    plan = M.frame_sample_plan(
        media.withColumn(
            "metadata",
            F.struct(
                F.lit("video").alias("modality"),
                F.lit("video/fake").alias("mime"),
                F.col("metadata.width").alias("width"),
                F.col("metadata.height").alias("height"),
                F.lit(None).cast("int").alias("sample_rate"),
                F.lit(25).alias("n_frames"),
            ),
        ),
        every_n=10,
    )
    per_media = plan.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).first()
    assert per_media["n"] == 3  # frames 0, 10, 20


def test_real_decoder_degrades_gracefully(spark, sf_dir):
    """use_real_decoder=True must RUN in an env without image libs (warn +
    fall back to the deterministic fake path, identical output), while
    strict=True fails fast on the driver."""
    import pytest

    media = M.documents_as_media(load_table(spark, sf_dir, "documents")).limit(20)
    want = {
        r["media_id"]: r.asDict() for r in M.extract_features(media).collect()
    }
    got = M.extract_features(media, use_real_decoder=True).collect()
    assert {r["media_id"]: r.asDict() for r in got} == want
    # provenance: every fallback/fake row is marked NOT-real so consumers
    # never mix byte stats with pixel stats unknowingly
    assert all(r["decoded_real"] is False for r in got)
    if not M.real_decoder_available():
        with pytest.raises(NotImplementedError):
            M.extract_features(media, use_real_decoder=True, strict=True)


def test_qa_sampled_mode_within_tolerance(spark, sf_dir):
    """The seeded sample_fraction mode of the estimator-QA companions:
    deterministic (same seed -> same rows), bounded (sample strictly
    smaller), and the sampled quality estimate stays within tolerance of
    the full-corpus value (both legs see the same subcorpus, so the ratio
    remains a quality measurement, not noise)."""
    from ibis_flink_example_spark.queries_llm import (
        _qa_sample,
        ann_recall_ivf_impl,
        minhash_vs_exact_pairs_impl,
    )

    docs = load_table(spark, sf_dir, "documents")
    s1 = _qa_sample(docs, "doc_id", 0.5, seed=11)
    s2 = _qa_sample(docs, "doc_id", 0.5, seed=11)
    n_full, n_half = docs.count(), s1.count()
    assert 0 < n_half < n_full
    assert 0.3 * n_full < n_half < 0.7 * n_full  # hash split is near-uniform
    assert s1.exceptAll(s2).count() == 0  # deterministic, not rng-per-run

    full = minhash_vs_exact_pairs_impl(docs).first()
    sampled = minhash_vs_exact_pairs_impl(docs, sample_fraction=0.5).first()
    assert sampled["n_exact_pairs"] <= full["n_exact_pairs"]
    # planted dups dominate the pair set; the sampled probe must agree on
    # estimator quality within 10 points even at half the corpus
    assert abs(sampled["recall_x1e6"] - full["recall_x1e6"]) <= 100_000
    assert abs(sampled["precision_x1e6"] - full["precision_x1e6"]) <= 100_000

    em = load_table(spark, sf_dir, "embeddings")
    r = ann_recall_ivf_impl(em, sample_fraction=0.5).first()
    assert r["n_queries"] == 5 and 0 <= r["recall_x1e6"] <= 1_000_000
    # a smaller corpus makes exact top-5 easier to match, not harder, for
    # the IVF probe at fixed n_lists/n_probe; assert the floor still holds
    assert r["recall_ge_half"]


def test_real_decoder_branch_with_fake_pil():
    """The real decode arm (open -> convert('L') -> numpy stats + actual
    dims) exercised via an injected minimal PIL so the wiring is verified
    even in this Pillow-less container. On a worker WITH Pillow the inline
    copy of this logic in extract_features runs the same steps."""
    import sys
    import types

    import numpy as np

    from ibis_flink_example_spark.operators.multimodal import _decode_image_real

    pixels = np.array([[0, 255], [10, 20]], dtype=np.uint8)  # 2x2 grayscale

    class FakeImg:
        width, height = 2, 2

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def convert(self, mode):
            assert mode == "L"
            return pixels

    fake_image_mod = types.ModuleType("PIL.Image")
    fake_image_mod.open = lambda fp: FakeImg()
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image_mod
    saved = {k: sys.modules.get(k) for k in ("PIL", "PIL.Image")}
    sys.modules["PIL"] = fake_pil
    sys.modules["PIL.Image"] = fake_image_mod
    try:
        mean, lo, hi, w, h = _decode_image_real(b"\x89PNG fake payload")
        assert (lo, hi, w, h) == (0, 255, 2, 2)
        assert abs(mean - pixels.mean()) < 1e-9
    finally:
        for k, v in saved.items():
            if v is None:
                sys.modules.pop(k, None)
            else:
                sys.modules[k] = v


def test_ivf_topk_vs_bruteforce(spark, sf_dir):
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 5)
    exact = S.cosine_topk(
        em, queries, id_col="vec_id", vec_col="embedding", query_id_col="vec_id", k=5
    )
    approx = S.ivf_topk(
        em, queries, id_col="vec_id", vec_col="embedding", query_id_col="vec_id",
        k=5, n_lists=8, n_probe=4,
    )
    rows = approx.collect()
    # every query gets candidates (n_probe=4 of 8 lists -> never empty) and
    # ranks are a contiguous 1..n per query
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(by_q) == {0, 1, 2, 3, 4}
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # approx cosines can never beat the exact best
    e1 = {(r["query_id"], r["rank"]): r["cosine"] for r in exact.collect()}
    for r in rows:
        assert r["cosine"] <= e1[(r["query_id"], 1)] + 1e-12


def test_ivf_assignment_partitions_corpus(spark, sf_dir):
    em = load_table(spark, sf_dir, "embeddings")
    cents = S.kmeans_centroids(em, vec_col="embedding", n_lists=8, seed=42)
    assert len(cents) == 8 and all(len(c) == 64 for c in cents)
    assigned = em.select(S.ivf_assign(F.col("embedding"), cents).alias("l"))
    counts = {r["l"]: r["n"] for r in assigned.groupBy("l").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == em.count()          # every vector lands somewhere
    assert all(0 <= l < 8 for l in counts)             # ids in range


def test_cc_driver_and_distributed_paths_agree(spark, sf_dir):
    """connected_components has two physical strategies behind one contract
    (bounded driver union-find vs distributed min-label propagation); both
    must produce identical (id, component) labelings."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = spark.createDataFrame(
        # two chains (1-2-3, 7-9) + a cycle (20-21-22-20); 5,6 untouched
        [(2, 1), (2, 3), (9, 7), (20, 21), (21, 22), (22, 20)],
        "id_a long, id_b long",
    )
    ids = docs.select("doc_id").limit(30)
    small = D.connected_components(pairs, ids, id_col="doc_id")
    big = D.connected_components(pairs, ids, id_col="doc_id", driver_cc_max_edges=0)
    a = small.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = big.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)
    got = dict(zip(a["doc_id"], a["component"]))
    assert got[1] == got[2] == got[3] == 1
    assert got[7] == got[9] == 7
    assert got[20] == got[21] == got[22] == 20


def test_winnow_sketch_robust_to_small_edits(spark):
    """The winnowing sketch's defining property: a small edit leaves most of
    the sketch intact (unlike the exact fingerprint, which changes
    completely). 4-of-k overlap on a one-word substitution."""
    base = " ".join(f"word{i}" for i in range(200))
    edited = base.replace("word100", "zzzzz", 1)
    df = spark.createDataFrame([(1, base), (2, edited)], "id long, text string")
    from ibis_flink_example_spark.operators.text import (
        fingerprint,
        rolling_shingle_fingerprints,
    )

    rows = df.select(
        "id",
        fingerprint("text").alias("fp"),
        rolling_shingle_fingerprints("text", n=8, keep=8).alias("sketch"),
    ).collect()
    by_id = {r["id"]: r for r in rows}
    assert by_id[1]["fp"] != by_id[2]["fp"]  # exact fingerprint: total change
    overlap = len(set(by_id[1]["sketch"]) & set(by_id[2]["sketch"]))
    assert overlap >= 6, f"sketch overlap {overlap}/8 too low for a 1-word edit"


def test_decontamination_flags_planted_overlap(spark, sf_dir, tmp_path):
    """A training doc sharing a 13-gram with an eval doc must be flagged;
    disjoint docs must not. (The registered query's fixture split may have
    zero natural hits, so the behavior is proven with planted rows.)"""
    base = load_table(spark, sf_dir, "documents").limit(10)
    eval_doc = base.filter(F.col("doc_id") == 0).first()
    window = " ".join(eval_doc["text"].split()[:13])
    planted = spark.createDataFrame(
        [
            # 97000 % 97 == 0 -> eval side; carries the same 13-gram window
            (97000, eval_doc["text"], "en", "synth", len(eval_doc["text"])),
            # training docs: one embeds the eval window, one is disjoint
            (50001, "prefix words here " + window + " suffix tail", "en", "synth", 1),
            (50002, " ".join(f"tok{i}" for i in range(40)), "en", "synth", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path)
    base.unionByName(planted).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    from ibis_flink_example_spark.queries import QUERIES

    out = {r["doc_id"]: r["contaminated"] for r in QUERIES["decontaminate_ngram"](spark, d).collect()}
    assert out[50001] is True
    assert out[50002] is False
    assert 97000 not in out  # eval side excluded from the training output


def test_hot_bucket_caps_bound_pair_generation(spark):
    """Skew guard: a degenerate hot key (identical docs / one ubiquitous
    shingle) must NOT detonate into O(n²) candidate pairs when the cap is
    on; with the cap off the quadratic blowup is the expected baseline."""
    n = 60
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(n)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    # MinHash: identical docs -> identical signatures -> one bucket per band
    uncapped = D.minhash_lsh_candidates(
        docs, id_col="doc_id", text_col="text", max_bucket_size=None
    )
    assert uncapped.count() == n * (n - 1) // 2
    capped = D.minhash_lsh_candidates(
        docs, id_col="doc_id", text_col="text", max_bucket_size=n - 1,
        log_dropped=True,
    )
    assert capped.count() == 0

    # SimHash: identical fingerprints -> every chunk bucket is hot
    assert D.simhash_neardup_pairs(
        docs, id_col="doc_id", text_col="text", max_bucket_size=None
    ).count() == n * (n - 1) // 2
    assert D.simhash_neardup_pairs(
        docs, id_col="doc_id", text_col="text", max_bucket_size=n - 1
    ).count() == 0

    # n-gram Jaccard: one shared trigram across all docs, unique tails
    mixed = spark.createDataFrame(
        [(i, f"common shared trigram u{i}a u{i}b u{i}c u{i}d") for i in range(n)],
        ["doc_id", "text"],
    )
    assert D.ngram_jaccard_pairs(
        mixed, id_col="doc_id", text_col="text", threshold=0.0, max_doc_freq=None
    ).count() == n * (n - 1) // 2
    assert D.ngram_jaccard_pairs(
        mixed, id_col="doc_id", text_col="text", threshold=0.0, max_doc_freq=n - 1
    ).count() == 0

    # the guard itself plans as a BROADCAST anti-join (probe side never
    # re-shuffles for the cap)
    guarded = D.drop_hot_keys(
        docs.select("doc_id", F.pmod(F.col("doc_id"), F.lit(2)).alias("k")),
        ["k"],
        max_rows_per_key=5,
    )
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_decontaminate_broadcast_guard(spark, sf_dir):
    """Above the broadcast budget the eval-gram probe must fall back to a
    shuffle semi-join (no executor-OOM broadcast of an unbounded gram set);
    both paths return identical flags."""
    from ibis_flink_example_spark.operators import text as X

    docs = load_table(spark, sf_dir, "documents").limit(120)
    is_eval = F.col("doc_id") % 7 == 0
    train, ev = docs.filter(~is_eval), docs.filter(is_eval)

    via_bcast = X.decontaminate_ngram_overlap(
        train, ev, id_col="doc_id", text_col="text", n=13
    )
    via_shuffle = X.decontaminate_ngram_overlap(
        train, ev, id_col="doc_id", text_col="text", n=13, max_broadcast_grams=1
    )
    plan_b = via_bcast._jdf.queryExecution().executedPlan().toString()
    plan_s = via_shuffle._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_b and "LeftSemi" in plan_b
    # the gram semi-join itself must NOT be a broadcast join in fallback
    # (the final small hits->train join may still broadcast - that's fine)
    import re

    assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \[gram[^\n]*LeftSemi", plan_s)
    a = {r["doc_id"]: r["contaminated"] for r in via_bcast.collect()}
    b = {r["doc_id"]: r["contaminated"] for r in via_shuffle.collect()}
    assert a == b and len(a) > 0


def test_tfidf_stopword_sql_literal_matches_operator():
    """The oracle's stopword literal must stay in lockstep with
    text.corpus_stopwords() — a drift would silently diverge the two
    engines' vocabularies."""
    from ibis_flink_example_spark.operators.text import corpus_stopwords
    from ibis_flink_example_spark.queries_llm import _STOPWORDS_SQL

    sql_words = sorted(w.strip("'") for w in _STOPWORDS_SQL.strip("()").split(","))
    assert sql_words == corpus_stopwords()


def test_semantic_dedup_keeps_one_per_cluster(spark):
    """Identical embeddings (cosine 1.0) collapse to the min-id survivor;
    singletons pass through untouched."""
    from ibis_flink_example_spark.operators.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [1.0, 0.0, 0.0], 0),   # dup of 1
        (3, [0.0, 1.0, 0.0], 0),   # singleton (orthogonal)
        (4, [0.0, 0.0, 1.0], 1),   # other block: singleton
        (5, [0.0, 0.0, 1.0], 0),   # same vec as 4 but different block: kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            df, id_col="vec_id", vec_col="embedding", block_col="label", threshold=0.95
        ).collect()
    )
    assert kept == [1, 3, 4, 5]


def test_temperature_sample_flattens_language_shares(spark, sf_dir):
    """The balancing property itself: after resampling, the largest
    language's share of the kept corpus must shrink and the smallest
    language's share must grow (that is what temperature alpha=0.5 is FOR),
    while per-stratum keep counts never exceed the stratum size."""
    from ibis_flink_example_spark.operators.sampling import temperature_balanced_sample

    docs = load_table(spark, sf_dir, "documents")
    before = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    kept = temperature_balanced_sample(docs, stratum_col="lang", key_col="doc_id", target_frac=0.5)
    after = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_b, n_a = sum(before.values()), sum(after.values())
    # ~half the corpus kept (hash-threshold sampling is approximate)
    assert 0.35 * n_b <= n_a <= 0.65 * n_b
    big = max(before, key=before.get)
    small = min(before, key=before.get)
    assert after[big] / n_a < before[big] / n_b          # dampened
    assert after[small] / n_a > before[small] / n_b      # boosted
    for lang, n in after.items():
        assert n <= before[lang]


def test_funnel_requires_strict_order(spark):
    """An event sequence click->view->purchase reaches stage 1 (view) and
    stage 3 only via a click AFTER the view; out-of-order events must not
    count. Also: a click at the exact view timestamp does not qualify
    (strict >)."""
    from datetime import datetime as DT

    from ibis_flink_example_spark.operators.funnel import funnel_stage_times

    rows = [
        # u1: click(1) view(2) click(3) purchase(4) -> all 3 stages, t_click=3
        (1, DT(2024, 1, 1, 0, 0, 1), "click"),
        (1, DT(2024, 1, 1, 0, 0, 2), "view"),
        (1, DT(2024, 1, 1, 0, 0, 3), "click"),
        (1, DT(2024, 1, 1, 0, 0, 4), "purchase"),
        # u2: view and click share a timestamp -> click does NOT qualify
        (2, DT(2024, 1, 1, 0, 0, 5), "view"),
        (2, DT(2024, 1, 1, 0, 0, 5), "click"),
        # u3: purchase before click -> stops at stage 2
        (3, DT(2024, 1, 1, 0, 0, 1), "view"),
        (3, DT(2024, 1, 1, 0, 0, 0), "purchase"),
        (3, DT(2024, 1, 1, 0, 0, 2), "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {
        r["user_id"]: (r["t_view"], r["t_click"], r["t_purchase"])
        for r in funnel_stage_times(df, ["view", "click", "purchase"]).collect()
    }
    assert out[1][2] is not None and out[1][1] == DT(2024, 1, 1, 0, 0, 3)
    assert out[2][0] is not None and out[2][1] is None
    assert out[3][1] is not None and out[3][2] is None


def test_chunk_documents_edges(spark):
    """Chunk math at the boundaries: empty doc -> one empty chunk; doc
    exactly chunk_size -> one chunk; one char over the last stride
    boundary -> extra (truncated) chunk; overlap bytes shared between
    consecutive chunks."""
    from ibis_flink_example_spark.operators.chunking import chunk_documents

    rows = [(1, ""), (2, "a" * 200), (3, "a" * 199 + "b" * 152)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_size=200, overlap=50)
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_start"], r["chunk_text"])
        for r in out.collect()
    }
    assert got[(1, 0)] == (0, "")
    assert got[(2, 0)] == (0, "a" * 200) and (2, 1) not in got
    # doc 3: len 351 -> k = ceil((351-50)/150) = ceil(301/150) = 3
    assert got[(3, 0)][1] == "a" * 199 + "b"
    assert got[(3, 1)] == (150, "a" * 49 + "b" * 151)
    assert got[(3, 2)] == (300, "b" * 51)
    # overlap: last 50 chars of chunk 0 == first 50 of chunk 1
    assert got[(3, 0)][1][-50:] == got[(3, 1)][1][:50]


def test_strip_boilerplate_lines_newline_path(spark):
    """The '\\n' configuration (CCNet boilerplate removal): a footer line
    shared by every doc is stripped, unique lines survive in original
    order, and a doc that is ALL boilerplate comes back empty (not
    dropped)."""
    from ibis_flink_example_spark.operators.chunking import (
        strip_boilerplate_lines,
    )

    footer = "(c) example corp - all rights reserved"
    rows = [
        (1, f"alpha beta\n{footer}\ngamma"),
        (2, f"delta\n{footer}"),
        (3, f"{footer}"),
        (4, f"epsilon\nzeta\n{footer}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["clean_text"], r["n_kept_lines"])
        for r in strip_boilerplate_lines(df, max_df=2, delimiter="\n").collect()
    }
    assert out[1] == ("alpha beta\ngamma", 2)
    assert out[2] == ("delta", 1)
    assert out[3] == ("", 0)
    assert out[4] == ("epsilon\nzeta", 2)


def test_trailing_anomaly_flags_planted_spike(spark):
    """A user with a flat history gets flagged exactly on the planted
    spike; the first min_prior events are never flagged (insufficient
    history); a constant-value user (zero variance) is flagged on any
    deviation."""
    from datetime import datetime as DT

    from ibis_flink_example_spark.operators.funnel import trailing_anomaly_flags

    rows = []
    # u1: 10.00 +/- 0.02 for 10 events, then a 500.00 spike
    for i in range(10):
        rows.append((i, 1, DT(2024, 1, 1, 0, 0, i), 10.0 + 0.02 * (i % 2)))
    rows.append((10, 1, DT(2024, 1, 1, 0, 0, 10), 500.0))
    # u2: constant 5.00 x6 then 5.01 (zero variance -> any deviation flags)
    for i in range(6):
        rows.append((100 + i, 2, DT(2024, 1, 1, 0, 1, i), 5.0))
    rows.append((106, 2, DT(2024, 1, 1, 0, 1, 6), 5.01))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = {r["event_id"]: r for r in trailing_anomaly_flags(df).collect()}
    assert out[10]["is_anomaly"] and out[10]["n_prior"] == 10
    for i in range(5):  # fewer than min_prior=5 prior events
        assert not out[i]["is_anomaly"]
    assert out[106]["is_anomaly"]
    assert not out[105]["is_anomaly"]


def test_event_transitions_probabilities_sum_to_one(spark, sf_dir):
    """Per-source transition probabilities must sum to 1 and counts must
    equal (#events of that type that have a successor)."""
    from ibis_flink_example_spark.operators.funnel import event_transitions

    events = load_table(spark, sf_dir, "events")
    rows = event_transitions(events).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["event_type"], []).append(r)
    for src, rs in by_src.items():
        assert abs(sum(r["p_transition"] for r in rs) - 1.0) < 1e-12, src


def test_scd2_collapses_intervals(spark):
    """Consecutive equal states merge; changes open new intervals with
    correct validity chaining; A->B->A yields three intervals; the last
    interval is current."""
    from datetime import datetime as DT

    from ibis_flink_example_spark.operators.scd import scd2_from_changes

    rows = [
        (1, "gold", DT(2024, 1, 1), 1),
        (1, "gold", DT(2024, 1, 5), 2),
        (1, "silver", DT(2024, 2, 1), 3),
        (1, "gold", DT(2024, 3, 1), 4),
        (2, "bronze", DT(2024, 1, 1), 5),
    ]
    df = spark.createDataFrame(
        rows, "k long, state string, ts timestamp, tb long"
    )
    out = scd2_from_changes(
        df, key_col="k", state_col="state", ts_col="ts", tiebreak_col="tb"
    ).collect()
    k1 = sorted(
        [r for r in out if r["k"] == 1], key=lambda r: r["valid_from"]
    )
    assert [(r["state"], r["n_observations"]) for r in k1] == [
        ("gold", 2), ("silver", 1), ("gold", 1)
    ]
    assert k1[0]["valid_to"] == k1[1]["valid_from"]
    assert k1[1]["valid_to"] == k1[2]["valid_from"]
    assert k1[2]["valid_to"] is None and k1[2]["is_current"]
    assert not k1[0]["is_current"]
    (k2,) = [r for r in out if r["k"] == 2]
    assert k2["is_current"] and k2["n_observations"] == 1


def test_bpe_matches_reference_implementation(spark, sf_dir):
    """The distributed BPE loop must produce EXACTLY the merge sequence of
    a pure-Python reference BPE (same greedy rewrite, same
    count-desc/lexicographic tie-break) on the same corpus."""
    from collections import Counter

    from ibis_flink_example_spark.operators.bpe import bpe_learn_merges

    docs = load_table(spark, sf_dir, "documents")
    got = bpe_learn_merges(docs, n_merges=6)

    words = Counter()
    for r in docs.select("text").collect():
        for w in r["text"].split():
            words[w] += 1
    vocab = {w: [list(w), c] for w, c in words.items()}

    expected = []
    for rank in range(6):
        pairs = Counter()
        for syms, c in vocab.values():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((rank, l, r, c))
        for entry in vocab.values():
            syms = entry[0]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            entry[0] = out
    assert got == expected


def test_zorder_interleave_known_values(spark):
    """The Morton spread must interleave bits exactly: for custkey=a,
    floor(price/16)=b, zval's even bits are a and odd bits are b."""
    from ibis_flink_example_spark.queries_warehouse import _zorder_cols

    rows = [(1, 0b1011, 0b0110 * 16.0), (2, 0, 0.0), (3, 0xFFFF, float(0xFFFF * 16))]
    df = spark.createDataFrame(rows, "o_orderkey long, o_custkey long, o_totalprice double")
    out = {r["o_orderkey"]: r["z"] for r in df.select("o_orderkey", _zorder_cols().alias("z")).collect()}

    def morton(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    assert out[1] == morton(0b1011, 0b0110)
    assert out[2] == 0
    assert out[3] == morton(0xFFFF, 0xFFFF)


def test_bpe_encode_matches_reference(spark, sf_dir):
    """Distributed BPE encode must equal a pure-Python greedy encode
    under the same learned merges for every document."""
    from ibis_flink_example_spark.operators.bpe import (
        bpe_encode_token_counts,
        bpe_learn_merges,
    )

    docs = load_table(spark, sf_dir, "documents").limit(80)
    merges = bpe_learn_merges(docs, n_merges=5)
    ranks = {(l, r): k for k, l, r, _ in merges}

    def ref_word(word):
        syms = list(word)
        while len(syms) > 1:
            cands = [
                (ranks[(a, b)], i)
                for i, (a, b) in enumerate(zip(syms, syms[1:]))
                if (a, b) in ranks
            ]
            if not cands:
                break
            _, i = min(cands)
            syms[i : i + 2] = [syms[i] + syms[i + 1]]
        return len(syms)

    got = {
        r["doc_id"]: r["n_tokens_bpe"]
        for r in bpe_encode_token_counts(docs, merges).collect()
    }
    for row in docs.select("doc_id", "text").collect():
        expected = sum(ref_word(w) for w in row["text"].split())
        assert got[row["doc_id"]] == expected, row["doc_id"]


def test_cms_one_sided_and_mergeable(spark):
    """Count-Min laws on a skewed fixture: (a) est >= true count for every
    key (structural, any hashing); (b) building one sketch over the union
    equals merging two half-sketches cell-wise (the distributed-telemetry
    merge property); (c) estimates never touch the raw data (probe joins
    the cell table only)."""
    from ibis_flink_example_spark.operators.sketches import cms_build, cms_estimate

    rows = (
        [("hot",)] * 500
        + [("warm",)] * 50
        + [(f"cold_{i}",) for i in range(200)]
    )
    df = spark.createDataFrame(rows, "term string")
    w, d = 64, 4  # deliberately tight width so collisions actually occur
    sketch = cms_build(df, "term", width=w, depth=d)
    assert sketch.count() <= w * d
    keys = df.distinct()
    est = {
        r["term"]: r["est"]
        for r in cms_estimate(sketch, keys, "term", width=w, depth=d).collect()
    }
    true = {r["term"]: r["cnt"] for r in df.groupBy("term").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    assert all(est[k] >= true[k] for k in true)  # one-sided, every key
    assert est["hot"] >= 500

    # merge property: sum of half-sketch cells == full-corpus sketch cells
    # (halves built from the literal row lists — limit() picks arbitrary
    # rows per evaluation and cannot define a deterministic partition)
    h1 = cms_build(
        spark.createDataFrame(rows[:300], "term string"), "term", width=w, depth=d
    )
    h2 = cms_build(
        spark.createDataFrame(rows[300:], "term string"), "term", width=w, depth=d
    )
    merged = (
        h1.unionByName(h2)
        .groupBy("depth_idx", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = {(r["depth_idx"], r["bucket"]): r["cnt"] for r in sketch.collect()}
    got = {(r["depth_idx"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert got == full


def test_qa_guard_fraction_bounds_exact_legs(spark):
    """The row-count guard on the registered estimator-QA queries: at or
    under the threshold the input runs unsampled (None — fixture pins stay
    valid); above it the seeded hash-sample targets ~max_rows rows, and the
    sampled row set is deterministic across repartitionings."""
    from ibis_flink_example_spark.queries_llm import _qa_guard_fraction, _qa_sample

    small = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    assert _qa_guard_fraction(small, max_rows=100) is None

    big = spark.range(0, 10_000).withColumnRenamed("id", "doc_id")
    frac = _qa_guard_fraction(big, max_rows=1_000)
    assert frac is not None and abs(frac - 0.1) < 1e-9

    sampled = _qa_sample(big, "doc_id", frac, seed=11)
    n = sampled.count()
    assert 700 <= n <= 1300  # hash-threshold targets ~1000 of 10000
    # deterministic under repartitioning (hash threshold, not .sample())
    ids_a = {r["doc_id"] for r in sampled.collect()}
    ids_b = {
        r["doc_id"]
        for r in _qa_sample(big.repartition(7), "doc_id", frac, seed=11).collect()
    }
    assert ids_a == ids_b


def test_arrow_norms_empty_and_null_vectors(spark, tmp_path):
    """Adversarial mini-fixture for the mapInArrow norms: empty and NULL
    embedding lists must produce (n_dims=0, norm2=0) on BOTH sides — the
    COALESCE pin in the oracle vs the Arrow offsets-difference in the
    operator (r7 review finding: unpinned, SQL list_sum yields NULL)."""
    import glob
    import os
    import shutil

    from ibis_flink_example_spark.queries import ORACLES, QUERIES
    from tests.oracle import compare_frames, run_oracle

    df = spark.createDataFrame(
        [(1, [1.0, -2.5], 0), (2, [], 0), (3, None, 0)],
        "vec_id long, embedding array<float>, label int",
    )
    d = str(tmp_path / "mini")
    stage = str(tmp_path / "stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    os.makedirs(d, exist_ok=True)
    shutil.copy(glob.glob(os.path.join(stage, "*.parquet"))[0],
                os.path.join(d, "embeddings.parquet"))

    got = QUERIES["embedding_norms_arrow"](spark, d).toPandas()
    want = run_oracle(ORACLES["embedding_norms_arrow"], d)
    assert not compare_frames(got, want)
    by_id = {r["vec_id"]: (r["n_dims"], r["norm2_x1e12"]) for _, r in got.iterrows()}
    # 1.0 -> 1e6, -2.5 -> -2.5e6; squares sum = 1e12 + 6.25e12
    assert by_id[1] == (2, 7_250_000_000_000)
    assert by_id[2] == (0, 0) and by_id[3] == (0, 0)


# ---------------------------------------------------------------------------
# retrieval.py: BM25 / feature hashing / DSIR (round 8)
# ---------------------------------------------------------------------------


def _mini_retrieval_corpus(spark):
    # words are >= 3 chars and non-stopword so the shared tokenizer keeps
    # them; doc 4 contains no query term at all
    rows = [
        (1, "spark spark spark window filter", "src0"),
        (2, "spark window join batch batch", "src0"),
        (3, "join join filter filter filter batch", "src1"),
        (4, "batch filter table table table", "src1"),
        (5, "window window window window spark", "src1"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_bm25_membership_and_monotonicity(spark):
    from ibis_flink_example_spark.operators import retrieval as R

    docs = _mini_retrieval_corpus(spark)
    out = R.bm25_topk(docs, ("spark", "window", "join"), top_k=10).collect()
    got = {r["doc_id"]: r for r in out}
    # doc 4 has no query term -> absent; all others matched
    assert set(got) == {1, 2, 3, 5}
    # scores positive, n_terms_matched correct
    assert all(r["score_x1e6"] > 0 for r in out)
    assert got[2]["n_terms_matched"] == 3
    assert got[3]["n_terms_matched"] == 1
    # descending by score, doc_id tiebreak
    scores = [(r["score_x1e6"], -r["doc_id"]) for r in out]
    assert scores == sorted(scores, reverse=True)


def test_bm25_tf_saturation_orders_same_length_docs(spark):
    from ibis_flink_example_spark.operators import retrieval as R

    # identical length, only the 'spark' tf differs -> more tf, higher score
    rows = [
        (1, "spark spark spark table table", "s"),
        (2, "spark spark table table table", "s"),
        (3, "spark table table table table", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r["score_x1e6"] for r in R.bm25_topk(docs, ("spark",)).collect()}
    assert out[1] > out[2] > out[3] > 0


def test_feature_hash_profile_partitions_vocab(spark):
    from ibis_flink_example_spark.operators import retrieval as R
    from ibis_flink_example_spark.operators.text import doc_terms

    docs = _mini_retrieval_corpus(spark)
    prof = R.feature_hash_profile(docs, n_buckets=64).collect()
    toks = doc_terms(docs, id_col="doc_id", text_col="text")
    n_vocab = toks.select("term").distinct().count()
    n_occ = toks.count()
    assert sum(r["n_terms"] for r in prof) == n_vocab
    assert sum(r["n_occurrences"] for r in prof) == n_occ
    assert all(0 <= r["bucket"] < 64 for r in prof)
    # bucket assignment is deterministic across calls
    prof2 = R.feature_hash_profile(docs, n_buckets=64).collect()
    assert sorted(map(tuple, prof)) == sorted(map(tuple, prof2))


def test_feature_hash_rejects_bad_bucket_count(spark):
    import pytest as _pytest

    from ibis_flink_example_spark.operators import retrieval as R

    docs = _mini_retrieval_corpus(spark)
    with _pytest.raises(ValueError):
        R.feature_hash_profile(docs, n_buckets=100)


def test_dsir_weights_match_pure_python(spark):
    import math
    import re
    from collections import Counter

    from ibis_flink_example_spark.operators import retrieval as R
    from ibis_flink_example_spark.operators.text import corpus_stopwords

    docs = _mini_retrieval_corpus(spark)
    out = {
        r["doc_id"]: (r["n_tokens"], r["weight_bits"])
        for r in R.dsir_weight_bits(docs, target_source="src0").collect()
    }
    # pure-Python reference of the whole-bit DSIR definition
    stop = set(corpus_stopwords())
    rows = docs.collect()
    tok = lambda t: [
        w for w in re.findall(r"[a-z0-9]+", t.lower())
        if len(w) >= 3 and w not in stop
    ]
    raw, tgt = Counter(), Counter()
    per_doc = {}
    for r in rows:
        c = Counter(tok(r["text"]))
        per_doc[r["doc_id"]] = (r["source"], c)
        raw.update(c)
        if r["source"] == "src0":
            tgt.update(c)
    V = len(raw)
    t_raw, t_tgt = sum(raw.values()), sum(tgt.values())
    bits = lambda tot, cnt: math.floor(math.log2(tot + V)) - math.floor(
        math.log2(cnt + 1)
    )
    for did, (srcv, c) in per_doc.items():
        if not c:
            assert did not in out
            continue
        want = sum(
            n * (bits(t_raw, raw[t]) - bits(t_tgt, tgt.get(t, 0)))
            for t, n in c.items()
        )
        assert out[did] == (sum(c.values()), want), did
    # src0 docs must average >= others (they define the target LM)
    w0 = [out[d][1] / out[d][0] for d, (s, _) in per_doc.items() if s == "src0"]
    w1 = [out[d][1] / out[d][0] for d, (s, _) in per_doc.items() if s != "src0"]
    assert sum(w0) / len(w0) > sum(w1) / len(w1)


def test_top_pc_matches_exact_integer_simulation(spark, sf_dir):
    """Engine-independent pin of the MATH: the operator's output must
    equal a pure-Python arbitrary-precision simulation of the identical
    fixed-point recurrence on the fixture (the fixture's spectrum is
    nearly flat — lambda2/lambda1 ~ 0.98 — so 6 steps deliberately do
    NOT approximate the eigenvector here; the contract is the k-step
    transform, like PageRank's fixed 5 iterations)."""
    import numpy as np

    from ibis_flink_example_spark.operators.similarity import (
        top_pc_power_iteration,
    )

    em = load_table(spark, sf_dir, "embeddings")
    out = (
        top_pc_power_iteration(em, vec_col="embedding", dim=64, iters=6)
        .toPandas()
        .sort_values("dim_idx")["pc_x1e5"]
        .tolist()
    )
    X = np.array(
        [r["embedding"] for r in em.select("embedding").collect()],
        dtype=np.float64,
    )
    Q = np.floor(X * 1e6 + 0.5).astype(object)  # exact python ints
    G = Q.T @ Q
    v = [10**5] * 64  # norm scale 1e5 (input quantization stays 1e6)
    for _ in range(6):
        w = [sum(int(G[j][k]) * v[k] for k in range(64)) for j in range(64)]
        m = max(max(abs(x) for x in w), 1)
        v = [(1 if x >= 0 else -1) * ((abs(x) * 10**5) // m) for x in w]
    dmax = min(range(64), key=lambda d: (-abs(v[d]), d))
    s = -1 if v[dmax] < 0 else 1
    assert out == [s * x for x in v]


def test_top_pc_converges_on_spiked_spectrum(spark):
    """Semantic validation where power iteration APPLIES: vectors drawn
    along one dominant direction plus small deterministic noise — 6
    steps must align with the true top eigenvector to > 0.999."""
    import numpy as np

    from ibis_flink_example_spark.operators.similarity import (
        top_pc_power_iteration,
    )

    rng = np.random.RandomState(7)
    u = rng.randn(16)
    u /= np.linalg.norm(u)
    rows = []
    for i in range(200):
        x = (3.0 * rng.randn()) * u + 0.1 * rng.randn(16)
        rows.append((i, [float(t) for t in x]))
    em = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = (
        top_pc_power_iteration(em, vec_col="embedding", dim=16, iters=6)
        .toPandas()
        .sort_values("dim_idx")["pc_x1e5"]
        .to_numpy()
        .astype(float)
    )
    cos = abs(np.dot(out, u)) / (np.linalg.norm(out) * np.linalg.norm(u))
    assert cos > 0.999, cos


def test_top_pc_gram_arms_agree_and_flush_bound(spark, sf_dir, monkeypatch):
    """The arrow (numpy int64 matmul, production) and sql (declarative
    triangle explode, bracket) Gram paths must produce IDENTICAL results
    — and stay identical when the flush budget is shrunk far enough to
    force many partial-accumulator emissions (partials are exact
    integers; batching cannot change the sum)."""
    from ibis_flink_example_spark.operators import similarity as SIM

    em = load_table(spark, sf_dir, "embeddings")
    a = sorted(
        map(tuple, SIM.top_pc_power_iteration(em, gram="arrow").collect())
    )
    b = sorted(
        map(tuple, SIM.top_pc_power_iteration(em, gram="sql").collect())
    )
    assert a == b and len(a) == 64
    # q <= ~1e6 for unit-ish vectors -> mq2 ~ 1e12; a 1e14 budget forces a
    # flush roughly every ~100 rows
    monkeypatch.setattr(SIM, "_GRAM_FLUSH_BUDGET", 10**14)
    c = sorted(
        map(tuple, SIM.top_pc_power_iteration(em, gram="arrow").collect())
    )
    assert c == a


def test_top_pc_empty_input_both_arms_empty(spark):
    """Empty embeddings: the arrow arm must emit NOTHING (no zero-cell
    flush), so both arms — and the unrolled-CTE oracle, whose cells CTE
    is empty — agree on a 0-row result."""
    from ibis_flink_example_spark.operators import similarity as SIM

    em = spark.createDataFrame([], "vec_id long, embedding array<float>")
    for arm in ("arrow", "sql"):
        assert (
            SIM.top_pc_power_iteration(em, dim=64, iters=2, gram=arm).count()
            == 0
        ), arm


def test_top_pc_null_vectors_dropped_both_arms(spark):
    """A NULL embedding row contributes nothing in the sql arm and the
    unrolled-CTE oracle (explode/UNNEST of NULL emits no rows); the arrow
    arm must drop it the same way instead of tripping the uniform-width
    check on the null slot's zero-width offsets (ADVICE r8)."""
    from ibis_flink_example_spark.operators import similarity as SIM

    rows = [(i, [float((i * 7 + d) % 5 - 2) for d in range(8)]) for i in range(40)]
    rows += [(100, None), (101, None)]
    em = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    clean = em.filter(F.col("embedding").isNotNull())
    a = sorted(
        map(tuple, SIM.top_pc_power_iteration(em, dim=8, iters=3, gram="arrow").collect())
    )
    b = sorted(
        map(tuple, SIM.top_pc_power_iteration(em, dim=8, iters=3, gram="sql").collect())
    )
    c = sorted(
        map(tuple, SIM.top_pc_power_iteration(clean, dim=8, iters=3, gram="arrow").collect())
    )
    assert a == b == c and len(a) == 8


def test_top_pc_out_of_contract_magnitude_raises(spark):
    """An embedding whose quantized magnitude would WRAP the int64 cast
    must fail fast with the contract error, not silently contribute a
    modular-wrapped Gram partial (ADVICE r8: the old guard only caught
    |q|^2 over the flush budget AFTER the wrap)."""
    import pytest

    from ibis_flink_example_spark.operators import similarity as SIM

    # finite in float32 (max ~3.4e38) but 1e30 * 1e6 wraps the int64 cast
    rows = [(0, [1.0e30] + [0.0] * 7), (1, [0.5] * 8)]
    em = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="beyond int64"):
        SIM.top_pc_power_iteration(em, dim=8, iters=1, gram="arrow").collect()


def test_cc_distributed_nonconvergence_raises(spark):
    """Min-label propagation moves a label ONE hop per iteration; a chain
    deeper than max_iterations must raise (VERDICT r8: no silent partial
    labels), and a budget >= diameter must converge to min-label 0."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long"
    )
    ids = spark.range(6).withColumnRenamed("id", "doc_id")
    with pytest.raises(RuntimeError, match="did not reach fixpoint"):
        D.connected_components(
            chain, ids, id_col="doc_id", driver_cc_max_edges=0, max_iterations=2
        )
    ok = D.connected_components(
        chain, ids, id_col="doc_id", driver_cc_max_edges=0, max_iterations=8
    )
    got = {r["doc_id"]: r["component"] for r in ok.collect()}
    assert got == {i: 0 for i in range(6)}
    # k-step-transform opt-out (the distributed driver query's contract):
    # 2 propagation rounds move label 0 exactly two hops down the chain
    ksteps = D.connected_components(
        chain,
        ids,
        id_col="doc_id",
        driver_cc_max_edges=0,
        max_iterations=2,
        require_convergence=False,
    )
    got2 = {r["doc_id"]: r["component"] for r in ksteps.collect()}
    assert got2 == {0: 0, 1: 0, 2: 0, 3: 1, 4: 2, 5: 3}


def test_bm25_probe_fallback_agrees_with_broadcast(spark):
    """The matched-id probe's measured-cardinality guard (VERDICT r8:
    semi-reduce dl before the scoring join, but NEVER broadcast an
    unbounded matched set) — both physical strategies must score
    identically."""
    from ibis_flink_example_spark.operators import retrieval as R

    docs = _mini_retrieval_corpus(spark)
    q = ("spark", "window", "join")
    a = sorted(map(tuple, R.bm25_topk(docs, q, top_k=10).collect()))
    b = sorted(
        map(
            tuple,
            R.bm25_topk(docs, q, top_k=10, max_broadcast_probe_rows=0).collect(),
        )
    )
    assert a == b and len(a) == 4


# ---------------------------------------------------------------------------
# round 9: RRF fusion / calibration bins / incremental shingle matching
# ---------------------------------------------------------------------------


def test_rrf_fuse_integer_math_and_missing_items(spark):
    """RRF contributions are exact integer floor divisions; items missing
    from one system contribute nothing (the RRF convention)."""
    from ibis_flink_example_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank long")
    b = spark.createDataFrame([(2, 1), (4, 2)], "doc_id long, rank long")
    out = rrf_fuse([a, b], id_col="doc_id", top_k=10).collect()
    got = {r["doc_id"]: (r["rrf_x1e6"], r["n_systems"]) for r in out}
    assert got == {
        1: (1_000_000 // 61, 1),
        2: (1_000_000 // 62 + 1_000_000 // 61, 2),
        3: (1_000_000 // 63, 1),
        4: (1_000_000 // 62, 1),
    }
    # fused order: shared item first, then rank-1 single, rank-2, rank-3
    assert [r["doc_id"] for r in out] == [2, 1, 4, 3]


def test_rrf_fuse_rejects_empty_input():
    import pytest

    from ibis_flink_example_spark.operators.retrieval import rrf_fuse

    with pytest.raises(ValueError):
        rrf_fuse([], id_col="doc_id")


def test_calibration_bins_edges_and_stats(spark):
    """Bin edges: [k/n, (k+1)/n) with the top edge closed (a perfect 1e6
    lands in the last bin); per-bin stats are exact integer arithmetic."""
    from ibis_flink_example_spark.operators.evaluation import calibration_bins

    rows = [
        (0, True),        # bin 0
        (99_999, False),  # bin 0
        (100_000, True),  # bin 1
        (950_000, True),  # bin 9
        (1_000_000, False),  # bin 9 (clamped by LEAST)
    ]
    df = spark.createDataFrame(rows, "score long, label boolean")
    out = {
        r["bin"]: r
        for r in calibration_bins(
            df, score_col="score", label_col="label", n_bins=10
        ).collect()
    }
    assert set(out) == {0, 1, 9}
    b0 = out[0]
    assert (b0["n_docs"], b0["n_pos"]) == (2, 1)
    assert b0["mean_score_x1e6"] == 99_999 // 2
    assert b0["pos_rate_x1e6"] == 500_000
    assert b0["gap_x1e6"] == abs(99_999 // 2 - 500_000)
    b9 = out[9]
    assert (b9["n_docs"], b9["n_pos"]) == (2, 1)
    assert b9["mean_score_x1e6"] == (950_000 + 1_000_000) // 2
    assert b9["pos_rate_x1e6"] == 500_000


def test_shingle_match_ids_threshold_and_prefix(spark):
    """Integer cross-multiplication threshold (>= 1/2 here) and the
    within-batch smaller-id restriction."""
    from ibis_flink_example_spark.operators.dedup import shingle_match_ids

    # doc 1: {a,b,c}; doc 2: {a,b,d} (jacc 2/4 = 0.5 -> match);
    # doc 3: {a,x,y,z} (vs 1: 1/6 -> no)
    sh = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (2, "d"),
         (3, "a"), (3, "x"), (3, "y"), (3, "z")],
        "doc_id long, shingle string",
    )
    hit = shingle_match_ids(
        sh, sh, id_col="doc_id", restrict_smaller_pool_id=True
    ).collect()
    # only doc 2 matches a SMALLER id (doc 1); doc 1 has no smaller pool
    assert [r["doc_id"] for r in hit] == [2]
    # unrestricted: 1<->2 both directions
    hit2 = {
        r["doc_id"]
        for r in shingle_match_ids(sh, sh, id_col="doc_id").collect()
    }
    # every doc matches itself (jacc 1) without the restriction
    assert hit2 == {1, 2, 3}


def test_cc_kstep_optout_pins_distributed_arm(spark):
    """require_convergence=False is a k-step-transform contract — it must
    never fall into the driver union-find arm (which has no iteration
    budget and returns fixpoint labels) even when the edge count is under
    driver_cc_max_edges (review r9)."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long"
    )
    ids = spark.range(6).withColumnRenamed("id", "doc_id")
    out = D.connected_components(
        chain,
        ids,
        id_col="doc_id",
        max_iterations=2,
        require_convergence=False,  # default driver_cc_max_edges (100k) >> 5
    )
    got = {r["doc_id"]: r["component"] for r in out.collect()}
    # fixpoint (driver arm) would be all-0; 2-step labels prove distributed
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 2, 5: 3}


def test_bm25_checkpoint_handle_released(spark):
    """bm25_topk attaches its eager tf checkpoint to the result; consuming
    then releasing must drop the persisted blocks (loop-caller discipline,
    review r9)."""
    from ibis_flink_example_spark.operators import retrieval as R

    docs = _mini_retrieval_corpus(spark)
    out = R.bm25_topk(docs, ("spark", "window"), top_k=5)
    out.collect()
    cks = getattr(out, "_eager_checkpoints", ())
    assert len(cks) == 1
    sc = spark.sparkContext
    before = sc._jsc.sc().getRDDStorageInfo()
    R.release_eager_checkpoints(out)
    after = sc._jsc.sc().getRDDStorageInfo()
    assert len(after) <= len(before)


def test_pps_systematic_sample_math(spark):
    """PPS stride coverage: exactly n rows, heavy docs carry multiple
    strides, zero-weight docs never selected, assignment matches the
    brute-force interval walk."""
    from ibis_flink_example_spark.operators.sampling import pps_systematic_sample

    # doc 0 has ZERO weight at the HEAD of the id order — the exact spot
    # where an unguarded (cum*n - 1) DIV W truncates to a fake stride 0
    # (review r9); it must never be selected and row count must stay n
    rows = [(0, 0), (1, 10), (2, 70), (3, 15), (4, 5)]  # W = 100
    df = spark.createDataFrame(rows, "doc_id long, w long")
    n = 10  # strides at 0,10,20,...,90
    out = sorted(
        (r["sample_idx"], r["doc_id"])
        for r in pps_systematic_sample(
            df, id_col="doc_id", weight_col="w", n=n, bucket_size=2
        ).collect()
    )
    # brute force: intervals [0,10)=d0, [10,80)=d2, [80,95)=d3, [95,100)=d4
    def pick(t):
        cum = 0
        for d, w in rows:
            cum += w
            if t < cum:
                return d
        raise AssertionError
    want = sorted((k, pick(k * 100 // n)) for k in range(n))
    assert out == want
    assert len(out) == n
    assert all(d != 0 for _, d in out)  # zero-weight HEAD doc excluded
    assert len({k for k, _ in out}) == n  # strides unique
    assert sum(1 for _, d in out if d == 2) == 7  # 70% weight -> 7 strides


def test_pps_rejects_bad_n(spark):
    import pytest

    from ibis_flink_example_spark.operators.sampling import pps_systematic_sample

    df = spark.createDataFrame([(0, 1)], "doc_id long, w long")
    with pytest.raises(ValueError):
        pps_systematic_sample(df, id_col="doc_id", weight_col="w", n=0)


def test_calibration_bins_grouped_arm(spark):
    """group_cols keys the bins per group with independent stats."""
    from ibis_flink_example_spark.operators.evaluation import calibration_bins

    rows = [("a", 50_000, True), ("a", 60_000, False), ("b", 950_000, True)]
    df = spark.createDataFrame(rows, "g string, score long, label boolean")
    out = {
        (r["g"], r["bin"]): (r["n_docs"], r["n_pos"])
        for r in calibration_bins(
            df, score_col="score", label_col="label", n_bins=10, group_cols=("g",)
        ).collect()
    }
    assert out == {("a", 0): (2, 1), ("b", 9): (1, 1)}


def test_pps_degenerate_weights_raise(spark):
    """Negative weights raise via the per-row guard; an all-zero corpus
    returns a defined EMPTY panel (no intervals exist), never a partial
    or fake one."""
    import pytest

    from ibis_flink_example_spark.operators.sampling import pps_systematic_sample

    neg = spark.createDataFrame([(0, 5), (1, -1)], "doc_id long, w long")
    with pytest.raises(Exception, match="negative weight"):
        pps_systematic_sample(neg, id_col="doc_id", weight_col="w", n=3).collect()
    zero = spark.createDataFrame([(0, 0), (1, 0)], "doc_id long, w long")
    assert (
        pps_systematic_sample(zero, id_col="doc_id", weight_col="w", n=3).count()
        == 0
    )


def test_rendezvous_shard_movement_property(spark):
    """Rendezvous hashing's minimal-movement law, verified against an
    independent 17-shard assignment: the reported movers per shard equal
    the docs whose 17-shard winner differs, and every mover's new winner
    is exactly the ADDED shard."""
    from ibis_flink_example_spark.operators.bucketing import rendezvous_shard_plan

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 1).alias("n_bytes")
    )
    plan = {
        r["shard"]: r
        for r in rendezvous_shard_plan(
            docs, id_col="doc_id", bytes_col="n_bytes", n_shards=16
        ).collect()
    }
    import hashlib

    def winner(i, n):
        return max(
            range(n),
            key=lambda s: (hashlib.md5(f"{i}:{s}".encode()).hexdigest(), s),
        )

    moved_by_shard: dict = {}
    for i in range(300):
        w16, w17 = winner(i, 16), winner(i, 17)
        if w16 != w17:
            assert w17 == 16  # movers go ONLY to the new shard
            moved_by_shard[w16] = moved_by_shard.get(w16, 0) + 1
    assert sum(r["n_docs"] for r in plan.values()) == 300
    for s, r in plan.items():
        assert r["n_moving_add_one"] == moved_by_shard.get(s, 0)
    total_moving = sum(moved_by_shard.values())
    assert 0 < total_moving < 300 // 4  # ~1/17 expected; far below 25%


def test_posting_lists_matches_python_reference(spark):
    """Posting serialization vs a pure-Python inverted index on the mini
    retrieval corpus (tf desc, doc asc order; caps honored)."""
    import re
    from collections import Counter, defaultdict

    from ibis_flink_example_spark.operators.retrieval import posting_lists
    from ibis_flink_example_spark.operators.text import corpus_stopwords

    docs = _mini_retrieval_corpus(spark)
    got = {
        r["term"]: (r["occurrences"], r["doc_freq"], r["postings_csv"])
        for r in posting_lists(docs, top_terms=3, postings_per_term=2).collect()
    }
    stop = set(corpus_stopwords())
    inv: dict = defaultdict(Counter)
    for row in docs.collect():
        for t in re.findall(r"[a-z0-9]+", row["text"].lower()):
            if len(t) >= 3 and t not in stop:
                inv[t][row["doc_id"]] += 1
    stats = sorted(
        ((sum(c.values()), t) for t, c in inv.items()), key=lambda x: (-x[0], x[1])
    )[:3]
    want = {}
    for occ, t in stats:
        entries = sorted(inv[t].items(), key=lambda kv: (-kv[1], kv[0]))[:2]
        want[t] = (occ, len(inv[t]), ",".join(f"{d}:{c}" for d, c in entries))
    assert got == want


# --- r10: blockhash / pHash image near-dup -----------------------------------


def _py_blockhash(text: str) -> int:
    """Pure-Python reference of operators/multimodal.py:blockhash_signatures
    over a text payload's code points (signed-64 result)."""
    px = [ord(c) for c in text]
    n = len(px)
    if n == 0:
        return 0
    tot = sum(px)
    s: dict[int, int] = {}
    c: dict[int, int] = {}
    for p, v in enumerate(px):
        b = p * 64 // n
        s[b] = s.get(b, 0) + v
        c[b] = c.get(b, 0) + 1
    sig = 0
    for b in range(64):
        if c.get(b, 0) > 0 and s[b] * n >= tot * c[b]:
            sig |= 1 << b
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def _blockhash_over_texts(spark, rows):
    df = spark.createDataFrame(rows, "media_id long, payload string")
    return {
        r["media_id"]: r["sig"]
        for r in M.blockhash_signatures(
            df.select(
                "media_id", M.payload_pixel_codes("payload").alias("px")
            ),
            id_col="media_id",
            pixels_col="px",
            sig_col="sig",
        ).collect()
    }


def test_blockhash_matches_python_reference(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog " * 3,
        "aaaaaaaa",          # uniform => every block mean == global mean
        "z",                 # shorter than 64 => most blocks empty
        "",                  # empty payload => signature 0 by contract
        "ab" * 200,
        "the quick brown fox jumps over the lazy dog " * 3,  # exact dup
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    got = _blockhash_over_texts(spark, rows)
    for i, t in enumerate(texts):
        assert got[i] == _py_blockhash(t), f"doc {i}"
    assert got[3] == 0
    assert got[0] == got[5]  # identical payloads => identical signatures
    # uniform payload: every non-empty block mean equals the global mean,
    # so every bit with pixels is SET (ties => 1)
    assert got[1] == _py_blockhash("aaaaaaaa") != 0


def test_blockhash_brightness_shift_invariance(spark):
    # block-mean vs global-mean comparison is invariant to adding a
    # constant to every pixel: (sb + c*cb)*n >= (tot + c*n)*cb  <=>
    # sb*n >= tot*cb. 'a'..'j' shifted by +1 per char is NOT a constant
    # shift; chr(ord(c)+5) applied uniformly IS.
    base = "the quick brown fox jumps over the lazy dog"
    shifted = "".join(chr(ord(c) + 5) for c in base)
    got = _blockhash_over_texts(spark, [(0, base), (1, shifted)])
    assert got[0] == got[1]


def test_hamming_band_pairs_rejects_degenerate_n_chunks(spark):
    # n_chunks=1 divides 64 but its chunk mask (1<<64)-1 overflows the
    # LongType literal AND a single band is full-signature equality —
    # reject loudly instead of the opaque Py4J plan-build error (ADVICE
    # r10); n_chunks=3 fails the divisibility arm.
    import pytest

    from ibis_flink_example_spark.operators import dedup as D

    sigd = spark.createDataFrame([(0, 0), (1, 1)], "id long, sig long")
    for bad in (1, 0, 3, 128):
        with pytest.raises(ValueError, match="n_chunks"):
            D.hamming_band_pairs(
                sigd, id_col="id", sig_col="sig", max_hamming=1, n_chunks=bad
            )


def test_attach_eager_checkpoints_inherits_through_wrapping(spark):
    # the centralized handle idiom (ADVICE r10): producers attach via
    # handles=, combinators inherit from EVERY input; a frame without
    # the attribute contributes nothing and gains nothing.
    from pyspark.sql import functions as F

    from ibis_flink_example_spark.operators.checkpoints import (
        attach_eager_checkpoints,
    )

    a = spark.range(3)
    ck1, ck2 = spark.range(1), spark.range(2)
    prod = attach_eager_checkpoints(a.select("id"), handles=(ck1,))
    assert prod._eager_checkpoints == (ck1,)
    # a transformation drops the attribute (the failure mode the helper
    # exists for) — re-attach inherits the producer's handle
    wrapped = attach_eager_checkpoints(prod.filter(F.col("id") >= 0), prod)
    assert wrapped._eager_checkpoints == (ck1,)
    # combinator: inherits from both inputs plus its own handle
    other = attach_eager_checkpoints(spark.range(4), handles=(ck2,))
    combined = attach_eager_checkpoints(wrapped.union(other), wrapped, other)
    assert combined._eager_checkpoints == (ck1, ck2)
    plain = spark.range(5)
    assert not hasattr(attach_eager_checkpoints(plain), "_eager_checkpoints")
    # stacking onto a frame that ALREADY carries handles must merge, not
    # overwrite (review r11: the helper itself dropping handles would be
    # the exact bug class it exists to prevent)
    stacked = attach_eager_checkpoints(prod, handles=(ck2,))
    assert stacked._eager_checkpoints == (ck1, ck2)


def test_hamming_band_pairs_lossless_vs_allpairs(spark):
    import itertools
    import random

    rng = random.Random(7)
    base = rng.getrandbits(63)
    sigs = []
    for i in range(40):
        flips = rng.sample(range(64), rng.randint(0, 6))
        v = base
        for b in flips:
            v ^= 1 << b
        sigs.append((i, v - (1 << 64) if v >= (1 << 63) else v))
    sigd = spark.createDataFrame(sigs, "id long, sig long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.hamming_band_pairs(
            sigd, id_col="id", sig_col="sig", max_hamming=12, n_chunks=16
        ).collect()
    }
    exp = {}
    for (ia, va), (ib, vb) in itertools.combinations(sigs, 2):
        h = bin((va ^ vb) & ((1 << 64) - 1)).count("1")
        if h <= 12:
            exp[(ia, ib)] = h
    assert got == exp  # banding at h <= n_chunks-1 is lossless


def test_hamming_band_pairs_lossy_regime_is_subset_with_full_close_recall(spark):
    # above n_chunks-1 the banding is best-effort: the result must be a
    # SUBSET of the true <= max_hamming pairs and must still contain ALL
    # pairs within the lossless radius n_chunks-1
    import itertools
    import random

    rng = random.Random(11)
    base = rng.getrandbits(63)
    sigs = []
    for i in range(30):
        v = base
        for b in rng.sample(range(64), rng.randint(0, 8)):
            v ^= 1 << b
        sigs.append((i, v - (1 << 64) if v >= (1 << 63) else v))
    sigd = spark.createDataFrame(sigs, "id long, sig long")
    got = {
        (r["id_a"], r["id_b"])
        for r in D.hamming_band_pairs(
            sigd, id_col="id", sig_col="sig", max_hamming=8, n_chunks=4
        ).collect()
    }
    true_pairs, close_pairs = set(), set()
    for (ia, va), (ib, vb) in itertools.combinations(sigs, 2):
        h = bin((va ^ vb) & ((1 << 64) - 1)).count("1")
        if h <= 8:
            true_pairs.add((ia, ib))
        if h <= 3:
            close_pairs.add((ia, ib))
    assert got <= true_pairs
    assert close_pairs <= got


def test_phash_neardup_pairs_finds_planted_neardup(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    # small local edit: one char bumped mid-payload => few blocks change
    edited = base[:100] + "Z" + base[101:]
    unrelated = "zzzz AAAA " * 40
    media = spark.createDataFrame(
        [(0, base), (1, edited), (2, unrelated)],
        "media_id long, payload string",
    ).select("media_id", F.col("payload").cast("binary").alias("payload"))
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in M.phash_neardup_pairs(
            media, max_hamming=12, n_chunks=16, max_bucket_size=None
        ).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] <= 12
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_phash_neardup_pairs_capped_config_finds_planted_neardup(spark):
    """The PRODUCTION configuration (8 chunks x 8 bits, Hamming <= 7,
    max_bucket_size ON — the image_phash_neardup_pairs_capped query and
    the operator defaults) must also recover a planted near-dup: its
    fixture driver row is legitimately 0-pairs, so without this pin the
    capped band/cap plumbing has no recall evidence."""
    base = "the quick brown fox jumps over the lazy dog " * 8
    edited = base[:100] + "Z" + base[101:]  # same length: blocks align
    unrelated = "zzzz AAAA " * 40
    media = spark.createDataFrame(
        [(0, base), (1, edited), (2, unrelated)],
        "media_id long, payload string",
    ).select("media_id", F.col("payload").cast("binary").alias("payload"))
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in M.phash_neardup_pairs(
            media, max_hamming=7, n_chunks=8, max_bucket_size=50_000
        ).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] <= 7
    assert (0, 2) not in pairs and (1, 2) not in pairs


# --- r10: epoch shuffle / training order --------------------------------------


def test_epoch_shuffle_plan_properties(spark):
    from ibis_flink_example_spark.operators.sampling import epoch_shuffle_plan

    docs = spark.createDataFrame(
        [(i,) for i in range(120)], "doc_id long"
    )
    plan = epoch_shuffle_plan(
        docs, id_col="doc_id", n_epochs=3, n_shards=4
    ).collect()
    assert len(plan) == 360  # every doc in every epoch exactly once
    by_epoch: dict[int, list] = {}
    by_part: dict[tuple, list] = {}
    for r in plan:
        by_epoch.setdefault(r["epoch"], []).append(r)
        by_part.setdefault((r["epoch"], r["shard"]), []).append(
            r["seq_in_shard"]
        )
    for e, rows in by_epoch.items():
        assert sorted(r["doc_id"] for r in rows) == list(range(120))
    for key, seqs in by_part.items():
        assert sorted(seqs) == list(range(1, len(seqs) + 1)), key
    # epochs are DIFFERENT permutations (overwhelmingly; fixed hash)
    order0 = [
        (r["shard"], r["seq_in_shard"], r["doc_id"])
        for r in sorted(by_epoch[0], key=lambda r: r["doc_id"])
    ]
    order1 = [
        (r["shard"], r["seq_in_shard"], r["doc_id"])
        for r in sorted(by_epoch[1], key=lambda r: r["doc_id"])
    ]
    assert order0 != order1


def test_epoch_shuffle_shard_is_per_doc_pure(spark):
    # rendezvous shard assignment depends only on (doc_id, epoch) — a
    # subset corpus must assign the SAME shards (the property that makes
    # incremental corpus growth not reshuffle existing training shards)
    from ibis_flink_example_spark.operators.sampling import epoch_shuffle_plan

    full = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    sub = full.filter(F.col("doc_id") < 30)
    sh_full = {
        (r["epoch"], r["doc_id"]): r["shard"]
        for r in epoch_shuffle_plan(
            full, id_col="doc_id", n_epochs=2, n_shards=4
        ).collect()
    }
    sh_sub = {
        (r["epoch"], r["doc_id"]): r["shard"]
        for r in epoch_shuffle_plan(
            sub, id_col="doc_id", n_epochs=2, n_shards=4
        ).collect()
    }
    for k, v in sh_sub.items():
        assert sh_full[k] == v


# --- r10: ROC QA ---------------------------------------------------------------


def _py_roc_auc(pairs):
    """Tie-aware AUC over (score, label) pairs — O(n²) reference."""
    pos = [s for s, l in pairs if l]
    neg = [s for s, l in pairs if not l]
    num = 0.0
    for p in pos:
        for q in neg:
            num += 1.0 if p > q else (0.5 if p == q else 0.0)
    return num / (len(pos) * len(neg))


def test_roc_auc_matches_reference_with_ties(spark):
    from ibis_flink_example_spark.operators.evaluation import roc_auc

    pairs = [
        (900000, True), (900000, False), (800000, True), (700000, True),
        (700000, False), (700000, False), (500000, True), (300000, False),
        (300000, True), (100000, False), (100000, False), (0, True),
    ]
    df = spark.createDataFrame(pairs, "score long, label boolean")
    row = roc_auc(df, score_col="score", label_col="label").first()
    exp = _py_roc_auc(pairs)
    assert row["n_pos"] == 6 and row["n_neg"] == 6
    assert row["auc_x1e6"] == int(exp * 1_000_000)  # exact rank statistic


def test_roc_auc_perfect_and_inverted(spark):
    from ibis_flink_example_spark.operators.evaluation import roc_auc

    perfect = [(10, False), (20, False), (30, True), (40, True)]
    inverted = [(s, not l) for s, l in perfect]
    for pairs, want in ((perfect, 1_000_000), (inverted, 0)):
        df = spark.createDataFrame(pairs, "score long, label boolean")
        assert roc_auc(df, score_col="score", label_col="label").first()[
            "auc_x1e6"
        ] == want


def test_roc_threshold_sweep_confusion_counts(spark):
    from ibis_flink_example_spark.operators.evaluation import (
        roc_threshold_sweep,
    )

    pairs = [
        (900000, True), (700000, True), (700000, False),
        (500000, False), (500000, True), (100000, False),
    ]
    df = spark.createDataFrame(pairs, "score long, label boolean")
    rows = {
        r["threshold"]: r
        for r in roc_threshold_sweep(
            df, score_col="score", label_col="label"
        ).collect()
    }
    n_pos, n_neg = 3, 3
    for t, r in rows.items():
        tp = sum(1 for s, l in pairs if l and s >= t)
        fp = sum(1 for s, l in pairs if not l and s >= t)
        assert (r["tp"], r["fp"]) == (tp, fp), t
        assert r["fn"] == n_pos - tp and r["tn"] == n_neg - fp
        assert r["tpr_x1e6"] == tp * 1_000_000 // n_pos
        assert r["fpr_x1e6"] == fp * 1_000_000 // n_neg
        assert r["precision_x1e6"] == tp * 1_000_000 // (tp + fp)
        assert r["f1_x1e6"] == 2 * tp * 1_000_000 // (2 * tp + fp + (n_pos - tp))
    assert set(rows) == {900000, 700000, 500000, 100000}


def test_blockhash_pixel_bound_raises_loudly(spark):
    # the int64 overflow bound is a loud contract, not a silent wrap
    import pytest
    from pyspark.errors import SparkRuntimeException

    big = spark.range(1).select(
        F.col("id").alias("media_id"),
        F.expr("sequence(0, 2000001)").alias("px"),
    )
    with pytest.raises(SparkRuntimeException, match="2M pixels"):
        M.blockhash_signatures(
            big, id_col="media_id", pixels_col="px", sig_col="sig"
        ).collect()
    ok = spark.range(1).select(
        F.col("id").alias("media_id"),
        F.expr("sequence(0, 100)").alias("px"),
    )
    assert (
        M.blockhash_signatures(
            ok, id_col="media_id", pixels_col="px", sig_col="sig"
        ).count()
        == 1
    )


def test_mixture_schedule_prefix_proportionality(spark):
    from ibis_flink_example_spark.operators.sampling import mixture_schedule

    # skewed sources: 300 'web', 60 'code', 12 'math'
    rows = (
        [(i, "web") for i in range(300)]
        + [(1000 + i, "code") for i in range(60)]
        + [(2000 + i, "math") for i in range(12)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mixture_schedule(df, id_col="doc_id", source_col="source").collect()
    assert len(out) == 372
    # vt in [0, scale); per-source vts are the n_s evenly spaced midpoints
    scale = 10**12
    by_src: dict[str, list[int]] = {}
    for r in out:
        assert 0 <= r["vt_scaled"] < scale
        by_src.setdefault(r["source"], []).append(r["vt_scaled"])
    for src, n in (("web", 300), ("code", 60), ("math", 12)):
        assert sorted(by_src[src]) == [
            ((2 * k - 1) * scale) // (2 * n) for k in range(1, n + 1)
        ]
    # prefix proportionality: any vt-prefix carries each source in
    # proportion (within 1 doc) — the property the schedule exists for
    ordered = sorted(out, key=lambda r: (r["vt_scaled"], r["source"], r["doc_id"]))
    for frac in (0.25, 0.5, 0.75):
        cut = int(len(ordered) * frac)
        got = {s: 0 for s in by_src}
        for r in ordered[:cut]:
            got[r["source"]] += 1
        for src, n in (("web", 300), ("code", 60), ("math", 12)):
            assert abs(got[src] - frac * n) <= 1, (frac, src, got[src])


def test_mixture_schedule_two_level_rank_equals_naive_window(spark):
    from pyspark.sql.window import Window as W

    from ibis_flink_example_spark.operators.sampling import mixture_schedule

    df = spark.createDataFrame(
        [(i, "s" + str(i % 3)) for i in range(200)], "doc_id long, source string"
    )
    out = {
        r["doc_id"]: r["seq_in_source"]
        for r in mixture_schedule(
            df, id_col="doc_id", source_col="source"
        ).collect()
    }
    naive = {
        r["doc_id"]: r["k"]
        for r in df.select(
            "doc_id",
            F.row_number()
            .over(
                W.partitionBy("source").orderBy(
                    F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))),
                    "doc_id",
                )
            )
            .alias("k"),
        ).collect()
    }
    assert out == naive  # bucket split is order-compatible


def test_image_neardup_clusters_groups_planted_neardup(spark):
    from ibis_flink_example_spark.operators.dedup import connected_components

    base = "the quick brown fox jumps over the lazy dog " * 8
    edited = base[:100] + "Z" + base[101:]
    other = "zzzz AAAA " * 40
    media = spark.createDataFrame(
        [(0, base), (1, edited), (2, other)],
        "media_id long, payload string",
    ).select("media_id", F.col("payload").cast("binary").alias("payload"))
    pairs = M.phash_neardup_pairs(
        media, max_hamming=12, n_chunks=16, max_bucket_size=None
    )
    comp = {
        r["media_id"]: r["component"]
        for r in connected_components(
            pairs, media.select("media_id"), id_col="media_id"
        ).collect()
    }
    assert comp[0] == comp[1] == 0  # near-dups share the min-id component
    assert comp[2] == 2  # unrelated doc stays a singleton


def test_average_precision_matches_reference(spark):
    from ibis_flink_example_spark.operators.evaluation import (
        average_precision,
    )

    pairs = [
        (900000, True), (800000, False), (700000, True), (700000, True),
        (500000, False), (500000, True), (300000, False), (100000, True),
    ]
    df = spark.createDataFrame(pairs, "score long, label boolean")
    row = average_precision(df, score_col="score", label_col="label").first()
    # step-form reference with the SAME nested floor divisions
    by_score = {}
    for s, l in pairs:
        np_, nn_ = by_score.get(s, (0, 0))
        by_score[s] = (np_ + (1 if l else 0), nn_ + (0 if l else 1))
    tp = fp = 0
    num = 0
    for s in sorted(by_score, reverse=True):
        np_, nn_ = by_score[s]
        tp += np_; fp += nn_
        num += np_ * (tp * 1_000_000 // (tp + fp))
    exp = num // sum(1 for _, l in pairs if l)
    assert row["ap_x1e6"] == exp
    assert row["n_pos"] == 5 and row["n_neg"] == 3
    # perfect ranking => AP = 1
    perfect = [(10, False), (20, True), (30, True)]
    dfp = spark.createDataFrame(perfect, "score long, label boolean")
    assert average_precision(dfp, score_col="score", label_col="label").first()[
        "ap_x1e6"
    ] == 1_000_000


def test_roc_auc_by_group_single_class_is_null(spark):
    from ibis_flink_example_spark.operators.evaluation import roc_auc_by_group

    rows = [
        ("a", 10, True), ("a", 20, False), ("a", 30, True),
        ("b", 10, True), ("b", 20, True),  # single-class group
    ]
    df = spark.createDataFrame(rows, "src string, score long, label boolean")
    got = {
        r["src"]: r
        for r in roc_auc_by_group(
            df, score_col="score", label_col="label", group_cols=("src",)
        ).collect()
    }
    assert got["b"]["auc_x1e6"] is None
    # group a: pos {10, 30}, neg {20} -> pairs (10<20 lose, 30>20 win) = 0.5
    assert got["a"]["auc_x1e6"] == 500000


def test_average_precision_no_positives_is_null(spark):
    from ibis_flink_example_spark.operators.evaluation import (
        average_precision,
    )

    df = spark.createDataFrame(
        [(10, False), (20, False)], "score long, label boolean"
    )
    row = average_precision(df, score_col="score", label_col="label").first()
    assert row["n_pos"] == 0 and row["ap_x1e6"] is None  # no ANSI crash


def test_fixed_merge_token_count_equals_symbol_encoder(spark, sf_dir):
    """The closed-form rank-ordered replace chain must equal the REAL
    symbol-rewriting BPE encoder (lowest-rank-first, leftmost tie-break)
    under the frozen merge table — corpus-wide AND on adversarial
    cascade words the fixture vocabulary never hits."""
    from pyspark.sql import functions as F

    from ibis_flink_example_spark.operators import bpe as B

    merges = [(i, l, r, 0) for i, (l, r) in enumerate(B.FIXED_DEMO_MERGES)]

    def assert_equal(docs):
        enc = B.bpe_encode_token_counts(docs, merges)
        flat = docs.select(
            "doc_id", B.fixed_merge_token_count("text").alias("n_flat")
        )
        bad = (
            enc.join(flat, "doc_id")
            .filter(F.col("n_tokens_bpe") != F.col("n_flat"))
            .count()
        )
        assert bad == 0

    assert_equal(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
    )
    # cascades: rank-2 consumes rank-1's output; 'er' vs 're' priority;
    # overlapping candidates ('inther': in+the+r, not in+th+er); empty,
    # whitespace-only, multi-space
    tricky = [
        "inther there thethe winter python,stone!",
        "ere rere erere reer ther sthe thin sthin",
        "",
        "   ",
        "a  b\tth\nthe",
        "ananan ononon thth erer rere stst inin",
        # U+000B: Java \s strips it, RE2 \s does NOT — the explicit
        # whitespace class must keep all three implementations agreeing
        "a\x0Bb the\x0Bin \x0B",
    ]
    assert_equal(
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(tricky)], "doc_id long, text string"
        )
    )


def test_fixed_merge_token_count_rejects_placeholder_codepoints(spark):
    """Text containing U+0001..U+0008 would alias merged symbols — the
    guard must raise loudly instead of silently folding."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from ibis_flink_example_spark.operators import bpe as B

    df = spark.createDataFrame([(0, "ok \x03 bad")], "doc_id long, text string")
    with pytest.raises(SparkRuntimeException, match="placeholder"):
        df.select(B.fixed_merge_token_count("text")).collect()


def test_mixture_reweight_iterative_matches_python_sim(spark):
    """Exact integer equality vs a pure-Python simulation of the
    multiplicative-weights recursion, plus the semantics the update
    exists for: above-mean domains gain weight, below-mean lose it,
    and the weighted mean drifts toward the high scorers."""
    from ibis_flink_example_spark.operators import sampling as SA

    scores = {"a": 100_000, "b": 500_000, "c": 900_000, "d": 0}
    sdf = spark.createDataFrame(
        [(k, v) for k, v in scores.items()], "source string, s long"
    )
    out = {
        r["source"]: r["weight_x1000000"]
        for r in SA.mixture_reweight_iterative(
            sdf, domain_col="source", score_col="s", n_iters=5
        ).collect()
    }

    w = {k: 1_000_000 for k in scores}
    for _ in range(5):
        mean = sum(w[k] * scores[k] for k in w) // sum(w.values())
        w = {
            k: w[k] * max(1_000_000 + (scores[k] - mean), 1) // 1_000_000
            for k in w
        }
    assert out == w
    # direction: the top scorer gained, the bottom lost, ordering by
    # score is preserved in the final weights
    assert out["c"] > 1_000_000 > out["d"]
    assert out["c"] > out["b"] > out["a"] > out["d"]


def test_mixture_reweight_zero_iters_is_uniform(spark):
    from ibis_flink_example_spark.operators import sampling as SA

    sdf = spark.createDataFrame([("x", 7), ("y", 9)], "source string, s long")
    out = SA.mixture_reweight_iterative(
        sdf, domain_col="source", score_col="s", n_iters=0
    ).collect()
    assert {r["weight_x1000000"] for r in out} == {1_000_000}


def test_gopher_flags_adversarial_line_rules(spark):
    """The parquet fixtures carry no newlines/bullets/symbols, so the
    oracle gate never exercises the Gopher LINE rules — pin them here on
    crafted docs: a bulleted list fails pass_lines, ellipsis-heavy text
    fails pass_lines, a hashtag-dense doc fails pass_symbol_ratio, a
    numeric doc fails pass_alpha_frac, and a clean 60-word English doc
    passes everything."""
    from ibis_flink_example_spark.operators.text import gopher_flags

    clean = (
        "the quick brown fox jumps over the lazy dog and that one have "
        "been seen with many other animals of note " * 3
    ).strip()  # 63 words, all alpha, required words present
    bullets = "\n".join(f"• item {i} of the list" for i in range(10))
    ellipsis = "\n".join(f"to be continued with that {i}..." for i in range(10))
    symbols = " ".join("#tag" for _ in range(60))
    numeric = " ".join(str(i) for i in range(60))
    rows = [
        (1, clean),
        (2, bullets),
        (3, ellipsis),
        (4, symbols),
        (5, numeric),
        (6, "too short to pass the word count rule"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in gopher_flags(df, "text", "doc_id").collect()}

    assert out[1]["pass_gopher"] is True
    assert out[1]["n_words"] == 63 and out[1]["req_word_kinds"] >= 2

    assert out[2]["bullet_lines"] == 10 and out[2]["n_lines"] == 10
    assert out[2]["pass_lines"] is False  # 100% bulleted >= 90% cap

    assert out[3]["ellipsis_lines"] == 10
    assert out[3]["pass_lines"] is False  # 100% ellipsis-ended >= 30% cap
    # the '...' occurrences also count as symbols: 10 symbols / 60 words
    assert out[3]["symbol_hits"] == 10

    assert out[4]["symbol_hits"] == 60
    assert out[4]["pass_symbol_ratio"] is False

    assert out[5]["n_alpha_words"] == 0
    assert out[5]["pass_alpha_frac"] is False

    assert out[6]["pass_word_count"] is False
    assert out[6]["pass_gopher"] is False


def test_ranking_metrics_hand_computed(spark):
    """Pin nDCG@k / MRR / P@k / R@k on a crafted ranking where every
    quantity is hand-derivable: candidates ranked 1..5 by score, gold =
    {ranks 2 and 4} plus one doc OUTSIDE the candidate list (recall
    denominator 3). k=3 so only the rank-2 hit is inside the cutoff."""
    from ibis_flink_example_spark.operators.evaluation import (
        _dcg_discounts_x1e6,
        ranking_metrics,
    )

    ranked = spark.createDataFrame(
        [(10, 500), (11, 400), (12, 300), (13, 200), (14, 100)],
        "doc_id long, score_x1e6 long",
    )
    gold = spark.createDataFrame([(11,), (13,), (99,)], "doc_id long")
    row = ranking_metrics(
        ranked, gold, id_col="doc_id", order_cols=("score_x1e6",), k=3
    ).collect()[0]
    disc = _dcg_discounts_x1e6(3)
    assert row["k"] == 3 and row["n_rel_total"] == 3
    assert row["hits_at_k"] == 1  # only rank-2 (doc 11) is <= k
    assert row["first_rel_rank"] == 2
    assert row["mrr_x1e6"] == 1_000_000 // 2
    assert row["dcg_at_k"] == disc[1]  # one hit at rank 2
    assert row["idcg_at_k"] == sum(disc)  # min(n_rel=3, k=3) ideal hits
    assert row["ndcg_at_k_x1e6"] == disc[1] * 1_000_000 // sum(disc)
    assert row["precision_at_k_x1e6"] == 1_000_000 // 3
    assert row["recall_at_k_x1e6"] == 1_000_000 // 3


def test_ranking_metrics_empty_gold_and_no_hits(spark):
    """Degenerate regimes: empty gold -> NULL nDCG/recall, zero MRR;
    nonempty gold disjoint from candidates -> zeros, not NULLs."""
    from ibis_flink_example_spark.operators.evaluation import ranking_metrics

    ranked = spark.createDataFrame(
        [(1, 50), (2, 40)], "doc_id long, score_x1e6 long"
    )
    empty = spark.createDataFrame([], "doc_id long")
    r = ranking_metrics(ranked, empty, id_col="doc_id", k=3).collect()[0]
    assert r["n_rel_total"] == 0 and r["mrr_x1e6"] == 0
    assert r["ndcg_at_k_x1e6"] is None and r["recall_at_k_x1e6"] is None

    disjoint = spark.createDataFrame([(77,)], "doc_id long")
    r2 = ranking_metrics(ranked, disjoint, id_col="doc_id", k=3).collect()[0]
    assert r2["hits_at_k"] == 0 and r2["first_rel_rank"] == 0
    assert r2["mrr_x1e6"] == 0 and r2["dcg_at_k"] == 0
    assert r2["ndcg_at_k_x1e6"] == 0 and r2["recall_at_k_x1e6"] == 0


def test_priority_sample_estimator_properties(spark):
    """Priority-sampling invariants on a 200-row corpus: exactly k rows;
    deterministic across runs; every priority >= its weight (u <= 1); tau
    logic — each estimate is max(weight, tau) with one shared tau; and
    the estimator sums to within 35% of true total weight (the DLT bound
    is probabilistic; the md5 draw is fixed, so this is a pinned value,
    not a flaky assertion)."""
    from ibis_flink_example_spark.operators.sampling import priority_sample

    rows = [(i, 1 + (i * 37) % 500) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    out = priority_sample(df, id_col="doc_id", weight_col="w", k=40).collect()
    assert len(out) == 40
    assert all(r["priority"] >= r["weight"] for r in out)
    taus = {r["est_weight"] for r in out if r["est_weight"] > r["weight"]}
    assert len(taus) == 1  # one global tau threshold
    total = sum(w for _, w in rows)
    est = sum(r["est_weight"] for r in out)
    assert abs(est - total) / total < 0.35
    again = priority_sample(
        df.repartition(7), id_col="doc_id", weight_col="w", k=40
    ).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(r["doc_id"] for r in out)


def test_priority_sample_small_corpus_is_exact(spark):
    """Corpus <= k: no (k+1)-th priority exists, tau = 0, and every
    estimate equals the true weight — the estimator degrades to exact
    enumeration instead of inflating."""
    from ibis_flink_example_spark.operators.sampling import priority_sample

    df = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "doc_id long, w long")
    out = priority_sample(df, id_col="doc_id", weight_col="w", k=5).collect()
    assert len(out) == 3
    assert all(r["est_weight"] == r["weight"] for r in out)


def test_priority_sample_rejects_bad_weights(spark):
    import pytest as _pytest

    from ibis_flink_example_spark.operators.sampling import priority_sample

    df = spark.createDataFrame([(1, -5)], "doc_id long, w long")
    with _pytest.raises(Exception, match="priority_sample"):
        priority_sample(df, id_col="doc_id", weight_col="w", k=2).collect()
    with _pytest.raises(ValueError):
        priority_sample(df, id_col="doc_id", weight_col="w", k=0)


def test_vocab_coverage_two_level_equals_naive_window(spark):
    """The log2-bucketed two-level prefix sum must equal the naive global
    (cnt DESC, term ASC) window on a skewed synthetic vocabulary,
    including count TIES and exact power-of-two counts (the bucket
    boundary cases); every target is crossed by exactly one rank."""
    import collections

    from ibis_flink_example_spark.operators.text import vocab_coverage

    text = " ".join(
        ["alpha"] * 64 + ["beta"] * 64 + ["gamma"] * 32 + ["delta"] * 17
        + ["eps"] * 16 + ["zeta"] * 3 + ["eta"] * 2 + ["theta"] * 1 + ["iota"] * 1
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = vocab_coverage(df, text_col="text", targets=(50, 90, 99)).collect()

    counts = collections.Counter(text.split())
    order = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(counts.values())
    cum, expect = 0, {}
    for rank, (_, c) in enumerate(order, start=1):
        prev = cum
        cum += c
        for t in (50, 90, 99):
            if cum * 100 >= t * total and prev * 100 < t * total:
                expect[t] = (rank, cum)
    got = {r["target_pct"]: (r["rank"], r["cum_tokens"]) for r in out}
    assert got == expect
    assert all(r["total_tokens"] == total for r in out)
    assert all(r["vocab_size"] == len(counts) for r in out)
    assert len(out) == 3  # exactly one crossing row per target


def test_triangle_count_hand_built_graphs(spark):
    """Pin triangle counting on graphs with known answers: K4 (4
    triangles), a 5-spoke star (0 triangles — and 0 wedges from the hub,
    the degree-orientation guarantee), a triangle with a pendant edge
    (1), and duplicate/reversed/self-loop edges that must canonicalize
    away."""
    from ibis_flink_example_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    r = triangle_count(
        spark.createDataFrame(k4, "src long, dst long")
    ).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)

    star = [(0, i) for i in range(1, 6)]
    r = triangle_count(
        spark.createDataFrame(star, "src long, dst long")
    ).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_wedges"], r["n_triangles"]) == (
        6, 5, 0, 0,
    )

    messy = [(1, 2), (2, 1), (2, 3), (1, 3), (3, 3), (3, 4), (1, 2)]
    r = triangle_count(
        spark.createDataFrame(messy, "src long, dst long")
    ).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 4, 1)


def test_ks_two_sample_hand_computed(spark):
    """KS on separable and identical samples: disjoint supports give
    D = 1 at the last A value; identical samples give D = 0; a partial
    shift pins the exact sup and argmax (hand-enumerated ECDFs)."""
    from ibis_flink_example_spark.operators.evaluation import ks_two_sample

    def run(a_vals, b_vals):
        rows = [(v, True) for v in a_vals] + [(v, False) for v in b_vals]
        df = spark.createDataFrame(rows, "v long, is_a boolean")
        return ks_two_sample(df, value_col="v", group_col="is_a").collect()[0]

    r = run([1, 2, 3], [4, 5, 6])
    assert (r["d_x1e6"], r["d_at_value"]) == (1_000_000, 3)
    assert r["reject_05"] is False  # n=3 vs 3: crit > 1 at this size

    r = run([1, 2, 3], [1, 2, 3])
    assert r["d_x1e6"] == 0

    # A = {1,1,2,4}, B = {2,3,4,4}: ECDF gaps |cumA*4 - cumB*4| reach the
    # sup 8/16 = 1/2 at BOTH value 1 (2-0) and value 2 (3-1); the argmax
    # contract is the SMALLEST attaining value
    r = run([1, 1, 2, 4], [2, 3, 4, 4])
    assert (r["d_x1e6"], r["d_at_value"]) == (500_000, 1)


def test_hard_negative_mining_planted_geometry(spark):
    """Plant a geometry where the hardest negative is unambiguous: anchor
    (label 0) at e1; a label-1 vector at cos ~0.995, another label-1 at
    cos ~0.1, and a label-0 DECOY at cos 1.0 that must be EXCLUDED by the
    label filter despite being the global nearest neighbor."""
    from ibis_flink_example_spark.operators.similarity import (
        hard_negative_mining,
    )

    rows = [
        (0, [1.0, 0.0, 0.0], 0),          # anchor
        (1, [1.0, 0.0, 0.0], 0),          # same-label decoy, cos = 1
        (2, [0.995, 0.0998, 0.0], 1),     # hard negative
        (3, [0.1, 0.995, 0.0], 1),        # easy negative
        (4, [0.0, 0.0, 1.0], 1),          # orthogonal negative
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    anchors = df.filter("vec_id = 0")
    out = hard_negative_mining(
        df, anchors, id_col="vec_id", vec_col="embedding", label_col="label", k=2
    ).collect()
    got = [(r["vec_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(2, 1), (3, 2)]
    assert all(r["neg_label"] != r["anchor_label"] for r in out)
    assert 1 not in {r["vec_id"] for r in out}  # same-label decoy excluded


def test_ks_vs_pooled_matches_bruteforce(spark):
    """ks_vs_pooled's two-limit trick (right gap + left gap at the
    group's own values) must equal a brute-force sup over ALL pooled jump
    points — including groups whose values skip pool-only jumps, the case
    the left-limit term exists for."""
    from ibis_flink_example_spark.operators.evaluation import ks_vs_pooled

    counts = [
        # group A concentrated low, never sees values 30/40
        ("A", 10, 5), ("A", 20, 5),
        # group B concentrated high
        ("B", 30, 4), ("B", 40, 6),
        # group C spread out
        ("C", 10, 2), ("C", 30, 2), ("C", 40, 2),
    ]
    df = spark.createDataFrame(counts, "g string, v long, c long")
    out = {
        r["g"]: (r["n_group"], r["n_pool"], r["d_x1e6"])
        for r in ks_vs_pooled(
            df, group_cols=("g",), value_col="v", count_col="c"
        ).collect()
    }

    from collections import defaultdict

    pool = defaultdict(int)
    per_g = defaultdict(lambda: defaultdict(int))
    for g, v, c in counts:
        pool[v] += c
        per_g[g][v] += c
    values = sorted(pool)
    n_pool = sum(pool.values())
    for g, vc in per_g.items():
        n_g = sum(vc.values())
        cum_g = cum_p = 0
        best = 0
        for v in values:  # sup over every pooled jump point
            cum_g += vc.get(v, 0)
            cum_p += pool[v]
            best = max(best, abs(cum_g * n_pool - cum_p * n_g))
        expect = best * 1_000_000 // (n_g * n_pool)
        assert out[g] == (n_g, n_pool, expect), g

def test_ws_class_vertical_tab_cross_engine_agreement(spark):
    """The late-r11 whitespace sweep: Java \\s includes U+000B, RE2
    (DuckDB) \\s does not, so every engine+oracle pair now uses the
    explicit WS_CLASS on both sides. Prove agreement on the one payload
    the shorthand diverged on: a vertical-tab-separated doc must tokenize
    identically in Spark (words(), token_count_whitespace) and DuckDB
    (regexp_split_to_array with the same class)."""
    import duckdb

    from ibis_flink_example_spark.operators.dedup import WS_SPLIT, words
    from ibis_flink_example_spark.operators.text import (
        fingerprint,
        token_count_whitespace,
    )

    payload = "alpha\x0bbeta gamma\tdelta\x0b\x0beps"
    df = spark.createDataFrame([(1, payload)], "doc_id long, text string")
    row = df.select(
        words("text").alias("ws"),
        token_count_whitespace("text").alias("n"),
        fingerprint("text").alias("fp"),
    ).collect()[0]
    assert row["ws"] == ["alpha", "beta", "gamma", "delta", "eps"]
    assert row["n"] == 5

    con = duckdb.connect()
    dws, dfp = con.execute(
        r"""
        SELECT regexp_split_to_array(trim(?), '[ \t\n\x0B\f\r]+'),
               md5(lower(regexp_replace(trim(?), '[ \t\n\x0B\f\r]+', ' ', 'g')))
        """,
        [payload, payload],
    ).fetchone()
    assert dws == row["ws"]
    assert dfp == row["fp"]  # normalized fingerprints agree byte-for-byte


def test_bloom_filter_one_sided_guarantee(spark):
    """Bloom membership on crafted keys: every inserted key MUST test
    positive (zero false negatives, the defining guarantee) under any
    partitioning; a saturated 32-bit filter still never false-negatives;
    and a disjoint probe set's false positives stay under a loose bound
    at sensible load."""
    from ibis_flink_example_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    members = spark.createDataFrame([(i,) for i in range(40)], "key long")
    bloom = bloom_build(members, "key", m_bits=1024, k=3)
    self_probe = bloom_probe(
        members.repartition(5), "key", bloom, m_bits=1024, k=3
    )
    assert self_probe.filter("NOT bloom_maybe").count() == 0

    others = spark.createDataFrame([(i,) for i in range(1000, 1400)], "key long")
    fp = bloom_probe(others, "key", bloom, m_bits=1024, k=3).filter(
        "bloom_maybe"
    ).count()
    # load 40*3/1024 -> theoretical fpr ~0.1%; 400 probes -> expect ~0,
    # allow a wide margin (deterministic, but don't pin the exact count)
    assert fp <= 10

    # saturation: tiny filter, many keys -> everything positive, still
    # zero false negatives
    tiny = bloom_build(members, "key", m_bits=32, k=2)
    sp = bloom_probe(members, "key", tiny, m_bits=32, k=2)
    assert sp.filter("NOT bloom_maybe").count() == 0


def test_bloom_build_rejects_bad_geometry(spark):
    import pytest as _pytest

    from ibis_flink_example_spark.operators.sketches import bloom_build

    df = spark.createDataFrame([(1,)], "key long")
    with _pytest.raises(ValueError):
        bloom_build(df, "key", m_bits=100, k=3)  # not a multiple of 32


def test_sparse_cosine_pairs_planted_rare_term_pair(spark):
    """Candidate generation is PREFIX-filtered: two docs sharing only a
    rare token pair up; two docs sharing only ubiquitous tokens do NOT
    (no candidate), even though their unweighted cosine is high. The
    reported cos² must match a hand-computed integer value."""
    import math

    from ibis_flink_example_spark.operators.retrieval import (
        sparse_cosine_pairs,
    )

    common = "alpha beta gamma delta epsilon"
    rows = [
        (1, f"{common} zyzzyx"),
        (2, f"{common} zyzzyx"),
        (3, common),          # shares only common terms with everyone
        (4, common),
        (5, f"{common} qwoph"),  # rare term df=1 -> below min_df, no pairs
    ] + [(10 + i, common) for i in range(60)]  # N=65: rare band is df in [2, 3]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = sparse_cosine_pairs(docs).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in got
    assert all(p == (1, 2) for p in got)  # the ONLY candidate pair

    # hand-compute cos² for (1, 2): identical docs -> cosine exactly 1
    row = out[0]
    assert row["cos2_x1e12"] == 10**12
    assert row["n_shared_terms"] >= 2


def test_md5_minhash_band_rows_properties(spark):
    """Identical shingle sets -> identical band keys in EVERY band;
    disjoint sets share (overwhelmingly) none; row count = bands per
    doc; keys replay the md5 hex-prefix draw exactly (cross-checked
    against a Python-side recomputation)."""
    import hashlib

    from ibis_flink_example_spark.operators.dedup import (
        md5_minhash_band_rows,
    )

    a = [f"tok{i} tok{i+1} tok{i+2}" for i in range(10)]
    c = [f"zz{i} zz{i+1} zz{i+2}" for i in range(10)]
    rows = (
        [(1, s) for s in a] + [(2, s) for s in a] + [(3, s) for s in c]
    )
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    out = md5_minhash_band_rows(sh, id_col="doc_id").collect()
    by_doc: dict[int, dict[int, str]] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["band_idx"]] = r["band_key"]
    assert all(len(b) == 8 for b in by_doc.values())
    assert by_doc[1] == by_doc[2]
    assert all(by_doc[1][i] != by_doc[3][i] for i in range(8))

    # bit-replay: recompute doc 1's band 0 key in pure Python
    # (permutation j = 8-hex slice j%4 of md5 group j//4)
    def h(s, j):
        hx = hashlib.md5(f"{s}:mh:{j // 4}".encode()).hexdigest()
        return int(hx[(j % 4) * 8 : (j % 4) * 8 + 8], 16)

    m0 = min(h(s, 0) for s in a)
    m1 = min(h(s, 1) for s in a)
    assert by_doc[1][0] == f"{m0}:{m1}"


def test_md5_minhash_band_rows_carry_cols(spark):
    """``carry_cols`` projects a per-id-constant column through to every
    band row UNCHANGED and leaves the band keys identical to the
    carry-free call — the r15 ingest contract (the arrival tag rides the
    aggregation as data instead of a per-batch literal, so the generated
    stage code is batch-invariant)."""
    from ibis_flink_example_spark.operators.dedup import (
        md5_minhash_band_rows,
    )

    a = [f"tok{i} tok{i+1} tok{i+2}" for i in range(10)]
    rows = [(1, s, 7) for s in a] + [(2, s, 9) for s in a]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string, arr int")
    out = md5_minhash_band_rows(
        sh, id_col="doc_id", carry_cols=("arr",)
    ).collect()
    assert all(
        r["arr"] == (7 if r["doc_id"] == 1 else 9) for r in out
    ), "carried column must survive per band row"
    base = md5_minhash_band_rows(
        sh.select("doc_id", "shingle"), id_col="doc_id"
    ).collect()
    key = lambda rs: sorted((r["doc_id"], r["band_idx"], r["band_key"]) for r in rs)  # noqa: E731
    assert key(out) == key(base), "carry must not perturb band keys"


def test_drop_hot_keys_lazy_broadcast_hint(spark):
    """The hinted lazy arm returns the same survivors as the eager arm
    and plans the anti-join as a BROADCAST hash join even with AQE off
    (the micro-batch ingest configuration, r15)."""
    from ibis_flink_example_spark.operators.dedup import drop_hot_keys

    rows = [(k, i) for k in ("hot",) for i in range(20)] + [
        ("cold", 0),
        ("cool", 1),
    ]
    df = spark.createDataFrame(rows, "k string, v long")
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = drop_hot_keys(
            df,
            ["k"],
            max_rows_per_key=5,
            lazy=True,
            lazy_broadcast_hint=True,
        )
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
        got = sorted((r["k"], r["v"]) for r in out.collect())
        assert got == [("cold", 0), ("cool", 1)]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_substring_dup_attribution_hot_gram_cap(spark):
    """A gram above ``max_occurrences_per_gram`` contributes NO pairs;
    the docs it would have paired still pair through their rarer shared
    windows. Doc 1/2 share a rare 3-word run; docs 3..8 all share one
    ubiquitous gram (6 occurrences > cap 5) and must produce no rows."""
    from ibis_flink_example_spark.operators.dedup import (
        substring_dup_attribution,
    )

    rare = "alpha beta gamma delta"  # 2 anchors at k=3, shared by 1,2
    common = "x y z"
    rows = [(1, rare), (2, rare)] + [(i, common) for i in range(3, 9)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = substring_dup_attribution(
        df, id_col="doc_id", text_col="text", k=3, max_occurrences_per_gram=5
    ).collect()
    got = {(r["id_a"], r["id_b"]): r for r in out}
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r["n_shared_runs"] == 1
    assert r["shared_anchors"] == 2
    assert r["max_shared_run_tokens"] == 4
    # uncapped: the common gram pairs all 15 combinations of docs 3..8
    un = substring_dup_attribution(
        df, id_col="doc_id", text_col="text", k=3,
        max_occurrences_per_gram=None,
    ).collect()
    assert len(un) == 1 + 15


def test_contamination_hits_attributes_per_eval_set(spark):
    """A train doc sharing a 13-gram with BOTH eval sets hits both; one
    sharing with only one set hits only it; clean docs hit none. The
    short-doc degenerate (whole-text gram) must also attribute."""
    from ibis_flink_example_spark.operators.text import contamination_hits

    g1 = " ".join(f"a{i}" for i in range(13))
    g2 = " ".join(f"b{i}" for i in range(13))
    train = spark.createDataFrame(
        [
            (1, f"{g1} filler words here"),       # hits dev only
            (2, f"{g1} mid {g2}"),                # hits both
            (3, "totally clean document text"),   # no hit
            (4, "tiny"),                          # whole-text gram, hits test
        ],
        "doc_id long, text string",
    )
    evald = spark.createDataFrame(
        [("dev", g1), ("test", g2), ("test", "tiny")],
        "eval_set string, text string",
    )
    got = {
        (r["eval_set"], r["doc_id"])
        for r in contamination_hits(
            train, evald, id_col="doc_id", text_col="text",
            set_col="eval_set", n=13,
        ).collect()
    }
    assert got == {("dev", 1), ("dev", 2), ("test", 2), ("test", 4)}


def test_substring_dup_removal_first_occurrence_wins(spark):
    """Hand-crafted corpus at k=3: a verbatim copy loses ALL tokens
    (clean_md5 = md5('')), a doc sharing a 5-token span with a
    smaller-id doc loses exactly that span (surviving prefix digested),
    and the canonical (min-id) holder plus unique docs lose nothing —
    first-occurrence-wins at span granularity."""
    import hashlib

    from ibis_flink_example_spark.operators.dedup import (
        substring_dup_removal,
    )

    rows = [
        (1, "p q r s t"),        # canonical holder: untouched
        (2, "p q r s t"),        # verbatim copy: loses everything
        (3, "u v p q r s t"),    # shared suffix: loses the 5-token span
        (4, "lone unique words here now"),  # untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in substring_dup_removal(
            df, id_col="doc_id", text_col="text", k=3
        ).collect()
    }
    assert set(out) == {2, 3}  # 1 and 4 lose nothing -> no row
    assert out[2]["n_tokens"] == 5 and out[2]["n_removed"] == 5
    assert out[2]["clean_md5"] == hashlib.md5(b"").hexdigest()
    assert out[3]["n_tokens"] == 7 and out[3]["n_removed"] == 5
    assert out[3]["clean_md5"] == hashlib.md5(b"u v").hexdigest()


def test_lsh_label_agreement_flags_planted_mislabel(spark):
    """Two tight clusters with consistent labels, one vector planted in
    cluster A wearing cluster B's label: the planted vector's neighbors
    all disagree (suspect), the honest vectors agree with theirs, and
    the per-label rollup pins exactly one suspect under the wrong
    label."""
    from ibis_flink_example_spark.operators.similarity import (
        lsh_label_agreement,
    )

    rows = []
    for i in range(12):  # cluster A along +e1
        rows.append((i, [1.0, 0.01 * i, 0.0, 0.0], "a"))
    for i in range(12):  # cluster B along +e2
        rows.append((100 + i, [0.0, 0.01 * i, 1.0, 0.0], "b"))
    rows.append((500, [1.0, 0.05, 0.0, 0.0], "b"))  # planted mislabel in A
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = {
        r["label"]: r
        for r in lsh_label_agreement(
            df, id_col="vec_id", vec_col="embedding", label_col="label",
            k=3, dim=4, n_planes=4, probe_hamming=1,
        ).collect()
    }
    assert out["b"]["n_suspect"] == 1  # exactly the planted vector
    assert out["a"]["n_suspect"] == 0
    assert out["a"]["agreement_x1e6"] > 800_000
    assert out["b"]["n_vectors"] == 13


def test_cohen_kappa_hand_computed_cases(spark):
    """Three hand-computed groups: perfect agreement (kappa=1), perfect
    DISagreement (kappa=-1 — the sign-factored division must not
    truncate toward zero differently than the oracle's floor), and the
    degenerate all-one-cell group where chance agreement is total
    (pe=1 -> NULL, not 0/0)."""
    from ibis_flink_example_spark.operators.evaluation import (
        cohen_kappa_by_group,
    )

    rows = (
        [("perfect", True, True), ("perfect", False, False)]
        + [("inverse", True, False)] * 2
        + [("inverse", False, True)] * 2
        + [("degenerate", True, True)] * 3
    )
    df = spark.createDataFrame(rows, "g string, a boolean, b boolean")
    out = {
        r["g"]: r
        for r in cohen_kappa_by_group(
            df, rater_a_col="a", rater_b_col="b", group_cols=("g",)
        ).collect()
    }
    assert out["perfect"]["kappa_x1e6"] == 1_000_000
    assert out["inverse"]["kappa_x1e6"] == -1_000_000
    assert out["degenerate"]["kappa_x1e6"] is None
    assert out["inverse"]["n_only_a"] == 2 and out["inverse"]["n_only_b"] == 2


def test_cohen_kappa_excludes_null_abstentions(spark):
    """A NULL vote (abstention) must leave EVERY statistic — n_docs
    included. Counting abstentions in n but not in the cells deflates
    po and pe against an inflated denominator: [(T,T),(T,T),(NULL,T)]
    would read kappa=0.4 instead of the correct degenerate NULL over
    the two rated rows."""
    from ibis_flink_example_spark.operators.evaluation import (
        cohen_kappa_by_group,
    )

    rows = [("g", True, True), ("g", True, True), ("g", None, True)]
    df = spark.createDataFrame(rows, "g string, a boolean, b boolean")
    (r,) = cohen_kappa_by_group(
        df, rater_a_col="a", rater_b_col="b", group_cols=("g",)
    ).collect()
    assert r["n_docs"] == 2  # the abstention row is out entirely
    assert r["kappa_x1e6"] is None  # pe = 1 on the rated rows


def test_sparse_cosine_pairs_vocab_broadcast_guard(spark):
    """The per-term df table is corpus-vocabulary-sized — at 100 TB an
    unconditional broadcast of it is a driver OOM. Above the measured
    cardinality budget the join must FALL BACK to a shuffle join (no
    broadcast hint on the vocab frame) and produce identical results."""
    from ibis_flink_example_spark.operators.retrieval import (
        sparse_cosine_pairs,
    )

    common = "alpha beta gamma delta epsilon"
    rows = [
        (1, f"{common} zyzzyx"),
        (2, f"{common} zyzzyx"),
    ] + [(10 + i, common) for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    bc = sparse_cosine_pairs(docs)  # vocab well under the default budget
    fb = sparse_cosine_pairs(docs, max_broadcast_vocab_terms=0)  # forced fallback
    assert sorted(map(tuple, bc.collect())) == sorted(map(tuple, fb.collect()))

    # the weighted-term subtree is reused (norms, rare, wa, wb), so each
    # of its two hints (vocab join + one-row n_docs) appears once per
    # reuse in the analyzed plan; the fallback must drop exactly the
    # vocab-join half and keep the n_docs half
    n_hints_bc = bc._jdf.queryExecution().analyzed().toString().count("ResolvedHint")
    n_hints_fb = fb._jdf.queryExecution().analyzed().toString().count("ResolvedHint")
    assert n_hints_fb == n_hints_bc // 2 and n_hints_fb >= 1


def test_script_profile_mixed_script_detection(spark):
    """The fixtures are pure ASCII, so pin the non-Latin paths on crafted
    docs: a homoglyph attack (Latin text with Cyrillic lookalikes) must
    flag mixed_script; pure Cyrillic must dominate without the flag; a
    digits-only doc has no dominant script. Spark counts must equal
    DuckDB's for the same range table (one shared \\x{...} syntax)."""
    import duckdb

    from ibis_flink_example_spark.operators.text import (
        SCRIPT_RANGES,
        script_profile,
    )

    homoglyph = "pаypаl sеcurity аlert plеase vеrify"  # Cyrillic а/е planted
    cyrillic = "привет мир это тест на кириллице"
    digits = "123 456 789"
    pure = "plain english words only here"
    rows = [(1, homoglyph), (2, cyrillic), (3, digits), (4, pure)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in script_profile(df, "text", "doc_id").collect()}

    assert out[1]["mixed_script"] is True
    assert out[1]["n_cyrillic"] >= 5 and out[1]["n_latin"] > out[1]["n_cyrillic"]
    assert out[1]["dominant_script"] == "latin"

    assert out[2]["dominant_script"] == "cyrillic"
    assert out[2]["mixed_script"] is False and out[2]["n_latin"] == 0

    assert out[3]["dominant_script"] == "none"
    assert out[3]["n_letters"] == 0 and out[3]["n_digit"] == 9

    assert out[4]["dominant_script"] == "latin" and out[4]["mixed_script"] is False

    # cross-engine: the same range table gives the same counts in DuckDB
    con = duckdb.connect()
    for name, rx in SCRIPT_RANGES.items():
        d = con.execute(
            "SELECT len(regexp_extract_all(?, ?))", [homoglyph, rx]
        ).fetchone()[0]
        assert d == out[1][f"n_{name}"], name


def test_audio_frame_plan_boundary_math(spark):
    """Pin the framing boundaries: empty payload -> 0 frames; sub-frame
    clip -> 1 padded frame; exactly one frame -> unpadded; one sample
    past a hop boundary -> extra padded frame; exact multi-frame fit ->
    unpadded."""
    from ibis_flink_example_spark.operators.multimodal import (
        audio_frame_plan,
        audio_metadata,
    )
    from pyspark.sql import functions as F

    rows = [(1, 0), (2, 100), (3, 400), (4, 561), (5, 720)]
    media = spark.createDataFrame(rows, "media_id long, ns int").select(
        "media_id",
        audio_metadata(F.lit(16000), F.col("ns")).alias("metadata"),
    )
    out = {r["media_id"]: r.asDict() for r in audio_frame_plan(media).collect()}
    assert (out[1]["n_frames"], out[1]["tail_padded"]) == (0, False)
    assert out[1]["last_frame_start"] is None
    assert (out[2]["n_frames"], out[2]["tail_padded"]) == (1, True)
    assert (out[3]["n_frames"], out[3]["tail_padded"]) == (1, False)
    # 561 samples: full frames at 0 and 160 end at 560; the 1-sample
    # partial tail is DROPPED (fbank convention), not padded
    assert (out[4]["n_frames"], out[4]["last_frame_start"]) == (2, 160)
    assert out[4]["tail_padded"] is False
    # 720 = 400 + 2*160 exactly -> 3 frames, last ends at sample 720
    assert (out[5]["n_frames"], out[5]["tail_padded"]) == (3, False)


def test_poisson_bootstrap_properties(spark):
    """Bootstrap invariants: the trimmed CI brackets the point mean on a
    well-behaved sample; the whole procedure is a pure function of ids
    (identical under repartitioning); B below the trim budget raises."""
    import pytest as _pytest

    from ibis_flink_example_spark.operators.sampling import (
        poisson_bootstrap_mean_ci,
    )

    rows = [(i, 100 + (i * 17) % 50) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v long")
    r = poisson_bootstrap_mean_ci(
        df, id_col="id", value_col="v", n_replicates=40, trim=2
    ).collect()[0]
    assert r["n_rows"] == 500 and r["b"] == 40
    assert r["ci_lo_mean_x1e6"] <= r["point_mean_x1e6"] <= r["ci_hi_mean_x1e6"]
    assert r["ci_lo_mean_x1e6"] < r["ci_hi_mean_x1e6"]

    r2 = poisson_bootstrap_mean_ci(
        df.repartition(7), id_col="id", value_col="v", n_replicates=40, trim=2
    ).collect()[0]
    assert r2 == r  # deterministic resample, not rng-per-run

    with _pytest.raises(ValueError):
        poisson_bootstrap_mean_ci(
            df, id_col="id", value_col="v", n_replicates=4, trim=2
        )


def test_semdedup_lsh_recall_witness_premise(spark, sf_dir):
    """The recall row must be non-trivially green at gate SFs (the
    capped-image lesson, institutionalized): a fixture rotation that
    empties the blocked-exact truth set — or an LSH parameter change
    that finds none of it — must fail HERE, not pass as a vacuous row."""
    from ibis_flink_example_spark.queries import QUERIES

    r = QUERIES["semdedup_lsh_recall"](spark, sf_dir).collect()[0]
    assert r["n_truth_pairs"] > 0, "truth set empty — witness premise broken"
    assert r["n_common_pairs"] > 0, "LSH found NO truth pair — vacuous recall"
    assert r["n_verified_pairs"] >= r["n_common_pairs"]
    assert r["n_candidate_pairs"] >= r["n_verified_pairs"]
    # L=6 x p=6 with Hamming-1 probes measured 0.92 at sf0.01; anything
    # under 1/2 means the amplification regressed, not fixture noise
    assert r["recall_x1e6"] >= 500_000, r["recall_x1e6"]


def test_semdedup_lsh_dedups_and_keeps_min_id(spark, sf_dir):
    """Survivors are a strict subset with min-id representatives: every
    verified pair must have lost at least its non-representative end."""
    from ibis_flink_example_spark.queries import QUERIES

    em = load_table(spark, sf_dir, "embeddings")
    n_all = em.count()
    surv = QUERIES["semdedup_lsh"](spark, sf_dir)
    n_surv = surv.count()
    assert 0 < n_surv < n_all
    pairs = S.lsh_semantic_pairs(
        em, id_col="vec_id", vec_col="embedding", dim=64
    )
    surv_ids = {r.vec_id for r in surv.collect()}
    for p in pairs.collect():
        assert not (p.id_a in surv_ids and p.id_b in surv_ids), (
            "both ends of a verified near-dup pair survived"
        )


def test_url_domain_curation_witness_premise(spark, sf_dir):
    """The per-domain cap and the blocklist must both BIND at gate SFs:
    every .hub host exceeds the cap (n_dropped > 0) and both blocklist
    hosts exist with all their docs dropped."""
    from ibis_flink_example_spark.queries import QUERIES
    from ibis_flink_example_spark.queries_llm import _BLOCKED_HOSTS

    rows = QUERIES["url_domain_curation"](spark, sf_dir).collect()
    hubs = [r for r in rows if ".hub." in r["host"]]
    assert len(hubs) == 20  # one per source
    assert all(r["n_dropped"] > 0 for r in hubs), "cap never binds"
    blocked = {r["host"]: r for r in rows if r["is_blocked"]}
    assert set(blocked) == set(_BLOCKED_HOSTS)
    for r in blocked.values():
        assert r["n_kept"] == 0 and r["n_dropped"] == r["n_docs"] > 0


def test_sequence_packing_bins_invariants(spark, sf_dir):
    """Packing invariants the oracle hash alone doesn't spell out: no bin
    exceeds its bucket capacity or the 512-token budget; every doc is
    packed exactly once; full bins of a (bucket, shard) precede the one
    ragged tail bin (decreasing-order greedy)."""
    from ibis_flink_example_spark.catalog import load_table as lt
    from ibis_flink_example_spark.queries import QUERIES

    rows = QUERIES["sequence_packing_bins"](spark, sf_dir).collect()
    n_docs_fixture = lt(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs_fixture
    from collections import defaultdict

    per_group = defaultdict(list)
    for r in rows:
        cap_docs = 512 // r["len_bucket"]
        assert r["n_docs"] <= cap_docs
        assert r["bin_tokens"] <= 512
        assert r["occupancy_x1e6"] == r["bin_tokens"] * 1_000_000 // 512
        per_group[(r["len_bucket"], r["shard"])].append(r)
    for (_, _), bins in per_group.items():
        bins.sort(key=lambda r: r["bin_id"])
        cap_docs = 512 // bins[0]["len_bucket"]
        for b in bins[:-1]:
            assert b["n_docs"] == cap_docs, "non-tail bin not full"


def test_dedup_substring_removal_witness_premise(spark, sf_dir):
    """VERDICT r12 #7/#5: the removal arm must KEEP REMOVING — if a
    fixture rotation drops the planted duplicated spans, the row would
    go trivially empty and the driver hash would still pass. Pin >0
    actual removals (docs whose kept token count shrank) at gate SFs."""
    from ibis_flink_example_spark.queries import QUERIES

    rows = QUERIES["dedup_substring_removal"](spark, sf_dir).collect()
    assert len(rows) > 0
    removed = [r for r in rows if r["n_removed"] > 0]
    assert removed, "no doc lost any token — duplicated-span witness gone"


def test_mixture_waterfill_witness_and_invariants(spark, sf_dir):
    """Both allocation classes must exist at gate SFs (capped AND
    water-filled — a parameterization where one class is empty verifies
    nothing), the budget must bind from above, and every allocation must
    respect its cap."""
    from ibis_flink_example_spark.queries import QUERIES

    rows = QUERIES["mixture_waterfill_allocation"](spark, sf_dir).collect()
    assert len(rows) == 20
    capped = [r for r in rows if r["is_capped"]]
    uncapped = [r for r in rows if not r["is_capped"]]
    assert capped and uncapped, "one allocation class empty — witness broken"
    total_cap = sum(r["cap_tokens"] for r in rows)
    budget = total_cap * 9 // 10
    alloc = sum(r["allocated_tokens"] for r in rows)
    assert alloc <= budget
    # floor slack only: the water level fills to within one weight-unit
    # per uncapped source
    assert budget - alloc <= len(uncapped) * 1
    for r in rows:
        assert 0 <= r["allocated_tokens"] <= r["cap_tokens"]
        if r["is_capped"]:
            assert r["allocated_tokens"] == r["cap_tokens"]
            assert r["fill_x1e6"] == 1_000_000


def test_prefix_cache_sharing_witness_premise(spark, sf_dir):
    """Every planted duplicate pair must surface as a shared-prefix
    group: the fixture has no guaranteed natural prefix collisions, so
    the planted corpus is what keeps this row non-trivial."""
    from ibis_flink_example_spark.catalog import load_table as lt
    from ibis_flink_example_spark.queries import QUERIES

    rows = QUERIES["prefix_cache_sharing"](spark, sf_dir).collect()
    assert rows
    n_planted = lt(spark, sf_dir, "documents").filter("doc_id % 50 = 0").count()
    assert n_planted > 0
    # planted ids pair with their originals, so total group membership
    # must cover at least 2 x planted docs
    assert sum(r["n_docs"] for r in rows) >= 2 * n_planted
    for r in rows:
        assert r["saved_tokens"] == (r["n_docs"] - 1) * r["prefix_tokens"]
        assert 0 < r["prefix_tokens"] <= 32


def test_dpo_pair_assembly_invariants(spark, sf_dir):
    """Chosen must never score below rejected (margin >= 0 by the
    adjacent-rank construction), pairs are disjoint doc sets, and the
    row must be non-trivial: a healthy share of pairs carries a strictly
    positive margin (all-tie pairing would train nothing)."""
    from ibis_flink_example_spark.queries import QUERIES

    rows = QUERIES["dpo_pair_assembly"](spark, sf_dir).collect()
    assert rows
    seen = set()
    pos = 0
    for r in rows:
        assert r["margin_x1e6"] >= 0
        assert r["chosen_id"] != r["rejected_id"]
        for d in (r["chosen_id"], r["rejected_id"]):
            assert d not in seen, "doc appears in two pairs"
            seen.add(d)
        if r["margin_x1e6"] > 0:
            pos += 1
    assert pos >= len(rows) // 2, (pos, len(rows))


def test_embedding_coverage_audit_witness_premise(spark, sf_dir):
    """The planted failed shard (vec_id % 37 == 0) must keep n_missing
    non-trivially positive at every gate SF, and the arithmetic must
    reconcile per row."""
    from ibis_flink_example_spark.queries import QUERIES

    rows = QUERIES["embedding_coverage_audit"](spark, sf_dir).collect()
    assert len(rows) == 20
    assert sum(r["n_missing"] for r in rows) > 0, "planted shard gone"
    for r in rows:
        assert r["n_docs"] == r["n_embedded"] + r["n_missing"]
        assert r["coverage_x1e6"] == r["n_embedded"] * 1_000_000 // r["n_docs"]


def test_trunc_div_matches_engine_semantics():
    """_trunc_div must truncate toward zero — Spark DIV and DuckDB //
    semantics — where Python // floors; the centroid recurrence diverges
    from the oracle on any negative component sum otherwise."""
    import duckdb

    from ibis_flink_example_spark.operators.clustering import _trunc_div

    cases = [(-7, 2), (7, 2), (-7, 3), (7, 3), (-1, 2), (1, 2), (0, 5),
             (-1234567, 17), (1234567, 17)]
    for a, b in cases:
        (want,) = duckdb.sql(
            f"SELECT CAST({a} AS BIGINT) // CAST({b} AS BIGINT)"
        ).fetchone()
        assert _trunc_div(a, b) == want, (a, b)


def test_kmeans_assign_separates_obvious_clusters(spark):
    """Two well-separated blobs must land in two clusters with the seeds'
    ids, deterministically across invocations, with zero distance for the
    seed vectors themselves on the first iteration's centroids only if
    they survive — here the blobs are tight so final centroids stay in
    their blob and every vector's assignment follows its blob."""
    from ibis_flink_example_spark.operators import clustering as C

    rows = [
        (0, [0.0, 0.0, 0.01]),
        (1, [1.0, 1.0, 0.99]),
        (2, [0.01, -0.01, 0.0]),
        (3, [0.99, 1.01, 1.0]),
        (4, [0.0, 0.02, -0.01]),
        (5, [1.02, 0.98, 1.01]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = C.kmeans_assign(
        df, id_col="vec_id", vec_col="embedding", dim=3, k=2, iters=3
    )
    got = {r["vec_id"]: r["cluster_id"] for r in out.collect()}
    assert got[0] == got[2] == got[4]
    assert got[1] == got[3] == got[5]
    assert got[0] != got[1]
    again = {
        r["vec_id"]: r["cluster_id"]
        for r in C.kmeans_assign(
            df, id_col="vec_id", vec_col="embedding", dim=3, k=2, iters=3
        ).collect()
    }
    assert got == again


def test_kmeans_assign_distances_are_exact_micro2(spark):
    """dist_micro2 must equal the integer squared L2 distance between the
    quantized vector and its (quantized, truncation-divided) final
    centroid — recomputed here in pure Python from the same recurrence."""
    from ibis_flink_example_spark.operators import clustering as C

    rows = [(i, [float(i) / 7.0, float((i * 3) % 5) / 5.0]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    k, iters, dim = 3, 3, 2
    out = {
        r["vec_id"]: (r["cluster_id"], r["dist_micro2"])
        for r in C.kmeans_assign(
            df, id_col="vec_id", vec_col="embedding", dim=dim, k=k, iters=iters
        ).collect()
    }
    import math

    mv = {i: [math.floor(v * 1_000_000 + 0.5) for v in vec] for i, vec in rows}
    cents = [list(mv[i]) for i in range(k)]
    assign = {}
    for it in range(iters):
        assign = {
            i: min(
                range(k),
                key=lambda c: (
                    sum((a - b) ** 2 for a, b in zip(mv[i], cents[c])),
                    c,
                ),
            )
            for i in mv
        }
        if it == iters - 1:
            break
        new = [list(c) for c in cents]
        for c in range(k):
            members = [i for i, a in assign.items() if a == c]
            if members:
                new[c] = [
                    C._trunc_div(sum(mv[i][d] for i in members), len(members))
                    for d in range(dim)
                ]
        cents = new
    for i in mv:
        want_c = assign[i]
        want_d = sum((a - b) ** 2 for a, b in zip(mv[i], cents[want_c]))
        assert out[i] == (want_c, want_d), i


def test_mixture_epoch_budget_witness_premise(spark, sf_dir):
    """The data-constrained epoch readout must flag SOME sources over 4
    epochs and leave SOME under at the fixture (mean is 4 by
    construction; the weight spread provides the variance) — an all-one-
    value flag column would make the query a dead witness."""
    from ibis_flink_example_spark.queries import QUERIES

    rows = QUERIES["mixture_epoch_budget"](spark, sf_dir).collect()
    flags = {r["over_4_epochs"] for r in rows}
    assert flags == {True, False}, flags
    for r in rows:
        # allocation never exceeds the 6-epoch repetition ceiling
        assert r["allocated_tokens"] <= 6 * r["available_tokens"], r


def test_epoch_budget_token_bases_diverge():
    """mixture_epoch_budget_bpe's witness premise (VERDICT r14 #6): the
    BPE token supply must differ from the whitespace word supply for
    most sources at EVERY verification SF (tokenizer fertility > 1 —
    merges only start from character tokens), and the epoch readout
    itself must move for at least one source — otherwise the BPE arm
    is a dead duplicate of the whitespace arm. Replayed through the
    registered DuckDB oracles so the premise is checked on the exact
    SQL the driver verifies."""
    import os

    import duckdb

    from ibis_flink_example_spark.queries import ORACLES

    checked = 0
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        p = f"/root/testdata/{sf}/documents.parquet"
        if not os.path.exists(p):
            continue
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
        ws = {
            r[0]: (r[1], r[4])
            for r in con.execute(ORACLES["mixture_epoch_budget"]).fetchall()
        }
        bp = {
            r[0]: (r[1], r[4])
            for r in con.execute(ORACLES["mixture_epoch_budget_bpe"]).fetchall()
        }
        assert set(ws) == set(bp)
        supply_moved = [s for s in ws if ws[s][0] != bp[s][0]]
        assert len(supply_moved) == len(ws), (
            f"{sf}: some sources have identical whitespace/BPE supply"
        )
        epochs_moved = [s for s in ws if ws[s][1] != bp[s][1]]
        assert epochs_moved, f"{sf}: BPE basis left every epoch readout unchanged"
        checked += 1
    assert checked >= 2


def test_semdedup_kmeans_recall_witness_premise(spark, sf_dir):
    """The trained-blocking recall row must be non-trivially green: the
    label-truth set is non-empty and the learned clusters recover a
    non-zero share of it (k-means on the label-structured fixture should
    co-cluster most same-label near-dups; under 1/4 means the clustering
    or the blocking join regressed, not fixture noise)."""
    from ibis_flink_example_spark.queries import QUERIES

    r = QUERIES["semdedup_kmeans_recall"](spark, sf_dir).collect()[0]
    assert r["n_truth_pairs"] > 0, "truth set empty — witness premise broken"
    assert r["n_common_pairs"] > 0, "k-means blocking found NO truth pair"
    assert r["n_blocked_pairs"] >= r["n_common_pairs"]
    assert r["recall_x1e6"] >= 250_000, r["recall_x1e6"]


def test_semdedup_cluster_cap_semantics(spark, sf_dir):
    """The trained-SemDeDup blocking cap (VERDICT r14 #2 — the
    drop_hot_keys treatment for cluster blocks): (a) headroom — no
    fixture cluster approaches _SEMDEDUP_CLUSTER_CAP, the premise that
    lets the uncapped DuckDB oracle replay the capped engine exactly;
    (b) the production cap is provably a no-op at fixture scale
    (recall delta vs the uncapped arm = 0: identical pair sets); (c) a
    cap that DOES bite removes exactly the pairs of over-cap clusters
    and nothing else (capped rows survive, pairs only shrink)."""
    from ibis_flink_example_spark.operators import clustering as C
    from ibis_flink_example_spark.queries_llm import _SEMDEDUP_CLUSTER_CAP

    em = load_table(spark, sf_dir, "embeddings")
    asn = C.kmeans_assign(
        em, id_col="vec_id", vec_col="embedding", dim=64, k=8, iters=4
    ).select("vec_id", "cluster_id")
    blocked = em.join(asn, "vec_id")
    sizes = {
        r["cluster_id"]: r["n"]
        for r in blocked.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert max(sizes.values()) < _SEMDEDUP_CLUSTER_CAP  # (a) headroom

    kw = dict(
        id_col="vec_id",
        vec_col="embedding",
        block_col="cluster_id",
        threshold=0.35,
    )

    def pairs(cap):
        df = S.embedding_neardup_pairs(
            blocked, **kw, max_rows_per_block=cap
        ).select("id_a", "id_b")
        got = {(r["id_a"], r["id_b"]) for r in df.collect()}
        from ibis_flink_example_spark.operators.checkpoints import (
            release_eager_checkpoints,
        )

        release_eager_checkpoints(df)
        return got

    unc = pairs(None)
    assert pairs(_SEMDEDUP_CLUSTER_CAP) == unc  # (b) delta = 0

    tiny = max(sizes.values()) - 1
    over = {c for c, nz in sizes.items() if nz > tiny}
    assert over
    cl = {r["vec_id"]: r["cluster_id"] for r in asn.collect()}
    want = {(a, b) for (a, b) in unc if cl[a] not in over}
    got = pairs(tiny)
    assert got == want  # (c) exactly the over-cap clusters' pairs drop
    assert got < unc  # and the cap genuinely bit at this fixture


def test_kmeans_with_prev_matches_shorter_run(spark, sf_dir):
    """with_prev's penultimate assignment must equal the FINAL assignment
    of a separate (iters - 1)-pass run — the two paths share every
    update, so divergence means the loop's centroid bookkeeping broke."""
    from ibis_flink_example_spark.operators import clustering as C

    em = load_table(spark, sf_dir, "embeddings")
    both = C.kmeans_assign(
        em, id_col="vec_id", vec_col="embedding", dim=64, k=8, iters=4,
        with_prev=True,
    )
    short = C.kmeans_assign(
        em, id_col="vec_id", vec_col="embedding", dim=64, k=8, iters=3
    )
    got = {r["vec_id"]: r["prev_cluster_id"] for r in both.collect()}
    want = {r["vec_id"]: r["cluster_id"] for r in short.collect()}
    assert got == want


def test_kmeans_convergence_churn_witness(spark, sf_dir):
    """The churn monitor must report non-trivial movement at the fixture
    (some vectors switch on the last pass, most do not) — an all-zero or
    all-moved readout would be a dead witness."""
    from ibis_flink_example_spark.queries import QUERIES

    rows = QUERIES["kmeans_convergence_churn"](spark, sf_dir).collect()
    moved = sum(r["n_moved"] for r in rows)
    total = sum(r["n_final"] for r in rows)
    assert 0 < moved < total


def test_bitext_margin_mining_witness_premise(spark, sf_dir):
    """Mined pairs must be non-trivially selective: some A-side vectors
    win a above-threshold margin match, MOST do not (absolute-cosine
    hubs rejected by the neighborhood ratio) — an empty or everything-
    passes result is a dead witness."""
    from ibis_flink_example_spark.queries import QUERIES

    em = load_table(spark, sf_dir, "embeddings")
    n_a = em.filter(F.col("label") < 5).count()
    rows = QUERIES["bitext_margin_mining"](spark, sf_dir).collect()
    assert 0 < len(rows) < n_a // 2, (len(rows), n_a)
    for r in rows:
        assert r["margin_x1e6"] >= 1_200_000
    # best-match: one row per A-side vector at most
    assert len({r["vec_id_a"] for r in rows}) == len(rows)


def test_margin_criterion_rejects_hubs_accepts_contrast(spark):
    """The margin semantics the docstring claims, on a deterministic
    candidate set (no LSH involved): a hub A-vector whose candidate
    neighborhood is uniformly close scores margin ~1.0 and is REJECTED,
    while a pair whose cosine stands out against both endpoints'
    neighborhoods clears the 1.2 gate — absolute cosine alone would have
    accepted the hub (its best cosine is the HIGHER of the two)."""
    from ibis_flink_example_spark.operators import similarity as S

    rows = [
        # A side (ids < 100): x0 = hub, x1 = contrastive, x2 = the weak
        # alternative in y110's neighborhood (pulls y110's avg down so
        # the (x1, y110) margin clears the gate from BOTH sides)
        (0, [1.0, 0.0, 0.0, 0.0], True),
        (1, [0.0, 1.0, 0.0, 0.0], True),
        (2, [0.3, 0.3, 0.9, 0.0], True),
        # B side: y100..y103 all ~parallel to x0 (the hub neighborhood)
        (100, [0.99, 0.05, 0.0, 0.0], False),
        (101, [0.99, 0.0, 0.05, 0.0], False),
        (102, [0.99, 0.0, 0.0, 0.05], False),
        (103, [0.99, 0.03, 0.03, 0.0], False),
        # y110: x1's strong match; y111: x1's weak alternative
        (110, [0.05, 0.99, 0.0, 0.0], False),
        (111, [0.0, 0.40, 0.92, 0.0], False),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, is_a boolean"
    )
    cand = spark.createDataFrame(
        [(0, 100), (0, 101), (0, 102), (0, 103), (1, 110), (1, 111),
         (2, 110)],
        "id_a long, id_b long",
    )
    out = {
        r["vec_id_a"]: r
        for r in S.margin_mined_pairs(
            df,
            id_col="vec_id",
            vec_col="embedding",
            dim=4,
            is_a_col="is_a",
            candidates=cand,
        ).collect()
    }
    # hub: all four candidates at cos ~0.99 -> margin ~1.0 < 1.2
    assert 0 not in out, out.get(0)
    # contrastive: cos(x1,y110) ~0.99 vs neighborhood avg pulled down by
    # the 0.4 alternative -> margin > 1.2
    assert 1 in out and out[1]["vec_id_b"] == 110
    assert out[1]["margin_x1e6"] >= 1_200_000
    # the weak alternative itself scores margin << 1 and is rejected
    assert 2 not in out, out.get(2)
