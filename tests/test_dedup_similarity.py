"""Dedup + similarity operator semantics on controlled fixtures."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from sap_data_pipeline_spark.operators import dedup as D
from sap_data_pipeline_spark.operators import similarity as S
from sap_data_pipeline_spark.plans import catalog_ext  # noqa: F401  (registers queries)
from sap_data_pipeline_spark.plans.catalog import QUERIES
from sap_data_pipeline_spark.sources import artifacts as A


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_exact_dedup_groups(spark):
    df = _docs(spark, ["Hello  World", "hello world", "other text"])
    out = D.exact_dedup(df).collect()
    groups = {r["fingerprint"]: (r["doc_id"], r["group_size"]) for r in out}
    assert len(groups) == 2
    assert (0, 2) in groups.values()  # normalized duplicates collapse, min id kept


def test_minhash_identical_docs_same_signature(spark):
    df = _docs(spark, ["alpha beta gamma", "alpha beta gamma", "delta epsilon zeta"])
    sig = D.minhash_signature(df).collect()
    by_id = {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(D.NUM_PERM)) for r in sig}
    assert by_id[0] == by_id[1]
    assert by_id[0] != by_id[2]


def test_lsh_pairs_find_duplicates(spark):
    df = _docs(spark, ["alpha beta gamma delta", "alpha beta gamma delta", "unrelated words here now"])
    pairs = {(r["id_a"], r["id_b"]) for r in D.minhash_dedup_pairs(df).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_lsh_degenerate_bucket_capped(spark):
    """An adversarial corpus (1k identical docs → one bucket per band)
    must complete with the oversize buckets dropped, while pairs from
    normal-sized buckets are still emitted and the audit names what was
    dropped."""
    degenerate = ["same exact text repeated many many times"] * 1000
    normal = ["alpha beta gamma delta", "alpha beta gamma delta",
              "unrelated words entirely here now"]
    df = _docs(spark, degenerate + normal)

    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_dedup_pairs(df, max_bucket_size=64).collect()
    }
    assert (1000, 1001) in pairs            # normal near-dup bucket survives
    assert not any(a < 1000 and b < 1000 for a, b in pairs), \
        "degenerate bucket's quadratic pairs must be dropped, not expanded"

    over = D.lsh_oversized_buckets(
        D.minhash_signature(df), max_bucket_size=64
    ).collect()
    assert len(over) >= 1 and all(r["n_ids"] == 1000 for r in over)

    # default cap admits the normal corpus untouched
    assert {(r["id_a"], r["id_b"]) for r in D.minhash_dedup_pairs(
        _docs(spark, normal)).collect()} == {(0, 1)}


def test_ngram_jaccard_exact_on_candidates(spark):
    df = _docs(spark, ["a b c d", "a b c x", "q r s t"])
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           D.ngram_jaccard_pairs(df, threshold=0.5).collect()}
    if (0, 1) in out:  # candidate survival depends on LSH banding
        assert abs(out[(0, 1)] - 3 / 5) < 1e-9


def test_simhash_similar_docs_close(spark):
    df = _docs(spark, ["the quick brown fox jumps", "the quick brown fox leaps", "zzz yyy xxx www vvv"])
    rows = {r["doc_id"]: r["simhash"] for r in D.simhash(df).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(rows[0], rows[1]) < hamming(rows[0], rows[2])


def test_brute_force_topk_self_similarity(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.brute_force_topk(emb, q, k=2).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2]


def test_lsh_topk_recall_against_brute_force(spark, star):
    queries = star.embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(star.embeddings, queries, k=5)
    approx = S.lsh_topk(star.embeddings, queries, k=5, dim=64)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # random 64-dim data + 4 hyperplanes: bucket holds ~1/16 of corpus;
    # loose floor just guards against a broken bucketing join
    assert recall >= 0.2, f"LSH recall collapsed: {recall}"


def test_embedding_near_dup_blocks(spark):
    emb = spark.createDataFrame(
        [(0, 0, [1.0, 0.0]), (1, 0, [1.0, 0.001]), (2, 1, [1.0, 0.0])],
        "vec_id long, label int, embedding array<double>",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             D.embedding_near_dup_pairs(emb, threshold=0.9).collect()}
    assert pairs == {(0, 1)}  # cross-label pair (0,2) blocked out


def test_embedding_near_dup_by_cell_label_free(spark):
    """The cell-blocked variant must find a planted near-dup pair on a
    bare (id, vector) corpus with no label column, and agree with the
    label-blocked variant when the label IS the cell structure."""
    import math
    import random

    rng = random.Random(11)
    rows = []
    for i in range(60):
        base = [rng.gauss(0, 1) for _ in range(8)]
        rows.append((i, [float(x) for x in base]))
    # planted near-dup: vector 60 ≈ vector 0 (tiny perturbation)
    rows.append((60, [float(x + 0.001) for x in rows[0][1]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.embedding_near_dup_pairs_by_cell(
            emb, threshold=0.99, n_cells=4, nprobe=2
        ).collect()
    }
    assert (0, 60) in pairs
    assert math.isclose(pairs[(0, 60)], 1.0, abs_tol=1e-4)


def test_seeded_cell_assign_empty_input_short_circuits(spark):
    """r11 ADVICE: an empty corpus must return an empty (id, vec, cell)
    frame — the old path built an untyped empty-array centroid literal
    that the downstream higher-order expressions failed to analyze."""
    emb = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    out = D.seeded_cell_assign(emb, n_cells=4, nprobe=2)
    assert out.columns == ["vec_id", "embedding", "cell"]
    assert out.count() == 0
    # composed operators survive the empty corpus too
    assert D.embedding_near_dup_pairs_by_cell(emb).count() == 0


def test_rolling_fingerprint_values(spark):
    """Known-value check of the polynomial rolling hash, plus invariance
    to the whitespace/case normalization."""
    from sap_data_pipeline_spark.functions import text as X

    def poly(s):
        h = 0
        for ch in s:
            h = (h * X.ROLLING_BASE + ord(ch)) % X.ROLLING_MOD
        return h

    df = spark.createDataFrame(
        [("abc",), ("  ABC ",), ("",), ("hello world",)], ["text"]
    )
    got = [r[0] for r in df.select(X.rolling_fingerprint("text")).collect()]
    assert got[0] == poly("abc")
    assert got[1] == poly("abc")  # normalization: trim + lowercase
    assert got[2] == 0
    assert got[3] == poly("hello world")


def test_ivf_topk_recall_against_brute_force(spark, star):
    queries = star.embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(star.embeddings, queries, k=5)
    approx = S.ivf_topk(star.embeddings, queries, k=5, n_cells=8, nprobe=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # random uniform 64-dim data is the worst case for IVF (no cluster
    # structure); 3/8 cells probed still must beat random-subset recall
    assert recall >= 0.2, f"IVF recall collapsed: {recall}"


def test_connected_components_chain_and_singletons(spark):
    """A~B, B~C chain collapses to one cluster labeled min(id); nodes with
    no edges stay their own singleton cluster."""
    ids = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in D.connected_components(ids, pairs).collect()}
    assert got == {0: 0, 3: 0, 5: 0, 1: 1, 2: 1, 4: 4}


def test_connected_components_long_chain_converges(spark):
    """A 12-hop path graph needs multiple propagation rounds — the fixpoint
    must still be the global min, not a partially-propagated label."""
    n = 13
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in D.connected_components(ids, pairs).collect()}
    assert got == {i: 0 for i in range(n)}


def test_near_dup_clusters_end_to_end(spark):
    """LSH pairs → components → canonical survivor per cluster."""
    df = _docs(spark, [
        "alpha beta gamma delta epsilon",
        "alpha beta gamma delta epsilon",   # dup of 0
        "alpha beta gamma delta epsilon",   # dup of 0
        "completely different words entirely here",
    ])
    rows = {r["doc_id"]: r for r in D.near_dup_clusters(df).collect()}
    assert rows[0]["cluster_id"] == 0 and rows[0]["is_canonical"]
    assert rows[1]["cluster_id"] == 0 and not rows[1]["is_canonical"]
    assert rows[2]["cluster_size"] == 3
    assert rows[3]["cluster_id"] == 3 and rows[3]["cluster_size"] == 1
    # exactly one canonical per cluster
    assert sum(r["is_canonical"] for r in rows.values()) == 2


def test_ngram_contamination_counts(spark):
    """Doc sharing a 3-gram with the benchmark is flagged with the exact
    overlap count; disjoint docs report zero; short docs drop out."""
    corpus = _docs(spark, [
        "the quick brown fox jumps",        # shares 'the quick brown', 'quick brown fox'
        "totally unrelated words entirely",  # no overlap
        "tiny doc",                          # < 3 tokens → no shingles
    ])
    bench = spark.createDataFrame(
        [(100, "the quick brown fox runs away")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in D.ngram_contamination(corpus, bench).collect()}
    assert set(got) == {0, 1}                      # doc 2 has no 3-grams
    assert got[0]["n_shingles"] == 3
    assert got[0]["n_contaminated"] == 2           # two shared 3-grams
    assert abs(got[0]["contamination_frac"] - 2 / 3) < 1e-6
    assert got[1]["n_contaminated"] == 0


def test_repetition_stats_values(spark):
    from sap_data_pipeline_spark.functions import text as X

    df = spark.createDataFrame(
        [(0, "spam spam spam eggs"), (1, "all words unique here"), (2, "")],
        "doc_id long, text string",
    )
    arrs = df.select(
        "doc_id", X.tokens("text").alias("t"), X.word_ngrams("text", 2).alias("bg")
    )
    got = {r["doc_id"]: r for r in
           arrs.select("doc_id", *X.repetition_stats(F.col("t"), F.col("bg"))).collect()}
    r0 = got[0]
    assert r0["n_words"] == 4 and r0["n_unique_words"] == 2
    assert abs(r0["dup_word_frac"] - 0.5) < 1e-6
    assert abs(r0["top_word_frac"] - 0.75) < 1e-6       # 'spam' 3/4
    assert abs(r0["top_bigram_frac"] - 2 / 3) < 1e-6    # 'spam spam' 2/3
    r1 = got[1]
    assert r1["dup_word_frac"] == 0.0 and r1["top_word_frac"] == 0.25
    r2 = got[2]
    assert r2["n_words"] == 0 and r2["top_bigram_frac"] == 0.0


def test_simhash_near_dup_pairs_semantics(spark):
    """Near-identical token sets pair within the Hamming budget; a
    disjoint-vocabulary doc pairs with nothing."""
    df = _docs(spark, [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta iota",   # 1 token swapped
        "one two three four five six seven eight",         # disjoint vocab
    ])
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in D.simhash_near_dup_pairs(df, bits=32, max_hamming=6).collect()}
    assert (0, 1) in got
    assert all(h <= 6 for h in got.values())
    assert not any(2 in pair for pair in got)


def test_simhash_pairs_pigeonhole_recall(spark, star):
    """Banding must find EVERY pair within max_hamming (pigeonhole:
    max_hamming < n_bands ⇒ some band agrees) — verify against the
    brute-force all-pairs Hamming join on a corpus sample."""
    docs = star.documents.limit(120)
    sk = D.simhash(docs, bits=32)
    a = sk.selectExpr("doc_id AS id_a", "simhash AS sa")
    b = sk.selectExpr("doc_id AS id_b", "simhash AS sb")
    brute = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("h", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("h") <= 3).collect()
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in D.simhash_near_dup_pairs(docs, bits=32, max_hamming=3).collect()
    }
    assert brute == banded


def test_simhash64_bounds_pair_volume(spark, star):
    """The 64-bit production width must emit ≥10× fewer pairs than 32-bit
    on a homogeneous (shared-vocabulary) corpus — Hamming ≤3 of 32 admits
    a near-quadratic fraction of all-pairs, which no bucket cap can bound
    because it is OUTPUT volume, not candidate compute.  Fixture: 300
    independent docs over a 50-word vocabulary — no true near-dups, so
    every emitted pair is width-induced noise.
    """
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(50)]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.sample(vocab, 30))) for i in range(300)],
        "doc_id long, text string",
    )
    p32 = D.simhash_near_dup_pairs(docs, bits=32).count()
    p64 = D.simhash_near_dup_pairs(docs).count()  # production default: 64
    assert p32 > 0, "fixture too easy — 32-bit emitted nothing"
    assert p64 * 10 <= p32, f"64-bit pairs {p64} not ≥10× below 32-bit {p32}"
    # and on the real corpus the shrink must still be substantial
    s32 = D.simhash_near_dup_pairs(star.documents, bits=32).count()
    s64 = D.simhash_near_dup_pairs(star.documents).count()
    assert s64 * 4 <= s32, f"corpus shrink too weak: {s64} vs {s32}"


def test_simhash64_upper_word_bits_vary(spark, star):
    """Sketch bits ≥ 60 come from the second hash word and bit 63 is the
    sign bit — if the upper bits were dead (all-zero), no sketch would
    ever be negative and the effective width would silently be 60."""
    sk = [r["simhash"] for r in D.simhash(star.documents, bits=64).collect()]
    assert any(s < 0 for s in sk), "bit 63 never set — upper word is dead"
    assert any((s >> 60) & 0x7 for s in sk), "bits 60-62 never set"


def test_simhash64_pigeonhole_recall(spark, star):
    """Banding at 64 bits must still find EVERY pair within max_hamming
    (pigeonhole: 3 < 4 bands) — brute-force all-pairs parity."""
    docs = star.documents.limit(120)
    sk = D.simhash(docs, bits=64)
    a = sk.selectExpr("doc_id AS id_a", "simhash AS sa")
    b = sk.selectExpr("doc_id AS id_b", "simhash AS sb")
    brute = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("h", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("h") <= 3).collect()
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in D.simhash_near_dup_pairs(docs).collect()
    }
    assert brute == banded


def test_connected_components_deep_chain_pointer_jumping(spark):
    """A 400-hop path must converge well inside the round budget —
    pointer jumping makes rounds O(log diameter), where plain
    propagation would need 400 rounds."""
    n = 400
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in D.connected_components(ids, pairs, max_iter=25).collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_string_ids(spark):
    """String doc ids (URLs, content hashes) must work: labels use the
    id column's natural ordering and convergence is a changed-label
    count, not a numeric SUM (which would crash under ANSI mode)."""
    ids = spark.createDataFrame(
        [("url/a",), ("url/b",), ("url/c",), ("url/d",)], "doc_id string"
    )
    pairs = spark.createDataFrame(
        [("url/b", "url/c"), ("url/c", "url/a")], "id_a string, id_b string"
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in D.connected_components(ids, pairs).collect()}
    assert got == {"url/a": "url/a", "url/b": "url/a",
                   "url/c": "url/a", "url/d": "url/d"}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches localCheckpoint → reliable checkpoint()
    (cluster fault tolerance); the 400-hop chain still converges inside
    the same round budget and checkpoint files actually land in the dir."""
    n = 400
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    ckdir = str(tmp_path / "cc_checkpoints")
    got = {r["doc_id"]: r["cluster_id"]
           for r in D.connected_components(
               ids, pairs, max_iter=25, checkpoint_dir=ckdir).collect()}
    assert got == {i: 0 for i in range(n)}
    import pathlib
    assert any(pathlib.Path(ckdir).rglob("*")), "no reliable checkpoint written"


def test_keep_best_per_cluster_prefers_score(spark):
    """Survivor = highest score in the component, not the smallest id;
    singletons survive untouched; ties break to the smaller id."""
    df = spark.createDataFrame(
        [(1, "a", 0.2), (2, "b", 0.9), (3, "c", 0.9), (4, "solo", 0.1)],
        "doc_id long, text string, q double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    )
    kept = {r["doc_id"] for r in
            D.keep_best_per_cluster(df, pairs, score=F.col("q")).collect()}
    assert kept == {2, 4}   # 2 beats 3 on id tie-break, beats 1 on score


def test_int8_quantization_codes_and_recall(spark, star):
    """Quantized codes stay in [-127, 127] with the max-|x| slot hitting
    ±127 exactly; dequantized brute-force top-k must keep high overlap
    with the float pipeline (the 4× bandwidth cut can't wreck recall)."""
    from sap_data_pipeline_spark.functions import vectors as V
    from sap_data_pipeline_spark.operators import similarity as S

    emb = star.embeddings
    q = emb.select(
        "vec_id", "label",
        V.quantize_int8("embedding").alias("codes"),
        V.dequant_scale("embedding").alias("scale"),
    )
    rows = q.select("codes").collect()
    assert all(-127 <= c <= 127 for r in rows for c in r["codes"])
    assert all(max(abs(c) for c in r["codes"]) == 127 for r in rows)

    deq = q.select(
        "vec_id", "label",
        F.transform(F.col("codes"), lambda c: c.cast("double") * F.col("scale"))
        .alias("embedding"),
    )
    queries_f = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    queries_q = deq.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             S.brute_force_topk(emb, queries_f, k=10, query_id_col="query_id").collect()}
    quant = {(r["query_id"], r["neighbor_id"]) for r in
             S.brute_force_topk(deq, queries_q, k=10, query_id_col="query_id").collect()}
    overlap = len(exact & quant) / len(exact)
    assert overlap >= 0.8, f"int8 recall collapsed: {overlap}"


def test_decontaminate_spans_surgical_removal(spark):
    """The matched n-gram plus `context` tokens either side must go; the
    rest of the document survives (whole-doc dropping is the thing this
    operator exists to avoid)."""
    from sap_data_pipeline_spark.operators.dedup import decontaminate_spans

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (2, "totally clean text with no overlap at all here friend"),
         (3, "x y")],  # shorter than an n-gram: untouched
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(99, "gamma delta epsilon")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in
           decontaminate_spans(corpus, bench, context=1).collect()}
    assert got[1]["clean_text"] == "alpha eta theta iota kappa"
    assert got[1]["n_removed"] == 5  # 3-gram + 1 either side
    assert got[2]["n_removed"] == 0
    assert got[2]["clean_text"].startswith("totally clean")
    assert got[3] and got[3]["n_removed"] == 0 and got[3]["n_tokens"] == 2


def test_decontaminate_spans_merges_overlapping_hits(spark):
    """Adjacent hits must not double-remove shared positions: two
    overlapping leaked 3-grams produce one merged span."""
    from sap_data_pipeline_spark.operators.dedup import decontaminate_spans

    corpus = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(99, "c d e"), (98, "d e f")], "doc_id long, text string"
    )
    got = decontaminate_spans(corpus, bench, context=0).collect()[0]
    # hits at pos 2 and 3 -> drop 2..4 union 3..5 = {2,3,4,5}
    assert got["n_removed"] == 4
    assert got["clean_text"] == "a b g h"


def test_decontaminate_spans_broadcasts_both_sides(spark):
    """Bench grams AND drop-sets must reach the corpus as broadcast
    joins — the corpus never shuffles (sparse-contamination contract)."""
    import sap_data_pipeline_spark.plans.catalog_ext  # noqa: F401  (registers queries)
    from sap_data_pipeline_spark.plans.catalog import QUERIES

    plan = QUERIES["decontaminate_spans"](
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_binary_quantize_matches_numpy_packing(spark, star):
    """Sign-bit words must equal an independent numpy MSB-first packing
    of the same embeddings (bit i of word w = sign of element 32w+i)."""
    import numpy as np

    from sap_data_pipeline_spark.operators.similarity import binary_quantize

    rows = binary_quantize(
        star.embeddings.filter(F.col("vec_id") < 20), dim=64
    ).select("vec_id", "embedding", "bq0", "bq1").collect()
    assert len(rows) == 20
    for r in rows:
        v = np.array(r["embedding"])
        for w, col in ((0, "bq0"), (1, "bq1")):
            bits = (v[32 * w: 32 * (w + 1)] > 0).astype(np.int64)
            expect = int(sum(b << (31 - i) for i, b in enumerate(bits)))
            assert r[col] == expect, (r["vec_id"], col)
            assert 0 <= r[col] < 2**32  # positive-BIGINT discipline


def test_hamming_topk_matches_numpy_reference(spark, star):
    import numpy as np

    from sap_data_pipeline_spark.operators.similarity import hamming_topk

    emb = {r["vec_id"]: np.array(r["embedding"]) for r in
           star.embeddings.select("vec_id", "embedding").collect()}
    queries = star.embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = hamming_topk(star.embeddings, queries, k=3,
                       query_id_col="query_id", dim=64).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        qb = emb[qid] > 0
        dists = sorted(
            (int(np.count_nonzero((emb[nid] > 0) != qb)), nid)
            for nid in emb if nid != qid
        )
        expect = dists[:3]
        assert [(r["hamming"], r["neighbor_id"]) for r in
                sorted(rs, key=lambda r: r["rank"])] == expect


def test_hamming_rerank_recovers_brute_force(spark, star):
    """With a generous candidate budget the rerank's top-k must closely
    match exact brute force — and strictly beat raw Hamming ranking."""
    queries = star.embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             S.brute_force_topk(star.embeddings, queries, k=5).collect()}
    rerank = {(r["query_id"], r["neighbor_id"]) for r in
              S.hamming_rerank_topk(star.embeddings, queries, k=5,
                                    candidates=100, dim=64).collect()}
    raw = {(r["query_id"], r["neighbor_id"]) for r in
           S.hamming_topk(star.embeddings, queries, k=5, dim=64).collect()}
    recall_rerank = len(exact & rerank) / len(exact)
    recall_raw = len(exact & raw) / len(exact)
    assert recall_rerank >= 0.8, recall_rerank
    assert recall_rerank >= recall_raw


def test_repeated_substring_stats_hand_computed(spark):
    """width=3 windows: doc 2 copies a 5-token span of doc 1 (3 dup
    windows covering 5 positions); doc 3 repeats its own trigram; doc 4
    is unique; doc 5 is shorter than the window."""
    from sap_data_pipeline_spark.operators.dedup import repeated_substring_stats

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one alpha beta gamma delta epsilon two three"),
            (3, "x y z pad1 pad2 x y z"),
            (4, "unique tokens only here"),
            (5, "too short"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in repeated_substring_stats(df, width=3).collect()
    }
    # doc 1 is canonical everywhere: 4 windows, none dup
    assert out[1]["n_windows"] == 4 and out[1]["n_dup_windows"] == 0
    assert out[1]["dup_token_frac"] == 0.0
    # doc 2: windows at pos 1,2,3 ("alpha beta gamma", "beta gamma delta",
    # "gamma delta epsilon") duplicate doc 1 → cover positions 1..5 of 8
    assert out[2]["n_windows"] == 6 and out[2]["n_dup_windows"] == 3
    assert abs(out[2]["dup_token_frac"] - 5 / 8) < 1e-9
    # doc 3: self-repeat "x y z" at pos 5 duplicates pos 0 → 3 of 8 tokens
    assert out[3]["n_dup_windows"] == 1
    assert abs(out[3]["dup_token_frac"] - 3 / 8) < 1e-9
    # unique doc clean; short doc present with zero windows
    assert out[4]["n_dup_windows"] == 0
    assert out[5]["n_windows"] == 0 and out[5]["dup_token_frac"] == 0.0
    assert out[5]["n_tokens"] == 2


def test_repeated_substring_interval_merge_matches_distinct_count(spark):
    """Property: the O(dups) interval-merge coverage equals brute-force
    COUNT(DISTINCT covered position) on overlapping + disjoint spans."""
    from sap_data_pipeline_spark.operators.dedup import repeated_substring_stats

    # doc 11 = doc 10's text with two separated copied regions
    base = "a b c d e f g h i j k l m n o p q r s t"
    copy = "z1 a b c d e z2 z3 z4 z5 z6 m n o p q z7 z8"
    df = spark.createDataFrame([(10, base), (11, copy)], ["doc_id", "text"])
    width = 4
    out = {r["doc_id"]: r for r in repeated_substring_stats(df, width=width).collect()}
    toks = copy.split()
    base_windows = {
        " ".join(base.split()[i : i + width]) for i in range(len(base.split()) - width + 1)
    }
    covered: set[int] = set()
    ndup = 0
    for i in range(len(toks) - width + 1):
        w = " ".join(toks[i : i + width])
        if w in base_windows:
            ndup += 1
            covered.update(range(i, i + width))
    assert out[11]["n_dup_windows"] == ndup and ndup > 0
    # operator rounds to 6 decimals
    assert abs(out[11]["dup_token_frac"] - len(covered) / len(toks)) < 1e-6


def test_repeated_substring_rejects_bad_width(spark):
    import pytest as _pytest

    from sap_data_pipeline_spark.operators.dedup import repeated_substring_stats

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        repeated_substring_stats(df, width=0)


def test_semantic_dedup_chains_and_singletons(spark):
    """Paraphrase chain A~B, B~C (A≁C) must collapse into ONE cluster
    with the min id surviving; an orthogonal vector stays a singleton
    survivor."""
    from sap_data_pipeline_spark.operators.dedup import semantic_dedup

    def v(x, y):
        return [float(x), float(y), 0.0, 0.0]

    emb = spark.createDataFrame(
        [
            (1, v(1.0, 0.0)),        # ~ 2 (cos ≈ .995)
            (2, v(1.0, 0.1)),        # ~ 1 and ~ 3
            (3, v(1.0, 0.2)),        # ~ 2 (cos(1,3) ≈ .981 — still a chain via 2)
            (9, v(0.0, 1.0)),        # orthogonal to all → singleton
        ],
        ["vec_id", "embedding"],
    )
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(emb, threshold=0.9, n_cells=2, nprobe=2).collect()
    }
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"] == 1
    assert out[1]["cluster_size"] == 3
    assert out[1]["is_survivor"] and not out[2]["is_survivor"]
    assert out[9]["cluster_id"] == 9 and out[9]["cluster_size"] == 1
    assert out[9]["is_survivor"]


def test_pq_encode_code_shape_and_range(spark, star):
    sub = star.embeddings.filter(F.col("vec_id") < 60)
    books = S.pq_train_codebooks(sub, dim=64, m=4, nbits=3)
    assert len(books) == 4 and all(len(b) == 8 for b in books)
    assert all(len(c) == 16 for b in books for c in b)
    enc = S.pq_encode(sub, books).select("vec_id", "pq_code").collect()
    assert len(enc) == 60
    for r in enc:
        assert len(r["pq_code"]) == 4
        assert all(0 <= c < 8 for c in r["pq_code"])


def test_pq_encode_assigns_nearest_centroid(spark, star):
    """Differential vs numpy: the emitted code per subspace IS the
    argmin-distance centroid."""
    import numpy as np

    sub = star.embeddings.filter(F.col("vec_id") < 30)
    books = S.pq_train_codebooks(sub, dim=64, m=4, nbits=3)
    rows = S.pq_encode(sub, books).select("embedding", "pq_code").collect()
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        for j, book in enumerate(books):
            d = ((np.asarray(book) - v[j * 16:(j + 1) * 16]) ** 2).sum(axis=1)
            assert r["pq_code"][j] == int(np.argmin(d))


def test_pq_topk_recall_against_brute_force(spark, star):
    queries = star.embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(star.embeddings, queries, k=5)
    approx = S.pq_topk(star.embeddings, queries, k=5, dim=64, m=8, nbits=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # uniform random 64-dim is PQ's worst case too; the reranked list
    # must still beat random-subset recall by a wide margin
    assert recall >= 0.3, f"PQ recall collapsed: {recall}"
    # reranked output carries exact cosine: every kept pair's cosine must
    # equal the brute-force value for that pair
    bf = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in bf:
            assert abs(r["cosine"] - bf[key]) < 1e-9


def test_pq_raw_adc_orders_like_l2(spark, star):
    """ADC is an estimate of L2: over query 0's scan, the ADC-nearest 25%
    must overlap the true-L2-nearest 25% well above random (differential
    sanity that the table lookups implement the Jégou estimator)."""
    import numpy as np

    queries = star.embeddings.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n = star.embeddings.count()
    quarter = n // 4
    raw = S.pq_topk(star.embeddings, queries, k=quarter, dim=64, m=8,
                    nbits=4, rerank=False).collect()
    emb = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in star.embeddings.collect()}
    q = emb[0]
    true_l2 = sorted(
        (float(((v - q) ** 2).sum()), i) for i, v in emb.items() if i != 0
    )[:quarter]
    got = {r["neighbor_id"] for r in raw}
    want = {i for _, i in true_l2}
    overlap = len(got & want) / quarter
    assert overlap >= 0.5, f"ADC ordering diverged from true L2: {overlap}"


def test_ivfpq_topk_recall_against_brute_force(spark, star):
    queries = star.embeddings.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.brute_force_topk(star.embeddings, queries, k=5)
    approx = S.ivfpq_topk(
        star.embeddings, queries, k=5, dim=64, n_cells=8, nprobe=4, m=8, nbits=4
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # two lossy stages stack (cell pruning × ADC): uniform random data is
    # the worst case for both — still must beat random-subset recall
    assert recall >= 0.2, f"IVFPQ recall collapsed: {recall}"
    # candidate generation must be SUBLINEAR: with k = corpus size the
    # top-k filter cannot truncate, so the per-query output size IS the
    # (reranked) candidate count — nprobe=2 of 8 cells must prune it
    # strictly below the 99 non-self corpus rows a full scan would emit
    sub = star.embeddings.limit(100).localCheckpoint()
    raw = S.ivfpq_topk(
        sub, queries.limit(2), k=100, dim=64,
        n_cells=8, nprobe=2, m=8, nbits=4,
    )
    per_q = raw.groupBy("query_id").count().collect()
    assert len(per_q) > 0
    assert all(r["count"] < 99 for r in per_q), per_q


def test_token_containment_detects_partial_copy(spark):
    """A short doc fully embedded in a long doc: Jaccard is small but
    containment(short->long) is 1.0 — the asymmetric detector's whole
    point.  The embedded pair must surface with containment_ab or _ba
    at 1.0 while plain Jaccard at 0.7 misses it."""
    short = " ".join(f"alpha{i} beta{i}" for i in range(20))  # 40 tokens
    long_doc = short + " " + " ".join(f"pad{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, short), (2, long_doc),
         (3, "entirely different text about warehouse pipelines and shuffles")],
        "doc_id long, text string",
    )
    got = D.token_containment_pairs(df, threshold=0.9).collect()
    pairs = {(r["id_a"], r["id_b"]): (r["containment_ab"], r["containment_ba"])
             for r in got}
    assert (1, 2) in pairs
    ab, ba = pairs[(1, 2)]
    assert max(ab, ba) == 1.0 and abs(min(ab, ba) - 40 / 60) < 1e-4
    # and Jaccard at its default threshold does NOT report this pair
    jac = {(r["id_a"], r["id_b"]) for r in
           D.ngram_jaccard_pairs(df, threshold=0.7).collect()}
    assert (1, 2) not in jac


def test_hard_negatives_exclude_same_label(spark, star):
    """Hard-negative mining: no returned neighbor shares the query's
    label, and each returned list is the top of the different-label
    cosine ordering (cross-checked against brute force + filter)."""
    q = star.embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    got = S.hard_negatives_topk(star.embeddings, q, k=5, query_id_col="query_id")
    labels = {r["vec_id"]: r["label"] for r in
              star.embeddings.select("vec_id", "label").collect()}
    for r in got.collect():
        assert r["neighbor_label"] == labels[r["neighbor_id"]]
        assert r["neighbor_label"] != labels[r["query_id"]]
    # parity: brute-force ranking restricted to different-label rows
    bf = S.brute_force_topk(star.embeddings, q, k=500, query_id_col="query_id")
    want = {}
    for r in sorted(bf.collect(), key=lambda r: (r["query_id"], r["rank"])):
        if labels[r["neighbor_id"]] != labels[r["query_id"]]:
            want.setdefault(r["query_id"], [])
            if len(want[r["query_id"]]) < 5:
                want[r["query_id"]].append(r["neighbor_id"])
    got_lists = {}
    for r in sorted(got.collect(), key=lambda r: (r["query_id"], r["rank"])):
        got_lists.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert got_lists == want


def test_cluster_quality_clique_vs_chain(spark):
    """A 4-clique scores density 1.0 (safe collapse); a 4-chain scores
    0.5 and flags chain_risk at a stricter threshold."""
    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        # clique on 0-3 (all 6 edges)
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
         # chain on 4-7 (3 edges)
         (4, 5), (5, 6), (6, 7)],
        "id_a long, id_b long",
    )
    got = {r["cluster_id"]: r for r in
           D.cluster_quality_report(ids, pairs, risk_density=0.6).collect()}
    assert got[0]["n_nodes"] == 4 and got[0]["n_edges"] == 6
    assert got[0]["density"] == 1.0 and got[0]["chain_risk"] == 0
    assert got[4]["n_nodes"] == 4 and got[4]["n_edges"] == 3
    assert got[4]["density"] == 0.5 and got[4]["chain_risk"] == 1


def test_ann_model_cache_trains_once(spark, tmp_path, monkeypatch):
    """Train-once/serve-many pinned: across ann_pq_topk, ann_ivfpq_topk,
    ann_ivf_topk, and a REPEAT of ann_pq_topk in one session, exactly one
    PQ codebook fit and one IVF centroid fit happen per (sf_dir, params)
    — a cache re-key regression would multiply KMeans training cost
    silently (r5 verdict #1's 27 s → 8 s win depends on this).  And the
    models and the encoded IVFPQ index are durable artifacts: a cold
    session (cleared memo) LOADS them, zero retrains and zero
    re-encodes."""
    arts = tmp_path / "arts"
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(arts))
    encodes = []
    pq_encode = S.pq_encode
    monkeypatch.setattr(
        S, "pq_encode", lambda *a, **k: encodes.append(1) or pq_encode(*a, **k)
    )
    before = dict(S.train_calls)
    for name in ("ann_pq_topk", "ann_ivfpq_topk", "ann_ivf_topk", "ann_pq_topk"):
        QUERIES[name](spark, "/root/testdata/sf0.001").count()
    assert S.train_calls["pq"] - before["pq"] == 1
    assert S.train_calls["ivf"] - before["ivf"] == 1
    assert len(os.listdir(arts / "ivfpq_index")) == 1
    # cold session: models and encoded index served from storage
    A.memo.clear()
    n_encodes = len(encodes)
    QUERIES["ann_ivfpq_topk"](spark, "/root/testdata/sf0.001").count()
    assert S.train_calls["pq"] - before["pq"] == 1
    assert S.train_calls["ivf"] - before["ivf"] == 1
    assert len(encodes) == n_encodes


@pytest.mark.parametrize("family,queries,builder", [
    ("near_dup_index",
     ("near_dup_clusters", "near_dup_cluster_quality",
      "keep_best_per_cluster", "near_dup_clusters"),
     "minhash_dedup_pairs"),
    ("sem_index",
     ("semantic_dedup_clusters", "embedding_near_dup_cells",
      "semantic_dedup_clusters"),
     "embedding_near_dup_pairs_by_cell"),
], ids=["near_dup_index", "sem_index"])
def test_corpus_index_builds_once(spark, tmp_path, monkeypatch, family,
                                  queries, builder):
    """A pair graph + CC labeling builds ONCE per corpus and serves every
    query of its family — the audit/curation queries must not re-sketch
    the corpus; and the index is a DURABLE artifact: a cold session
    (simulated by clearing the memo) serves from storage with ZERO
    rebuilds (r8 verdict #2); a different sf_dir is a different corpus."""
    arts = tmp_path / "arts"
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(arts))
    builds = []
    orig = getattr(D, builder)
    monkeypatch.setattr(
        D, builder, lambda *a, **k: builds.append(1) or orig(*a, **k)
    )
    for name in queries:
        QUERIES[name](spark, "/root/testdata/sf0.001").count()
    assert len(builds) == 1
    assert len(os.listdir(arts / family)) == 1
    A.memo.clear()
    QUERIES[queries[-1]](spark, "/root/testdata/sf0.001").count()
    assert len(builds) == 1
    QUERIES[queries[-1]](spark, "/root/testdata/sf0.01").count()
    assert len(builds) == 2


def test_serving_follows_artifact_root_switch(spark, tmp_path, monkeypatch):
    """The serving memo is keyed by the artifact root: after the first
    root is deleted and SPARK_GRAFT_ARTIFACT_DIR points at a second one,
    the same session rebuilds into the new root instead of scanning the
    deleted root's parquet files (or skipping the new store)."""
    sf = "/root/testdata/sf0.001"
    names = ("near_dup_clusters", "embedding_pca_whiten")
    root_a, root_b = tmp_path / "a", tmp_path / "b"
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(root_a))
    first = [QUERIES[n](spark, sf).count() for n in names]
    shutil.rmtree(root_a)
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(root_b))
    assert [QUERIES[n](spark, sf).count() for n in names] == first
    assert len(os.listdir(root_b / "near_dup_index")) == 1
    [pca] = os.listdir(root_b / "pca_model")
    assert pca.endswith(".json")


# ---------------------------------------------------------------------------
# PCA / whitening (r7)
# ---------------------------------------------------------------------------


def test_pca_matches_numpy_and_whitens(spark, star):
    """Differential vs numpy eigendecomposition on the same data: the
    trained basis must be orthonormal, span the same top-k subspace
    (|cos| per component ≥ 0.99 against the numpy eigenvectors), and
    whitened projections must have unit variance and ~zero cross-
    covariance — the isotropy contract SemDeDup-style cosine thresholds
    assume."""
    import numpy as np


    k = 4
    model = S.pca_train(star.embeddings, dim=64, k=k)
    C = np.array(model["components"])  # k × 64

    # orthonormal basis
    assert np.allclose(C @ C.T, np.eye(k), atol=1e-6)

    X = np.array([
        r["embedding"]
        for r in star.embeddings.select("embedding").collect()
    ], dtype=np.float64)
    cov = np.cov(X, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, np.argsort(evals)[::-1][:k]].T  # k × 64
    for j in range(k):
        assert abs(float(top[j] @ C[j])) >= 0.99, j

    # mean really is the corpus mean (PCAModel.transform would skip it)
    assert np.allclose(model["mean"], X.mean(axis=0), atol=1e-9)

    got = S.pca_project(
        star.embeddings, model, whiten=True, round_to=None
    ).select("pca").collect()
    P = np.array([r["pca"] for r in got])
    pcov = np.cov(P, rowvar=False, bias=True)
    assert np.allclose(np.diag(pcov), 1.0, atol=1e-3)
    off = pcov - np.diag(np.diag(pcov))
    assert np.abs(off).max() < 1e-3


def test_pca_whiten_rejects_malformed_model(star):
    """A model whose comp_std length differs from its component count
    fails at build time instead of NULL-padding the whitened output."""
    basis = [[1.0 if i == j else 0.0 for i in range(64)] for j in range(3)]
    model = {"components": basis, "mean": [0.0] * 64, "comp_std": [1.0, 2.0]}
    with pytest.raises(ValueError, match="2 comp_std entries for 3 components"):
        S.pca_project(star.embeddings, model, whiten=True)
    S.pca_project(star.embeddings, model, whiten=False)  # comp_std unused


def test_pca_sign_canonical_and_cache_trains_once(spark, star, tmp_path, monkeypatch):
    """Retrain determinism (canonical signs) and the train-once pin:
    two catalog calls in one session must fit ONE basis."""

    m1 = S.pca_train(star.embeddings, dim=64, k=3)
    m2 = S.pca_train(star.embeddings, dim=64, k=3)
    assert m1["components"] == m2["components"]
    assert m1["comp_std"] == m2["comp_std"]

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "arts"))
    before = S.train_calls["pca"]
    for _ in range(2):
        QUERIES["embedding_pca_whiten"](spark, "/root/testdata/sf0.001").count()
    assert S.train_calls["pca"] - before == 1
    # cold session: the basis is a durable JSON artifact, no re-solve
    A.memo.clear()
    QUERIES["embedding_pca_whiten"](spark, "/root/testdata/sf0.001").count()
    assert S.train_calls["pca"] - before == 1


def test_ivfpq_encoded_index_parity(spark, star):
    """Serving from the materialized (neighbor_id, pq_code, ivf_cell)
    index frame must return exactly what encode-on-the-fly returns —
    the encoded index is a cache, never a semantics change."""
    from sap_data_pipeline_spark.operators import similarity as S

    queries = star.embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    _, cents = S.ivf_train_cells(star.embeddings, n_cells=8, seed=7)
    books = S.pq_train_codebooks(star.embeddings, dim=64, m=8, nbits=4, seed=7)
    enc = S._assign_cells(
        S.pq_encode(
            star.embeddings.select(
                F.col("vec_id").alias("neighbor_id"), "embedding"
            ),
            books,
        ),
        cents, vec_col="embedding", nprobe=1,
    ).select("neighbor_id", "pq_code", "ivf_cell")

    kw = dict(k=5, dim=64, n_cells=8, nprobe=4, m=8, nbits=4,
              query_id_col="query_id", centroids=cents, codebooks=books)
    direct = S.ivfpq_topk(star.embeddings, queries, **kw).collect()
    served = S.ivfpq_topk(star.embeddings, queries, encoded=enc, **kw).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(map(tuple, direct), key=lambda t: t[:2]) == sorted(
        map(tuple, served), key=lambda t: t[:2]
    )


def test_knn_graph_contracts_and_recall(spark, star):
    """Corpus k-NN graph: ≤ k directed edges per vector, rank dense and
    cosine-descending within each source, no self-edges — and the
    blocked graph's rank-1 edge agrees with the TRUE global nearest
    neighbor for a solid majority of vectors (cell recall gate)."""
    from sap_data_pipeline_spark.operators import similarity as S

    g = S.knn_graph(star.embeddings, k=3, n_cells=8, nprobe=2).collect()
    by_src: dict = {}
    for r in g:
        assert r["vec_id"] != r["neighbor_id"]
        by_src.setdefault(r["vec_id"], []).append(r)
    for rows in by_src.values():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 3
        cos = [r["cosine"] for r in rows]
        assert cos == sorted(cos, reverse=True)

    queries = star.embeddings.select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    true1 = {
        r["query_id"]: r["neighbor_id"]
        for r in S.brute_force_topk(star.embeddings, queries, k=1).collect()
    }
    got1 = {r["vec_id"]: r["neighbor_id"] for r in g if r["rank"] == 1}
    hits = sum(1 for v, n in true1.items() if got1.get(v) == n)
    assert hits / len(true1) >= 0.6, hits / len(true1)


def test_exact_substring_excise_keep_first(spark):
    from sap_data_pipeline_spark.operators.dedup import exact_substring_excise

    df = spark.createDataFrame([
        (1, "a b c d e"),          # canonical "a b c" — intact
        (2, "x a b c y"),          # repeats doc 1's gram → excised
        (3, "p q"),                # shorter than width → intact
        (4, "m n o m n o"),        # within-doc repeat → second copy excised
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in exact_substring_excise(df, width=3).collect()}
    assert len(got) == 4
    assert got[1]["clean_text"] == "a b c d e" and got[1]["n_removed"] == 0
    assert got[2]["clean_text"] == "x y" and got[2]["n_removed"] == 3
    assert got[3]["clean_text"] == "p q" and got[3]["n_removed"] == 0
    assert got[4]["clean_text"] == "m n o" and got[4]["n_removed"] == 3
    assert got[4]["n_tokens"] == 6


def test_exact_substring_excise_overlapping_spans_merge(spark):
    from sap_data_pipeline_spark.operators.dedup import exact_substring_excise

    # doc 2 repeats a 4-token span of doc 1: two overlapping dup
    # 3-windows whose drop positions must union, not double-count.
    df = spark.createDataFrame([
        (1, "a b c d"),
        (2, "z a b c d"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in exact_substring_excise(df, width=3).collect()}
    assert got[2]["clean_text"] == "z" and got[2]["n_removed"] == 4


def test_exact_substring_excise_rejects_bad_width(spark):
    from sap_data_pipeline_spark.operators.dedup import exact_substring_excise
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        exact_substring_excise(df, width=0)


def test_matryoshka_agreement_handcrafted(spark):
    """Vectors built so prefix-8 retrieval DISAGREES with full-dim for
    one query and agrees for the rest; counts are exact."""
    from sap_data_pipeline_spark.operators.similarity import (
        matryoshka_agreement,
    )

    # 16-dim vectors: a is near b on the first 8 dims but near c on
    # the full vector (the tail flips the verdict)
    rows = [
        (0, [1.0] * 8 + [0.0] * 8),
        (1, [1.0] * 8 + [-1.0] * 8),          # prefix-8 twin of 0
        (2, [1.0] * 8 + [0.1] * 8),           # full-dim winner for 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["k"]: r for r in matryoshka_agreement(df, ks=(8,)).collect()}
    assert got[8]["n_docs"] == 3
    # query 0: prefix-8 ties (1,2,...) -> smallest id 1; full -> 2: disagree.
    # query 1: prefix-8 tie -> 0; full: 0 closer than 2 -> agree.
    # query 2: prefix-8 tie -> 0; full: cos(2,0) vs cos(2,1): 0 wins -> agree.
    assert got[8]["n_agree"] == 2


def test_matryoshka_agreement_single_aggregate_plan(spark):
    """All ks share ONE aggregate over the pair scan — no per-k window
    or join tree."""
    from sap_data_pipeline_spark.operators.similarity import (
        matryoshka_agreement,
    )

    df = spark.createDataFrame(
        [(i, [float(i + j) for j in range(16)]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    out = matryoshka_agreement(df, ks=(4, 8))
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "Window" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
