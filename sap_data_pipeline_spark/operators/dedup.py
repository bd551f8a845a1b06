"""Deduplication operators for large-scale training-data pipelines.

Five families, all shuffle-aware and driver-collect-free (designed for a
100 TB ``documents`` table):

* exact          — md5 fingerprint of normalized text, hash group-by
* minhash + LSH  — token shingles → P minhash slots → banded buckets →
                   candidate pairs via self-join on (band, signature)
* simhash        — bitwise majority of token hashes, bucketed by prefix
* n-gram Jaccard — exact Jaccard on LSH candidate pairs (verification)
* embedding      — cosine near-dup within a blocking key (label ≈ IVF cell)

Everything is native Column expressions (md5-based portable hashing, see
functions.text.hash64) — no Python UDFs, so the scan stays in codegen and
the only shuffles are the group-bys/joins on dedup keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sap_data_pipeline_spark.functions import text as X
from sap_data_pipeline_spark.functions import vectors as V
from sap_data_pipeline_spark.functions.sizing import right_size
from sap_data_pipeline_spark.operators.fixpoint import Fixpoint
from sap_data_pipeline_spark.utils import temp_view_name

NUM_PERM = 8  # minhash permutations
BAND_SIZE = 2  # rows per LSH band → 4 bands
SHINGLE_N = 3  # word n-gram shingle width


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per normalized-text fingerprint.

    One shuffle on the 32-hex fingerprint (uniform keys — no skew).
    Returns (id, fingerprint, group_size).
    """
    return (
        df.select(F.col(id_col), X.md5_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("group_size"),
        )
        .select(id_col, "fingerprint", "group_size")
    )


def minhash_signature(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      num_perm: int = NUM_PERM, shingle_n: int = SHINGLE_N) -> DataFrame:
    """Per-document minhash signature columns mh0..mh{P-1}.

    Shingles = word n-grams (n=3): unigram tokens over a small shared
    vocabulary make *every* pair collide (measured: 10.5M candidate pairs
    from 5k docs), turning the LSH band join quadratic; 3-gram shingles
    restore discrimination.  Explode → per-seed min — a single
    groupBy(doc) shuffle of narrow (id, shingle-hash) rows.

    Permutations are Carter-Wegman: ONE md5 per shingle yields
    (h1: 60 bits, h2: 52 bits); permutation s = h1 + s*h2 (no int64
    overflow for s < 2^8).  Hashing is the dominant scan cost of minhash
    at corpus scale, and this computes 1 digest instead of P.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(X.word_ngrams(text_col, shingle_n))).alias("tok"),
    )
    h = F.md5(F.concat(F.lit("mh:"), F.col("tok")))
    hashed = toks.select(
        F.col(id_col),
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(h, 16, 13), 16, 10).cast("long").alias("h2"),
    )
    aggs = [
        F.min(F.col("h1") + F.lit(s) * F.col("h2")).alias(f"mh{s}")
        for s in range(num_perm)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


# A candidate bucket larger than this is degenerate (near-empty docs,
# boilerplate sharing one signature): its pair space is quadratic and its
# id list would blow the aggregation buffer.  Such buckets are DROPPED —
# their members are near-identical to thousands of others, which exact
# dedup already collapses; LSH exists for the discriminating tail.
LSH_MAX_BUCKET = 1024


def _banded(sig: DataFrame, id_col: str, num_perm: int, band_size: int) -> DataFrame:
    """One (id, band, bkey) row per document per band — a single explode
    over an array of structs (a per-band union would replicate the whole
    signature sub-plan once per band; measured, no ReusedExchange saves it).
    """
    entries = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "_", *[F.col(f"mh{i}").cast("string") for i in range(b, b + band_size)]
            ).alias("bkey"),
        )
        for b in range(0, num_perm, band_size)
    ])
    return sig.select(F.col(id_col), F.explode(entries).alias("e")).select(
        F.col(id_col), F.col("e.band").alias("band"), F.col("e.bkey").alias("bkey")
    )


def lsh_candidate_pairs(sig: DataFrame, id_col: str = "doc_id",
                        num_perm: int = NUM_PERM, band_size: int = BAND_SIZE,
                        max_bucket_size: int = LSH_MAX_BUCKET) -> DataFrame:
    """LSH banding: documents sharing any band signature become candidate
    pairs (a < b), bucket-then-expand — grouping collects each bucket's
    sorted id list in ONE pass and emits the pairs map-side from the
    array (a self-join on the band key would re-execute the signature
    sub-plan once per side).

    The bucket-size bound is ENFORCED, not assumed: a window count over
    (band, bkey) sizes every bucket on the SAME single shuffle the
    grouping needs (the window's exchange satisfies the group-by's
    distribution, so no second exchange appears), and rows in buckets
    above ``max_bucket_size`` are dropped before any id list is
    collected — the aggregation buffer is structurally capped, and a
    degenerate corpus (thousands of near-empty docs sharing one
    signature) degrades to a logged drop instead of an executor OOM.
    Audit what was dropped with :func:`lsh_oversized_buckets`.  The same
    pre-filter removes singleton buckets before the aggregation, which
    is most of them — the collect only ever sees real candidates.
    """
    return bucketed_pairs(
        _banded(sig, id_col, num_perm, band_size), id_col, max_bucket_size
    )


def bucketed_pairs(exploded: DataFrame, id_col: str,
                   max_bucket_size: int = LSH_MAX_BUCKET) -> DataFrame:
    """(id, band, bkey) rows → distinct candidate pairs (id_a < id_b),
    with the enforced bucket-size cap described in
    :func:`lsh_candidate_pairs`.  Shared by every banded blocking scheme
    (minhash bands, simhash bit-bands)."""
    from pyspark.sql.window import Window

    wb = Window.partitionBy("band", "bkey")
    sized = exploded.withColumn("_n", F.count(F.lit(1)).over(wb))
    kept = sized.filter(
        (F.col("_n") >= 2) & (F.col("_n") <= F.lit(max_bucket_size))
    )
    buckets = kept.groupBy("band", "bkey").agg(
        F.array_sort(F.collect_set(id_col)).alias("ids")
    )
    pairs = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "b -> struct(a AS id_a, b AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    return pairs


def banded_payload_pairs(exploded: DataFrame, id_col: str,
                         payload_cols: list[str], *,
                         band_cols: tuple[str, str] = ("band", "bkey"),
                         max_bucket_size: int | None = None,
                         distinct: bool = True) -> DataFrame:
    """(id, payload…, band, bkey) rows → distinct candidate pairs
    (id_a < id_b) with BOTH sides' payload columns attached — the
    single-evaluation pair generator for banded sketches whose verify
    data is a few narrow columns (a simhash word, an aHash word pair, an
    audio fingerprint).

    Why this exists (r13 optimization, guide §2.3/§2.4): the self-join
    shape (``banded.join(banded, band_key)``) evaluates the upstream
    sketch/decode sub-plan once per join side, and a downstream verify
    join re-evaluates it again per side — ``explain`` shows three full
    scan chains and no ReusedExchange (the sides' projections differ).
    Grouping each bucket once and emitting pairs map-side from the
    collected array evaluates the upstream plan exactly once and needs
    no verify join at all, at the cost of shuffling the payload bytes
    (8–16 bytes/row) alongside the id — the guide's "shuffle keys and
    metadata instead of payloads" trade in the favorable direction.

    ``max_bucket_size`` replays :func:`bucketed_pairs`' enforced cap
    bit-for-bit (window row-count over the band key, rows in buckets
    above the cap dropped BEFORE any list is collected); ``None`` keeps
    an uncapped contract for callers whose oracles have no cap.  (The
    perceptual-media pair operators A/B'd this generator against a
    banded self-join over a MATERIALIZED fingerprint frame and kept the
    join — at equal candidate volume the codegen'd join beats the
    interpreted per-candidate struct transform by ~30%; simhash keeps
    this form because its sketch aggregate dominates and the two shapes
    measure equal there, with one less materialization barrier here.)

    ``distinct=False`` skips the cross-band pair dedup so the caller can
    apply its (map-side) distance verify FIRST and dedup the far smaller
    verified set — at radius-3 Hamming most candidates fail the verify,
    so the dedup exchange then carries only true pairs (guide §2.3:
    filter before the shuffle).  Callers taking this path MUST dedup
    afterwards: a pair sharing k bands is emitted k times (identical
    rows, payloads included).
    """
    member = F.struct(
        F.col(id_col).alias("_i"),
        *[F.col(c).alias(f"_p{k}") for k, c in enumerate(payload_cols)],
    )
    kept = exploded
    if max_bucket_size is not None:
        wb = Window.partitionBy(*band_cols)
        kept = (
            exploded.withColumn("_n", F.count(F.lit(1)).over(wb))
            .filter((F.col("_n") >= 2) & (F.col("_n") <= F.lit(max_bucket_size)))
        )
    buckets = kept.groupBy(*band_cols).agg(
        F.array_sort(F.collect_set(member)).alias("_ms")
    )
    pairs = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(_ms, (a, i) -> "
                    "transform(slice(_ms, i + 2, size(_ms) - i - 1), "
                    "b -> struct(a AS a, b AS b))))"
                )
            ).alias("p")
        )
        .select(
            F.col("p.a._i").alias("id_a"),
            F.col("p.b._i").alias("id_b"),
            *[F.col(f"p.a._p{k}").alias(f"{c}_a") for k, c in enumerate(payload_cols)],
            *[F.col(f"p.b._p{k}").alias(f"{c}_b") for k, c in enumerate(payload_cols)],
        )
    )
    return pairs.distinct() if distinct else pairs


def lsh_oversized_buckets(sig: DataFrame, id_col: str = "doc_id",
                          num_perm: int = NUM_PERM, band_size: int = BAND_SIZE,
                          max_bucket_size: int = LSH_MAX_BUCKET) -> DataFrame:
    """Audit twin of :func:`lsh_candidate_pairs`: the (band, bkey, n_ids)
    buckets the cap dropped, so curation jobs can log what was skipped
    (a silent drop of a million-doc bucket is an operational fact the
    pipeline owner needs to see)."""
    exploded = _banded(sig, id_col, num_perm, band_size)
    return (
        exploded.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("n_ids"))
        .filter(F.col("n_ids") > max_bucket_size)
    )


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        max_bucket_size: int = LSH_MAX_BUCKET) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs (id_a < id_b)."""
    return lsh_candidate_pairs(
        minhash_signature(df, text_col, id_col), id_col,
        max_bucket_size=max_bucket_size,
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        threshold: float = 0.7) -> DataFrame:
    """Exact token-set Jaccard over LSH candidates (verify stage).

    Join each candidate pair back to its token set (array_intersect /
    array_union on JVM arrays); emits (id_a, id_b, jaccard) ≥ threshold.
    """
    cands = minhash_dedup_pairs(df, text_col, id_col)
    # Jaccard itself stays on token sets (finer-grained than the shingles
    # used for candidate generation).
    toks = df.select(F.col(id_col), F.array_distinct(X.tokens(text_col)).alias("toks"))
    a = toks.select(F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a"))
    b = toks.select(F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b"))
    j = (
        cands.join(a, "id_a").join(b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
                / F.size(F.array_union("toks_a", "toks_b")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return j


def token_containment_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            threshold: float = 0.8,
                            max_bucket_size: int = LSH_MAX_BUCKET) -> DataFrame:
    """Asymmetric token-set CONTAINMENT over LSH candidates:
    ``C(A→B) = |A∩B| / |A|`` — the quote/partial-copy detector Jaccard
    misses (a 50-token doc fully embedded in a 5,000-token doc has
    Jaccard ≈ 0.01 but containment 1.0 in one direction).

    Emits (id_a, id_b, containment_ab, containment_ba) where EITHER
    direction ≥ ``threshold``.  Candidate generation reuses the minhash
    band buckets, which are tuned for Jaccard — pairs with high
    containment but near-zero Jaccard may not share a band, so recall
    is banded-candidate-bounded (the classic fix is a containment-tuned
    sketch, e.g. bottom-k over the smaller set); the verify stage here
    is exact on whatever the bands surface.  Same scale shape as
    :func:`ngram_jaccard_pairs`: bucketed candidates, token sets joined
    back only for the short list.
    """
    cands = minhash_dedup_pairs(df, text_col, id_col,
                                max_bucket_size=max_bucket_size)
    toks = df.select(F.col(id_col), F.array_distinct(X.tokens(text_col)).alias("toks"))
    a = toks.select(F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a"))
    b = toks.select(F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")

    def c(den):
        return F.when(F.size(den) > 0, F.round(inter / F.size(den).cast("double"), 6)).otherwise(F.lit(0.0))

    return (
        cands.join(a, "id_a").join(b, "id_b")
        .withColumn("containment_ab", c(F.col("toks_a")))
        .withColumn("containment_ba", c(F.col("toks_b")))
        .filter(
            (F.col("containment_ab") >= threshold)
            | (F.col("containment_ba") >= threshold)
        )
        .select("id_a", "id_b", "containment_ab", "containment_ba")
    )


def ngram_contamination(corpus: DataFrame, benchmark: DataFrame, *,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = SHINGLE_N) -> DataFrame:
    """Benchmark-contamination check: per corpus document, how many of its
    distinct word n-grams also appear anywhere in the benchmark set.

    The decontamination pass every training-data pipeline runs before an
    eval: documents sharing n-grams with the test set inflate benchmark
    scores and must be dropped or flagged.  Returns (id, n_shingles,
    n_contaminated, contamination_frac) — one row per corpus doc with ≥ n
    tokens (shorter docs have no n-grams to leak).

    Scale shape: the benchmark n-gram set is DISTINCT-ed and broadcast —
    eval suites are tiny (thousands of rows) next to a 100 TB corpus, so
    the membership probe is a map-side broadcast LEFT join carrying a hit
    marker, and total + contaminated counts come out of ONE per-doc
    aggregation (``count(*)`` / ``count(marker)``) — a single corpus
    scan and a single shuffle, where a semi-join + separate totals
    aggregation would scan and shuffle twice and join the halves back.
    """

    def shingled(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(F.array_distinct(X.word_ngrams(text_col, n))).alias("tok"),
        )

    bench = shingled(benchmark).select("tok").distinct().withColumn("_hit", F.lit(1))
    probed = shingled(corpus).join(F.broadcast(bench), "tok", "left")
    return (
        probed.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),  # count() skips NULLs
        )
        .select(
            id_col,
            "n_shingles",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("contamination_frac"),
        )
    )


def decontaminate_spans(corpus: DataFrame, benchmark: DataFrame, *,
                        text_col: str = "text", id_col: str = "doc_id",
                        n: int = SHINGLE_N, context: int = 2,
                        broadcast_drops: bool = True) -> DataFrame:
    """Span-level decontamination: REMOVE the benchmark-overlapping token
    spans (each matching n-gram plus ``context`` tokens either side)
    instead of dropping whole documents — the GPT-3-style surgical
    variant of :func:`ngram_contamination` (dropping a 50k-token doc
    over one leaked question throws away 49.9k good tokens).

    Returns one row per corpus document: (id, n_tokens, n_removed,
    clean_text) where ``clean_text`` re-joins the surviving tokens of
    the NORMALIZED token stream (original formatting is not
    reconstructed — at training time the tokenized stream is what gets
    consumed; offset-mapped raw-text surgery would need a spans-aware
    tokenizer).

    Scale shape: the benchmark n-gram set is DISTINCT-ed and broadcast
    (map-side probe, as in :func:`ngram_contamination`); hit positions
    expand to drop-spans with a FIXED fan-out of ``n + 2·context`` rows
    per hit; the per-doc drop-sets aggregate on one shuffle bounded by
    hit count — and since contamination is sparse by construction
    (eval suites are tiny), the drop-set frame re-joins the corpus
    BROADCAST (``broadcast_drops=False`` falls back to a doc-keyed
    shuffle join for pathologically contaminated corpora).  The token
    filter itself is a higher-order array expression — no UDF, no
    second corpus shuffle.
    """
    grams = corpus.select(
        F.col(id_col),
        F.posexplode(X.word_ngrams(text_col, n)).alias("pos", "tok"),
    )
    bench = (
        benchmark.select(
            F.explode(F.array_distinct(X.word_ngrams(text_col, n))).alias("tok")
        )
        .distinct()
    )
    drops = (
        grams.join(F.broadcast(bench), "tok")
        .select(
            id_col,
            F.explode(
                F.sequence(
                    F.greatest(F.col("pos") - context, F.lit(0)),
                    F.col("pos") + (n - 1) + context,
                )
            ).alias("dpos"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("dpos").alias("_drop_pos"))
    )
    if broadcast_drops:
        drops = F.broadcast(drops)
    toks = corpus.select(F.col(id_col), X.tokens(text_col).alias("_toks"))
    kept = F.when(
        F.col("_drop_pos").isNull(), F.col("_toks")
    ).otherwise(
        F.filter("_toks", lambda t, i: ~F.array_contains("_drop_pos", i))
    )
    return (
        toks.join(drops, id_col, "left")
        .select(
            id_col,
            F.size("_toks").cast("long").alias("n_tokens"),
            (F.size("_toks") - F.size(kept)).cast("long").alias("n_removed"),
            F.array_join(kept, " ").alias("clean_text"),
        )
    )


def repeated_substring_stats(corpus: DataFrame, *,
                             text_col: str = "text", id_col: str = "doc_id",
                             width: int = 50) -> DataFrame:
    """Exact repeated-substring detection: flag every ``width``-token
    window whose exact content recurs ANYWHERE else in the corpus
    (another document or the same one), keeping the first occurrence
    (min id, then min position) as canonical — the distributed
    formulation of suffix-array substring dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better", which
    removes repeated spans ≥ 50 tokens).

    Returns one row per document with ≥ 1 token: (id, n_tokens,
    n_windows, n_dup_windows, dup_token_frac) where ``dup_token_frac``
    is the fraction of the doc's token positions covered by at least
    one non-canonical duplicated window — the direct "how much of this
    document is copied text" signal used to excise or drop.

    Scale shape: a full suffix array is super-linear and
    single-machine; rolling window fingerprints give the same ≥width
    guarantee (any repeated span of length ≥ width contains a repeated
    width-window) in TWO bounded shuffles — one fingerprint-keyed
    exchange (count + first-occurrence rank over each fingerprint; md5
    keys are uniform, skew-free) and one doc-keyed aggregate.  Window
    expansion is a projection-tier explode (≈ one row per token, no
    shuffle); covered-position counting is an interval-merge
    ``F.aggregate`` over the sorted duplicate starts — O(dups) per doc,
    never a positions explode.
    """
    if width < 1:
        raise ValueError(f"width must be >= 1: {width}")
    toks = corpus.select(F.col(id_col), X.tokens(text_col).alias("_t"))
    starts = F.when(
        F.size("_t") >= width,
        F.sequence(F.lit(1), F.size("_t") - F.lit(width - 1)),
    ).otherwise(F.array().cast("array<int>"))
    wins = toks.select(
        F.col(id_col),
        F.size("_t").alias("n_tokens"),
        F.explode_outer(starts).alias("w1"),  # 1-based window start
        F.col("_t"),
    ).select(
        id_col,
        "n_tokens",
        (F.col("w1") - 1).alias("pos"),
        F.when(
            F.col("w1").isNotNull(),
            F.md5(F.concat_ws(" ", F.slice("_t", F.col("w1"), width))),
        ).alias("fp"),
    )
    # Short docs carry a NULL fp; partitioning the rank window on raw fp
    # would funnel EVERY sub-width document into one NULL-key partition
    # (a guaranteed skew at corpus scale), so they get a per-doc
    # surrogate key instead — unique keys, rank 1, never counted dup.
    fp_key = F.coalesce(
        F.col("fp"), F.concat(F.lit("short:"), F.col(id_col).cast("string"))
    )
    w_fp = Window.partitionBy(fp_key)
    marked = wins.select(
        id_col,
        "n_tokens",
        "pos",
        (
            F.col("fp").isNotNull()
            & (
                F.row_number().over(
                    w_fp.orderBy(F.col(id_col).asc(), F.col("pos").asc())
                )
                > 1
            )
        ).alias("_dup"),
    )
    merge_state = F.struct(
        F.lit(0).cast("long").alias("covered"), F.lit(0).cast("long").alias("last_end")
    )
    dup_starts = F.sort_array(
        F.collect_list(F.when(F.col("_dup"), F.col("pos")))
    )
    covered = F.aggregate(
        dup_starts,
        merge_state,
        lambda acc, s: F.struct(
            (
                acc["covered"]
                + F.greatest(
                    F.lit(0).cast("long"),
                    s.cast("long") + width - F.greatest(s.cast("long"), acc["last_end"]),
                )
            ).alias("covered"),
            F.greatest(acc["last_end"], s.cast("long") + width).alias("last_end"),
        ),
    )["covered"]
    return (
        marked.groupBy(id_col)
        .agg(
            F.first("n_tokens").cast("long").alias("n_tokens"),
            F.count(F.col("pos")).cast("long").alias("n_windows"),
            F.sum(F.when(F.col("_dup"), 1).otherwise(0)).cast("long").alias(
                "n_dup_windows"
            ),
            covered.alias("_covered"),
        )
        .filter(F.col("n_tokens") > 0)
        .select(
            id_col,
            "n_tokens",
            "n_windows",
            "n_dup_windows",
            F.round(
                F.col("_covered").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("dup_token_frac"),
        )
    )


def exact_substring_excise(corpus: DataFrame, *,
                           text_col: str = "text", id_col: str = "doc_id",
                           width: int = 50,
                           broadcast_drops: bool = False) -> DataFrame:
    """ExactSubstr excision: REWRITE each document's token stream with
    every repeated ``width``-token span removed, keeping only the
    corpus-canonical first occurrence (min id, then min position) — the
    production counterpart of :func:`repeated_substring_stats`, which
    only MEASURES the duplicated fraction.  This is the "remove the
    duplicate span, keep one copy" pass of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better"), which
    excises repeated spans ≥ 50 tokens rather than dropping documents.

    Returns one row per input document: (id, n_tokens, n_removed,
    clean_text) where ``clean_text`` re-joins the surviving tokens of
    the NORMALIZED token stream (same contract as
    :func:`decontaminate_spans` — the tokenized stream is what training
    consumes).  Duplicates within a single document count too: the
    second occurrence of a span is excised even when the first lives in
    the same document.

    Scale shape: a suffix array is super-linear and single-machine;
    rolling width-window md5 fingerprints give the same ≥width
    guarantee in bounded shuffles — window expansion is a
    projection-tier explode (≈ one row per token), and duplicate
    marking is ONE fingerprint-keyed AGGREGATE (min(struct(id, pos)) +
    count per fp, kept only where count ≥ 2) re-joined to the window
    stream.  The aggregate — not a row_number window — is deliberate: a
    viral boilerplate sentence shared by 10⁸ documents is ONE window
    partition (unsplittable hot key), but partial aggregation collapses
    it map-side to one row per partition, and the join back against the
    duplicate-fp table (duplication-proportional, far smaller than the
    gram stream) is AQE-skew-splittable — and broadcastable when dups
    are sparse.  Drop-spans then expand with a FIXED fan-out of
    ``width`` rows per duplicate window, and the per-doc drop-sets
    aggregate + re-join on the doc key.  Unlike benchmark
    decontamination, duplicated text is corpus-proportional, so the
    drop-set join defaults to a doc-keyed shuffle join
    (``broadcast_drops=True`` opts into a map-side join when dups are
    known-sparse).  The token filter is a higher-order array expression
    — no UDF, no second corpus shuffle.
    """
    if width < 1:
        raise ValueError(f"width must be >= 1: {width}")
    toks = corpus.select(F.col(id_col), X.tokens(text_col).alias("_t"))
    starts = F.when(
        F.size("_t") >= width,
        F.sequence(F.lit(1), F.size("_t") - F.lit(width - 1)),
    ).otherwise(F.array().cast("array<int>"))
    wins = toks.select(
        F.col(id_col),
        F.explode(starts).alias("w1"),  # 1-based window start
        F.col("_t"),
    ).select(
        id_col,
        (F.col("w1") - 1).alias("pos"),  # 0-based
        F.md5(F.concat_ws(" ", F.slice("_t", F.col("w1"), width))).alias("fp"),
    )
    # NOT materialized, by measurement (r13 verdict #5 A/B, r14):
    # ``wins`` feeds both the duplicate-fp aggregate and the join probe,
    # so the tokenize + window-md5 chain evaluates twice — but a
    # fingerprint-only localCheckpoint of the window stream (id, pos,
    # 32-hex fp; the obvious §8.4-style fix) measured WORSE at both
    # scales: sf0.1 1.34 → 1.54 s median, and at the sf1 replica the
    # materialization of ~10M narrow rows was 2.4-10× slower and wildly
    # unstable (2.68 → 16.5 s median) — the window stream is
    # corpus-token-sized, so block-manager writes + GC dwarf the
    # embarrassingly-parallel duplicate scan+hash work, and both forms
    # shuffle the same narrow rows anyway.  The double evaluation IS the
    # cheaper plan in both regimes; the r13 'wrong trade at 100 TB'
    # judgement stands, now with numbers (OPTIMIZATION_r14.md).
    dup_fps = (
        wins.groupBy("fp")
        .agg(
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_first"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_n") >= 2)
        .select("fp", "_first")
    )
    drops = (
        wins.join(dup_fps, "fp")
        .filter(
            (F.col(id_col) != F.col("_first")[id_col])
            | (F.col("pos") != F.col("_first")["pos"])
        )
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(width - 1))
            ).alias("dpos"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("dpos").alias("_drop_pos"))
    )
    if broadcast_drops:
        drops = F.broadcast(drops)
    kept = F.when(
        F.col("_drop_pos").isNull(), F.col("_toks")
    ).otherwise(
        F.filter("_toks", lambda t, i: ~F.array_contains("_drop_pos", i))
    )
    return (
        corpus.select(F.col(id_col), X.tokens(text_col).alias("_toks"))
        .join(drops, id_col, "left")
        .select(
            id_col,
            F.size("_toks").cast("long").alias("n_tokens"),
            (F.size("_toks") - F.size(kept)).cast("long").alias("n_removed"),
            F.array_join(kept, " ").alias("clean_text"),
        )
    )


def connected_components(ids: DataFrame, pairs: DataFrame, *,
                         id_col: str = "doc_id", max_iter: int = 25,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components over near-dup pairs: (id, cluster_id) where
    cluster_id = the smallest id reachable through the pair graph.

    This is the step that turns pairwise dedup output into something a
    curation pipeline can act on — pick ONE canonical doc per cluster and
    drop the rest (pairs alone can't: near-dups chain, A~B~C with A≁C).

    Min-label propagation WITH pointer jumping: every node starts
    labeled with its own id; each round a node adopts the smallest of
    its own label, its neighbors' labels, and its label's label
    (``L(L(v))`` — path doubling).  The jump halves label-chain depth
    every round, so convergence is O(log diameter) rounds, not
    O(diameter): plain propagation needs one round per hop and diverges
    in practice — a 5k-doc corpus at sf0.1 already produced an LSH
    component with diameter > 25.  The fixpoint (min id per component)
    is unique, so the result is deterministic regardless of round
    schedule.  Labels use the id column's natural ordering, so string
    doc ids (URLs, content hashes) work as well as numeric ones.

    Scale shape: ONLY nodes that appear in an edge enter the loop —
    on a real corpus, near-dup components cover a small fraction of
    documents, and dragging the singleton majority through O(log d)
    shuffle rounds would dominate the cost for no effect (they rejoin
    as their own cluster after the fixpoint).  Each round is then one
    shuffle-join of the (bounded) edge list against the label frame, a
    min-aggregate on the same id key, and one label self-join for the
    jump.  Label frames are checkpointed every round (``checkpoint_dir``:
    see :mod:`operators.fixpoint`).  Convergence = a round that
    changes zero labels: the previous label rides through the round's
    aggregate as a carried column, so the changed-count is ONE scalar
    aggregate per round — no frame-diff join, and no dependence on the
    id type being summable (a decimal SUM over labels would crash on
    string ids under ANSI mode, or silently mis-converge with ANSI off).
    """
    spark = ids.sparkSession
    lbl_type = ids.schema[id_col].dataType
    with Fixpoint(spark, checkpoint_dir) as fx:
        edges = fx.ckpt(
            pairs.select(F.col("id_a").alias("dst"), F.col("id_b").alias("id"))
            .unionAll(pairs.select(F.col("id_b").alias("dst"), F.col("id_a").alias("id"))),
            lazy=True,  # right_size's count is the materializing action
        )  # computed once, re-joined every round
        # Every loop frame is bounded by the (now measured) edge list, and
        # the per-round work is light (hash/compare over narrow rows), so
        # size the rounds' tasks from the data, not the core count
        # (functions.sizing docstring; guide §2.2).  The loop below runs
        # under a shuffle-partition pin derived from the same measurement.
        edges, eparts = right_size(edges)
        # ONLY nodes that appear in an edge enter the iterative loop: on a
        # real corpus near-dup components cover a small fraction of
        # documents, and singletons riding O(log d) shuffle rounds would
        # dominate the cost for no effect (their label never changes).
        # They rejoin as their own cluster after the fixpoint.
        touched = edges.select("id").distinct()
        singletons = (
            ids.select(F.col(id_col).alias("id"))
            .join(touched, "id", "left_anti")
            .select(F.col("id"), F.col("id").alias("lbl"))
        )
        labels: DataFrame | None = None  # round 0 needs no label frame (see below)
        converged = False
        # Each round is TWO parsed spark.sql statements over temp views of
        # the (checkpointed) round frames instead of ~10 DataFrame ops /
        # ~25 Column builders — the py4j/analysis chatter cost ~0.25 s per
        # operator invocation on top of the two per-round jobs (guide §4;
        # r14 isolated A/B on the ahash pair graph: 1.47-1.52 → 1.18-1.44 s
        # min).  The SQL text parses to the identical Catalyst plans
        # (exceptAll + oracle verified).
        tsql = lbl_type.simpleString()
        ev, lv, sv = fx.view("cc_e"), fx.view("cc_l"), fx.view("cc_s")
        with fx.pinned(eparts):
            edges.createOrReplaceTempView(ev)
            for _ in range(max_iter):
                # "own" rows carry the node's current label; propagated
                # rows carry NULL own — so max(own) in the aggregate
                # recovers the previous label without a frame-diff join.
                # Round 0's labels are the identities, so BOTH inputs are
                # pure projections of the (checkpointed) edges: own =
                # (id, id, id) — duplicated per edge row, collapsed by the
                # map-side partial aggregate, max(own) still the identity
                # — and propagated = (dst, source-id, NULL).  This removes
                # round 0's |E|⋈|V| label join AND the separate label-
                # frame initialization job entirely (r13 round profile:
                # round 0 cost 3× the steady rounds).
                if labels is None:
                    inner = (
                        f"SELECT id, id AS lbl, id AS own FROM {ev}"
                        f" UNION ALL SELECT dst AS id, id AS lbl,"
                        f" CAST(NULL AS {tsql}) AS own FROM {ev}"
                    )
                else:
                    labels.createOrReplaceTempView(lv)
                    inner = (
                        f"SELECT id, lbl, lbl AS own FROM {lv}"
                        f" UNION ALL SELECT e.dst AS id, l.lbl,"
                        f" CAST(NULL AS {tsql}) AS own"
                        f" FROM {ev} e JOIN {lv} l ON e.id = l.id"
                    )
                # checkpoint BEFORE the self-join: both join sides then
                # reference one materialized plan — a lazy self-join over
                # deep iterative lineage trips Spark's self-join attribute
                # disambiguation ("key not found" at optimization time).
                # stepped is LAZY: the convergence scalar below is its
                # single consumer at materialization time (a full-scan
                # aggregate — every partition caches inside that one job),
                # so the round's aggregate and the changed-count are ONE
                # job; the jump join afterwards reads the already-cached
                # blocks from its two sides (no concurrent-consumer race:
                # the agg ran first).
                stepped = fx.ckpt(spark.sql(
                    f"SELECT id, min(lbl) AS lbl, max(own) AS prev"
                    f" FROM ({inner}) GROUP BY id"
                ), lazy=True)
                # Convergence is detected on the PRE-jump aggregate: a
                # zero-change min-propagation round means lbl(v) =
                # min(lbl(u), u ∈ N[v]) for every v, which forces lbl
                # equal across every edge, i.e. constant per component —
                # the global fixpoint — so the pointer jump is provably
                # the identity there and the final round's jump join is
                # skipped outright (one fewer job and join per call;
                # round count is unchanged because any pre-jump change
                # also changed the post-jump labels).
                n_changed = stepped.agg(F.expr(
                    "sum(CASE WHEN prev IS NULL OR lbl != prev"
                    " THEN 1 ELSE 0 END) AS n"
                )).collect()[0]["n"]
                if not n_changed:  # labels only decrease: a zero-change round is the fixpoint
                    labels = stepped.select("id", "lbl")
                    converged = True
                    break
                stepped.createOrReplaceTempView(sv)
                # pointer jump: follow lbl -> lbl's OWN label (labels are
                # node ids, so every lbl resolves; coalesce guards the
                # contract)
                labels = fx.ckpt(spark.sql(
                    f"SELECT s.id, least(s.lbl, coalesce(j._jlbl, s.lbl))"
                    f" AS lbl FROM {sv} s LEFT JOIN"
                    f" (SELECT id AS _jid, lbl AS _jlbl FROM {sv}) j"
                    f" ON s.lbl = j._jid"
                ))
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds — "
                "pathological graph; raise max_iter or pre-collapse with exact dedup"
            )
        # materialize the result: every downstream consumer of the
        # labeling (cluster sizes + the size join, the audit aggregates)
        # reads it at least twice, and the singleton anti-join would
        # otherwise re-run per consumer.  Built OUTSIDE the shuffle-
        # partition pin: the singleton anti-join and the union scan the
        # full ids frame, which at real scale is orders of magnitude
        # larger than the edge set — running that stage at an
        # edge-derived task width is exactly the under-parallelization
        # the pin elsewhere avoids (r13 advice).
        return fx.ckpt(
            labels.unionAll(singletons).select(
                F.col("id").alias(id_col), F.col("lbl").alias("cluster_id")
            )
        )


def near_dup_clusters(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", *,
                      checkpoint_dir: str | None = None,
                      pairs: DataFrame | None = None,
                      cc: DataFrame | None = None) -> DataFrame:
    """End-to-end near-dup clustering: MinHash+LSH pairs → connected
    components → per-cluster stats.  Returns one row per document:
    (id, cluster_id, cluster_size, is_canonical) — ``is_canonical`` marks
    the single survivor (smallest id) a keep-one-per-cluster curation
    step would retain.  One extra shuffle (cluster-size count) past the
    component computation; the size join stays on the cluster_id key.

    ``pairs`` / ``cc`` accept precomputed artifacts: the verified pair
    graph and component labels are corpus INDEX artifacts (built once,
    served to every downstream audit/curation query), so callers that
    already materialized them skip the sketch+CC work entirely.
    """
    if cc is None:
        if pairs is None:
            pairs = minhash_dedup_pairs(df, text_col, id_col)
        cc = connected_components(df.select(id_col), pairs,
                                  id_col=id_col, checkpoint_dir=checkpoint_dir)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        cc.join(sizes, "cluster_id")
        .select(
            id_col,
            "cluster_id",
            "cluster_size",
            (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
        )
    )


def cluster_quality_report(ids: DataFrame, pairs: DataFrame, *,
                           id_col: str = "doc_id",
                           risk_density: float = 0.5,
                           cc: DataFrame | None = None) -> DataFrame:
    """Per-cluster dedup-quality audit: how much should you trust
    keep-one-per-cluster?  A cluster that is a CLIQUE (density 1.0 —
    every member pairwise-similar) safely collapses to one survivor; a
    CHAIN (A~B~C~D with A≁D, density → 2/n) reached its size through
    transitivity, and dropping everything but one doc risks discarding
    non-duplicates — those clusters are the ones to route through a
    verify pass (exact Jaccard, human sample) before deletion.

    Returns (cluster_id, n_nodes, n_edges, density, chain_risk) for
    every multi-member cluster, density = e / C(n,2) over the DISTINCT
    verified pair edges, chain_risk = density < ``risk_density``.
    Scale shape: the pair graph is bucket-cap bounded; one component
    pass (O(log d) rounds) + two small keyed aggregates.  ``cc`` accepts
    a precomputed component labeling (id, cluster_id) so an audit run
    over an already-built dedup index skips the CC iteration.
    """
    if cc is None:
        cc = connected_components(ids, pairs, id_col=id_col)
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    ).filter(F.col("n_nodes") >= 2)
    edges = (
        pairs.select("id_a", "id_b").distinct()
        .join(cc.select(F.col(id_col).alias("id_a"), "cluster_id"), "id_a")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    max_e = F.col("n_nodes") * (F.col("n_nodes") - 1) / 2
    return (
        sizes.join(edges, "cluster_id", "left")
        .withColumn("n_edges", F.coalesce("n_edges", F.lit(0)))
        .withColumn("density", F.round(F.col("n_edges") / max_e, 6))
        .withColumn(
            "chain_risk",
            (F.col("density") < F.lit(risk_density)).cast("int"),
        )
    )


def semantic_dedup(emb: DataFrame, *, id_col: str = "vec_id",
                   threshold: float = 0.3, n_cells: int = 8, nprobe: int = 2,
                   checkpoint_dir: str | None = None,
                   cc: DataFrame | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate clusters
    over an embedding column — cosine-similar pairs blocked by quantizer
    cells, closed into components, one survivor per cluster.  Where
    MinHash catches lexical copies, this catches paraphrases and
    re-renderings that share no n-grams.

    Composition of oracled stages: cell-blocked cosine pairs
    (:func:`embedding_near_dup_pairs_by_cell` — Σ|cell|², never N²) →
    :func:`connected_components` (O(log diameter) bounded shuffle
    rounds) → per-cluster size + min-id survivor.  Returns one row per
    vector: (id, cluster_id, cluster_size, is_survivor).

    Pass a precomputed ``cc`` labeling (an ``(id, cluster_id)`` frame
    from the same pair graph) to skip the sketch+closure stages — the
    materialized-index serving path, same contract as
    :func:`near_dup_clusters` / :func:`keep_best_per_cluster`.
    """
    if cc is None:
        pairs = embedding_near_dup_pairs_by_cell(
            emb, id_col=id_col, threshold=threshold,
            n_cells=n_cells, nprobe=nprobe,
        )
        cc = connected_components(
            emb.select(id_col), pairs.select("id_a", "id_b"),
            id_col=id_col, checkpoint_dir=checkpoint_dir,
        )
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "cluster_id").select(
        id_col,
        "cluster_id",
        "cluster_size",
        (F.col(id_col) == F.col("cluster_id")).alias("is_survivor"),
    )


def keep_best_per_cluster(df: DataFrame, pairs: DataFrame, *,
                          id_col: str = "doc_id",
                          score: Column | None = None,
                          checkpoint_dir: str | None = None,
                          cc: DataFrame | None = None) -> DataFrame:
    """Cluster the near-dup pair graph and keep the BEST-scoring row per
    component (ties break to the smallest id) — the curation policy that
    preserves the highest-quality copy instead of the arbitrary min-id
    one (a scrape's earliest copy is often the worst: truncated,
    boilerplate-wrapped, pre-cleanup).

    ``score`` defaults to :func:`functions.text.quality_score` over the
    ``text`` column.  Returns the surviving rows of ``df`` (all original
    columns).  Cost on top of :func:`connected_components`: one
    cluster-keyed window (rank-1 filter) — the per-cluster sort covers
    component-sized groups, bounded by the LSH bucket cap upstream.
    """
    from pyspark.sql.window import Window

    from sap_data_pipeline_spark.functions import text as X

    extra_cols: list[str] = []
    if score is None:
        # hoist the tokenizer into its own projection tier — the default
        # quality score otherwise re-expands the tokenize chain into its
        # stopword and word-length terms (r11 verdict #2)
        df = df.withColumn("_kb_toks", X.tokens("text"))
        score = X.quality_score_from(F.col("text"), F.col("_kb_toks"))
        extra_cols = ["_kb_toks"]
    if cc is None:
        cc = connected_components(df.select(id_col), pairs, id_col=id_col,
                                  checkpoint_dir=checkpoint_dir)
    scored = df.join(cc, id_col).withColumn("_score", score)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("_score"), F.asc(id_col)
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "_score", "cluster_id", *extra_cols)
    )


# hash64 yields 60 usable bits (15 md5 nibbles — the widest slice both
# Spark and DuckDB can hold in a signed BIGINT without overflow), so a
# sketch wider than 60 bits draws its upper bits from a SECOND seeded
# hash word rather than one unrepresentable 64-bit value.
_SIMHASH_WORD = 60


def simhash_bit_value(i: int) -> int:
    """Signed-long addend that sets sketch bit ``i`` (bit 63 is the sign
    bit: its two's-complement addend is -2^63, which both engines hold)."""
    return (1 << i) if i < 63 else -(1 << 63)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 16) -> DataFrame:
    """SimHash: per-bit majority vote over token hashes → integer sketch.

    Sketch bit ``i`` votes on bit ``i % 60`` of hash word ``i // 60``
    (md5 with a per-word seed): widths ≤ 60 cost ONE digest per token and
    are byte-identical to the historical single-hash form; 64-bit
    production sketches cost two.  One groupBy(doc) shuffle, sums are
    per-bit ±1 counts.
    """
    n_words = (bits + _SIMHASH_WORD - 1) // _SIMHASH_WORD
    toks = df.select(
        F.col(id_col), F.explode(F.array_distinct(X.tokens(text_col))).alias("tok")
    )
    for w in range(n_words):
        toks = toks.withColumn(f"h{w}", X.hash64(F.col("tok"), seed=w))
    # The whole vote-sum aggregate + sketch reassembly is ONE parsed
    # spark.sql statement (aggregates inline in the projection): the
    # Column-op form (64 × when/otherwise/bitwiseAND chains + a 64-deep
    # Add chain) cost ~1.05 s of pure driver-side construction per
    # invocation, the per-expression F.expr form still ~0.25 s (a
    # 64-column agg analysis + an extra select); the single statement is
    # ~0.05 s (guide §4 — the py4j boundary; same class as the r13
    # batched-literal fix).  The parsed text yields the SAME Catalyst
    # aggregate, so plans and values are bit-identical (equality +
    # oracle verified).  shiftleft(1L, i) constant-folds to the exact
    # signed addend of simhash_bit_value(i) — including bit 63's -2^63
    # (long min), which has no direct SQL literal spelling.
    terms = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h{i // _SIMHASH_WORD}"
        f" & {1 << (i % _SIMHASH_WORD)}) != 0 THEN 1 ELSE -1 END) > 0"
        f" THEN shiftleft(cast(1 as bigint), {i})"
        f" ELSE cast(0 as bigint) END)"
        for i in range(bits)
    )
    spark = df.sparkSession
    v = temp_view_name("simhash")
    toks.createOrReplaceTempView(v)
    try:
        return spark.sql(
            f"SELECT `{id_col}`, ({terms}) AS simhash FROM {v}"
            f" GROUP BY `{id_col}`"
        )
    finally:
        try:
            spark.catalog.dropTempView(v)
        except Exception:
            pass


def simhash_near_dup_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", *, bits: int = 64,
                           n_bands: int = 4, max_hamming: int = 3,
                           max_bucket_size: int = LSH_MAX_BUCKET) -> DataFrame:
    """SimHash near-dup pairs: band the sketch bits, bucket-join, verify
    by exact Hamming distance.

    The pigeonhole guarantee: two sketches within ``max_hamming`` bits of
    each other differ in at most ``max_hamming`` of the ``n_bands``
    bit-bands, so with ``max_hamming < n_bands`` they MUST agree on at
    least one band — banding finds every true near-pair (recall 1.0 at
    the sketch level), and the Hamming check kills the false bucket
    collisions.  Returns (id_a, id_b, hamming) with hamming ≤
    ``max_hamming``.

    The 64-bit default is the production width: the bucket cap bounds
    candidate COMPUTE, but emitted-pair volume is bounded only by sketch
    selectivity — Hamming ≤ 3 of 32 bits on a shared-vocabulary corpus
    admits ~17% of all-pairs (measured at sf0.01), approaching quadratic
    OUTPUT at 100 TB, while ≤ 3 of 64 is selective (≥10× fewer pairs on
    the same corpus, test-pinned).  Narrower widths remain available for
    oracle continuity.

    Scale shape mirrors minhash-LSH: one sketch group-by, one band-keyed
    shuffle with the enforced bucket cap.  The 8-byte sketch rides the
    banded rows, so candidate pairs emerge with both sides' sketches
    attached and the Hamming verify is a map-side expression — no verify
    join, and the expensive sketch aggregate (tokenize + md5 + 64
    bit-sums) is evaluated exactly ONCE (the former
    ``bucketed_pairs`` + two-sided verify-join shape re-evaluated it
    three times; r13 optimization, plans/r13/simhash_near_dup_pairs64_*).
    Everything is integer bit math — ``shiftright``/mask for bands,
    ``bit_count(xor)`` for the verify — inside codegen.
    """
    assert bits % n_bands == 0, "bits must split evenly into bands"
    width = bits // n_bands
    mask = (1 << width) - 1
    sk = simhash(df, text_col, id_col, bits=bits)
    entries = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask))
            .cast("string").alias("bkey"),
        )
        for b in range(n_bands)
    ])
    exploded = sk.select(
        F.col(id_col), F.col("simhash"), F.explode(entries).alias("e")
    ).select(
        F.col(id_col), F.col("simhash"),
        F.col("e.band").alias("band"), F.col("e.bkey").alias("bkey"),
    )
    cands = banded_payload_pairs(
        exploded, id_col, ["simhash"], max_bucket_size=max_bucket_size,
        distinct=False,
    )
    # verify map-side BEFORE the cross-band dedup: most candidates fail
    # the radius, so the distinct exchange carries only true pairs
    return (
        cands.withColumn(
            "hamming",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def embedding_near_dup_pairs(emb: DataFrame, *, id_col: str = "vec_id",
                             vec_col: str = "embedding", block_col: str = "label",
                             threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-dup within a PROVIDED blocking key.

    The block join keeps the pair space |block|² instead of N²; use this
    variant when a natural block exists (a label, a shard, a dedup
    domain).  When no label exists — the usual 100 TB case — use
    :func:`embedding_near_dup_pairs_by_cell`, which derives the block
    from a quantizer cell.  Returns (id_a, id_b, cosine) ≥ threshold.
    """
    a = emb.select(F.col(block_col).alias("blk"), F.col(id_col).alias("id_a"),
                   F.col(vec_col).alias("va")).withColumn("_na", V.norm("va"))
    b = emb.select(F.col(block_col).alias("blk"), F.col(id_col).alias("id_b"),
                   F.col(vec_col).alias("vb")).withColumn("_nb", V.norm("vb"))
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        # per-vector norms hoisted (r11, same finding as knn_graph)
        .withColumn(
            "cosine",
            F.round(V.dot("va", "vb") / (F.col("_na") * F.col("_nb")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def seeded_cell_assign(emb: DataFrame, *, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       n_cells: int = 8, nprobe: int = 2) -> DataFrame:
    """Deterministic coarse-quantizer cell assignment — the shared
    blocking primitive under :func:`embedding_near_dup_pairs_by_cell`
    and :func:`similarity.knn_graph`.

    Centroids are the ``n_cells`` vectors with the smallest
    ``md5('cell:' || id)`` (a seeded sample — no iterative training, so
    the assignment semantics stay SQL-replayable); each vector probes
    its ``nprobe`` nearest cells by L2 so cell-boundary neighbors still
    meet.

    The centroid sample is collected to the driver (bounded: n_cells
    rows, the same precedent as the fixed-model ANN serving twins) and
    inlined as ONE nested-array literal, so assignment is a pure
    single-evaluation Project over the scan.  The previous
    broadcast-one-row + crossJoin formulation measured 4× the
    assignment flops: Catalyst duplicated the full
    n_cells-way scoring expression into the BroadcastNestedLoopJoin
    condition (the inferred ``size(..)>0`` explode guard) AND built the
    whole centroid subplan once per consumer side — with cells grown
    ∝ N (the IVF contract) that turned the quadratic assignment term
    into the dominant super-linear residue of the r10 SCALE table.
    ``explode_outer`` keeps the guard from re-materializing (the probe
    array always has nprobe ≥ 1 entries, so the outer form is
    semantics-identical).  Returns (id, vec, cell) with nprobe rows
    per vector.

    Contract note: the centroid sample is collected when the plan is
    CONSTRUCTED (eager — the bounded-literal precedent of the
    fixed-model ANN twins), not at action time like the old lazy
    crossJoin formulation.  An empty input short-circuits to an empty
    (id, vec, cell) frame rather than building an untyped empty-array
    literal the downstream higher-order expressions cannot analyze.
    """
    v_dbl = F.col(vec_col).cast("array<double>")
    rows = (
        emb.select(
            F.col(id_col).alias("_cid"),
            v_dbl.alias("cent_vec"),
            F.md5(F.concat(F.lit("cell:"), F.col(id_col).cast("string"))).alias("_r"),
        )
        .orderBy("_r", "_cid")
        .limit(n_cells)
        .collect()
    )
    if not rows:
        return (
            emb.select(F.col(id_col), F.col(vec_col))
            .withColumn("cell", F.lit(None).cast("int"))
            .limit(0)
        )
    rows.sort(key=lambda r: (r["_r"], r["_cid"]))  # cell i = i-th by (_r, id)
    # The whole score→sort chain is ONE parsed F.expr with the centroid
    # matrix embedded in the same text: one py4j round-trip instead of
    # one per float for the literal (r13) plus ~30 ms per Python-lambda
    # higher-order builder (r14, guide §4).  Identical Catalyst
    # expressions — values bit-exact.
    # (A single linear best/second fold (for nprobe ≤ 2) was tried here
    # in r12 to replace the full array_sort and measured 12% SLOWER in
    # an interleaved same-session A/B at the auto cell count (medians
    # 2.99 s vs 2.66 s, n_cells=63, sf0.1): the distance folds dominate
    # assignment, and the fold's per-step 4-field struct rebuild with
    # nested CASE chains costs more than the sort's comparator.  Keep
    # the simpler sort.)
    cents = V.double_array_sql([[float(x) for x in r["cent_vec"]] for r in rows])
    by_dist = F.expr(
        f"array_sort(transform({cents}, (cv, i) -> struct("
        "CAST(i AS INT) AS cell,"
        f" aggregate(zip_with(CAST(`{vec_col}` AS ARRAY<DOUBLE>), cv,"
        " (x, m) -> (x - m) * (x - m)), 0.0D, (acc, x) -> acc + x) AS dist)),"
        " (a, b) -> CASE WHEN a.dist < b.dist THEN -1"
        " WHEN a.dist > b.dist THEN 1"
        " WHEN a.cell < b.cell THEN -1"
        " WHEN a.cell > b.cell THEN 1 ELSE 0 END)"
    )
    return (
        emb.select(F.col(id_col), F.col(vec_col))
        .withColumn("_near", F.slice(by_dist, 1, nprobe))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.explode_outer(F.col("_near").getField("cell")).alias("cell"),
        )
    )


def embedding_near_dup_pairs_by_cell(emb: DataFrame, *, id_col: str = "vec_id",
                                     vec_col: str = "embedding",
                                     threshold: float = 0.95,
                                     n_cells: int = 8, nprobe: int = 2) -> DataFrame:
    """Label-free embedding near-dup: the blocking key is a coarse
    quantizer cell, so the operator works on a bare (id, vector) corpus —
    the real 100 TB case, where no label column exists.

    Quantizer: a deterministic seeded sample — the ``n_cells`` vectors
    with the smallest ``md5('cell:' || id)`` become the centroids (no
    iterative training pass, so the whole operator is one declarative
    plan and is SQL-replayable for the oracle).  Each vector probes its
    ``nprobe`` nearest cells (L2), so near-dups straddling a cell
    boundary still meet in the neighbor cell.  Assignment is map-side:
    the centroid array is broadcast as ONE row and ranked with
    higher-order array expressions — no per-row Python, no shuffle.
    The only shuffles are the cell-keyed self-join (≤ n_cells keys, AQE
    skew-split covers hot cells) and the candidate-pair distinct.
    Returns (id_a, id_b, cosine) ≥ threshold.
    """
    assigned = seeded_cell_assign(
        emb, id_col=id_col, vec_col=vec_col, n_cells=n_cells, nprobe=nprobe
    )
    # norms hoisted to the per-vector sides (N·nprobe folds, not one
    # per candidate pair) — same bit-exact dot/(sqrt·sqrt) arithmetic,
    # 1/3 the pair-stage folds (same r11 finding as similarity.knn_graph)
    a = assigned.select(
        "cell", F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
    ).withColumn("_na", V.norm("va"))
    b = assigned.select(
        "cell", F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
    ).withColumn("_nb", V.norm("vb"))
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        # score BEFORE the pair dedup: a pair probing ≥2 shared cells
        # pays ≤ nprobe² redundant map-side cosine folds, but the
        # threshold then prunes most candidates map-side and the dedup
        # shuffle carries narrow (id_a, id_b, cosine) survivors instead
        # of two full vectors — shuffle bytes, not folds, are what
        # spill at corpus scale (same finding as similarity.knn_graph)
        .withColumn(
            "cosine",
            F.round(V.dot("va", "vb") / (F.col("_na") * F.col("_nb")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
        .dropDuplicates(["id_a", "id_b"])
    )


def snapshot_admission(ref: DataFrame, cur: DataFrame, *,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Cross-snapshot admission dedup — the batch twin of the streaming
    incremental near-dedup (streaming/ingest.py): a new crawl batch
    ``cur`` is admitted against the already-ingested corpus ``ref``.
    A candidate survives iff (a) it is the keep-first canonical (min id)
    of its exact-content group WITHIN the batch, and (b) its fingerprint
    does not already exist in the reference corpus.

    Returns ``(fingerprint, id, n_copies)`` — ``n_copies`` is the
    within-batch multiplicity, the re-crawl audit number.

    Scale: both sides reduce to fingerprint-keyed rows (32-hex md5 —
    uniform, skew-free); the reference side is distinct-fingerprints
    only, and the anti-join shuffles fingerprints, never documents.  At
    100 TB the reference fingerprint set is exactly what the versioned
    corpus table already stores per snapshot — this operator never
    re-reads reference text.
    """
    ref_fp = ref.select(X.md5_fingerprint(text_col).alias("fingerprint")).distinct()
    grp = (
        cur.select(F.col(id_col), X.md5_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    return grp.join(ref_fp, "fingerprint", "left_anti")


def minhash_estimate_audit(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           num_perm: int = NUM_PERM,
                           shingle_n: int = SHINGLE_N) -> DataFrame:
    """MinHash estimator-quality audit: for every LSH candidate pair,
    the signature-agreement ESTIMATE (matching permutations /
    ``num_perm`` — the unbiased MinHash estimator of shingle-set
    Jaccard, Broder 1997) next to the EXACT shingle-set Jaccard it
    estimates, plus the absolute error.  This is the dashboard that
    says whether ``num_perm`` is adequate for the corpus at hand —
    dedup thresholds tuned on the estimate silently drift when the
    permutation count is too small for the similarity band in play.

    The estimate must compare against SHINGLE Jaccard (what MinHash
    actually estimates), not token Jaccard — ``ngram_jaccard_pairs``'s
    verify stage deliberately uses the finer token sets, which is
    exactly why it cannot audit the estimator.

    Scale shape: signatures and shingle sets are computed ONCE into a
    doc-keyed feature frame; candidate pairs (already bucket-capped by
    ``lsh_candidate_pairs``) join it twice on the id keys.  Returns
    (id_a, id_b, est_jaccard, exact_jaccard, abs_err), all rounded to
    6dp with the same op order as the DuckDB twin.
    """
    sig = minhash_signature(df, text_col, id_col, num_perm)
    shing = df.select(
        F.col(id_col),
        F.array_distinct(X.word_ngrams(text_col, shingle_n)).alias("sh"),
    )
    feat = sig.join(shing, id_col)
    cands = lsh_candidate_pairs(sig, id_col, num_perm)
    a = feat.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(num_perm)],
    )
    b = feat.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(num_perm)],
    )
    matches = sum(
        (F.col(f"a{s}") == F.col(f"b{s}")).cast("int")
        for s in range(num_perm)
    )
    est = F.round(matches.cast("double") / F.lit(float(num_perm)), 6)
    exact = F.round(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        6,
    )
    return (
        cands.join(a, "id_a").join(b, "id_b")
        .withColumn("est_jaccard", est)
        .withColumn("exact_jaccard", exact)
        .withColumn(
            "abs_err",
            F.round(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6),
        )
        .select("id_a", "id_b", "est_jaccard", "exact_jaccard", "abs_err")
    )
