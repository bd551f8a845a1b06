"""Approximate-nearest-neighbor search over an embedding column.

Three strategies:

* ``brute_force_topk`` — exact baseline: query×corpus join, cosine via
  JVM higher-order functions, per-query top-k with a window.  At 100 TB
  the corpus side stays partitioned; the (small) query set is broadcast,
  so the join is shuffle-free and the only shuffle is the per-query top-k
  (k rows per partition pre-aggregated by the window's partial sort).
* ``lsh_topk`` — the scale path: random-hyperplane signs bucket the
  corpus (signed-projection LSH); queries probe only their bucket, then
  exact cosine re-ranks within it.  Hyperplanes are deterministic
  (seeded md5 of (plane, dim)) so results are reproducible and the
  planes need no driver-side state.
* ``ivf_topk`` — data-adaptive variant: a KMeans coarse quantizer
  (trained on a sample) partitions the corpus into cells; each query
  probes its ``nprobe`` nearest cells and re-ranks exactly inside them.
  IVF beats LSH when the data is clustered (buckets follow density);
  LSH needs no training pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sap_data_pipeline_spark.functions import vectors as V

# Test hook: KMeans training invocations by kind.  The catalog's
# train-once model cache must hold these flat across repeated ANN
# queries in one session — tests_ann pins the count so a cache re-key
# regression (every query re-fitting its codebooks) fails loudly
# instead of silently multiplying training cost.
train_calls: dict[str, int] = {"ivf": 0, "pq": 0, "pca": 0}


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5, *,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Ties broken by neighbor id for determinism.  Returns
    (query_id, neighbor_id, cosine, rank).
    """
    # norms hoisted to the per-vector projections (r11: the inlined
    # V.cosine paid 3 interpreted folds per PAIR — for brute force that
    # recomputed every corpus norm once per QUERY); same bit-exact
    # dot/(sqrt*sqrt) arithmetic, dot-only per pair
    q = F.broadcast(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("_nq", V.norm("qv"))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("_nc", V.norm("cv"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(V.dot("qv", "cv") / (F.col("_nq") * F.col("_nc")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hard_negatives_topk(corpus: DataFrame, queries: DataFrame, k: int = 5, *,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        label_col: str = "label",
                        query_id_col: str = "query_id") -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-k most-similar corpus vectors with a DIFFERENT label — the
    near-the-margin negatives that make triplet/InfoNCE training
    converge (random negatives are too easy; same-label neighbors are
    false negatives and must be excluded, which is the whole reason
    this isn't just ``brute_force_topk``).

    Same scale shape as the brute-force scan (queries broadcast, one
    pass over the corpus, per-query top-k window); at 100 TB swap the
    candidate generation for the IVF/PQ path and keep the label-
    exclusion filter + rerank.  Returns (query_id, neighbor_id,
    neighbor_label, cosine, rank).
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.col(label_col).alias("_qlabel"),
        ).withColumn("_nq", V.norm("qv"))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("neighbor_label"),
    ).withColumn("_nc", V.norm("cv"))
    scored = (
        q.crossJoin(c)
        .filter(
            (F.col("query_id") != F.col("neighbor_id"))
            & ~F.col("neighbor_label").eqNullSafe(F.col("_qlabel"))
        )
        # per-vector norms hoisted (r11, same finding as knn_graph)
        .withColumn(
            "cosine",
            F.round(V.dot("qv", "cv") / (F.col("_nq") * F.col("_nc")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine", "rank")
    )


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 bytes."""
    import hashlib

    vals = []
    for d in range(dim):
        h = hashlib.md5(f"p{plane}:d{d}".encode()).hexdigest()
        vals.append((int(h[:8], 16) / 0xFFFFFFFF) * 2.0 - 1.0)
    return vals


def lsh_buckets(df: DataFrame, *, vec_col: str = "embedding", dim: int,
                n_planes: int = 4, n_tables: int = 8) -> DataFrame:
    """Explode each row into ``n_tables`` (table, bucket) LSH keys.

    OR-amplification: a neighbor is a candidate if it collides in ANY
    table.  With per-plane collision probability p = 1 - θ/π, candidate
    recall is 1-(1-p^n_planes)^n_tables — n_tables is the recall knob,
    n_planes the bucket-size knob.
    """
    tables = []
    for t in range(n_tables):
        bits = []
        for p in range(n_planes):
            plane = V.double_array_lit(_hyperplane(dim, t * n_planes + p))
            proj = F.aggregate(
                F.zip_with(F.col(vec_col), plane, lambda x, h: x.cast("double") * h),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
        tables.append(F.struct(F.lit(t).alias("tbl"), F.concat(*bits).alias("bucket")))
    return df.withColumn("_lsh", F.explode(F.array(*tables))).select(
        "*", F.col("_lsh.tbl").alias("lsh_table"), F.col("_lsh.bucket").alias("lsh_bucket")
    ).drop("_lsh")


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5, *, dim: int,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", n_planes: int = 4,
             n_tables: int = 8) -> DataFrame:
    """Multi-table bucketed ANN: union candidates over tables, exact
    cosine re-rank inside the candidate set.

    Recall < 1 by design; tests gate it against ``brute_force_topk``.
    The bucket join shuffles on (table, bucket) ids — n_tables×2^n_planes
    distinct keys; AQE skew-split covers hot buckets.  Corpus-side cost is
    one scan producing n_tables narrow (key, id) rows per vector.
    """
    cb = lsh_buckets(corpus, vec_col=vec_col, dim=dim, n_planes=n_planes,
                     n_tables=n_tables).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        "lsh_table", "lsh_bucket",
    ).withColumn("_nc", V.norm("cv"))
    qb = lsh_buckets(queries, vec_col=vec_col, dim=dim, n_planes=n_planes,
                     n_tables=n_tables).select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        "lsh_table", "lsh_bucket",
    ).withColumn("_nq", V.norm("qv"))
    # Score map-side BEFORE any shuffle ("shuffle verdicts, not
    # payloads"): a pair colliding in t tables pays ≤ t redundant
    # cosine folds, but the one exchange then carries narrow (query,
    # neighbor, cosine) rows instead of two full vectors.  dense_rank
    # ranks with duplicates still present (copies share the full ORDER
    # BY key, so distinct neighbors get row_number-equivalent ranks),
    # WindowGroupLimit cuts to k on both sides of the exchange, and the
    # final dedup is a map-side-only aggregate (partitioning by
    # query_id satisfies its clustering) — one data-sized exchange
    # total, same plan shape as knn_graph.
    scored = (
        qb.join(cb, ["lsh_table", "lsh_bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # per-vector norms hoisted (r11, same finding as knn_graph)
        .withColumn(
            "cosine",
            F.round(V.dot("qv", "cv") / (F.col("_nq") * F.col("_nc")), 6),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.dense_rank().over(w))
        .filter(F.col("rank") <= k)
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_train_cells(corpus: DataFrame, *, vec_col: str = "embedding",
                    n_cells: int = 16, seed: int = 7,
                    sample_fraction: float | None = None):
    """Train the IVF coarse quantizer; returns (model, centroids list).

    At 100 TB, train on a sample (the quantizer only needs the coarse
    density shape) — ``sample_fraction`` caps the driver-side KMeans
    input; assignment afterwards is a distributed transform.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train_calls["ivf"] += 1
    train = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    if sample_fraction is not None:
        train = train.sample(fraction=sample_fraction, seed=seed)
    model = KMeans(k=n_cells, seed=seed, maxIter=20).fit(train)
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return model, centroids


def _assign_cells(df: DataFrame, centroids: list[list[float]], *,
                  vec_col: str, nprobe: int) -> DataFrame:
    """Rank cells by L2 distance per row, keep the nearest ``nprobe``.

    Pure column expressions over one centroid-matrix literal (no model
    object in the hot path): centroid count is tiny, so this is a flat
    map-side compute — no shuffle, no Python.  The single nested-array
    literal keeps driver-side Column construction O(1) in n_cells.
    """
    # One parsed F.expr for the whole rank-and-slice chain: the nested
    # Python-lambda higher-order builders cost ~160 ms of py4j time per
    # call vs ~2 ms parsed (guide §4; r14 — this runs twice per ANN
    # query construction).  Identical Catalyst expressions either way.
    cents = V.double_array_sql([list(map(float, c)) for c in centroids])
    ranked = F.expr(
        f"slice(array_sort(transform({cents}, (cent, i) -> struct("
        "CAST(i AS INT) AS cell,"
        f" aggregate(zip_with(CAST(`{vec_col}` AS ARRAY<DOUBLE>), cent,"
        " (x, m) -> (x - m) * (x - m)), 0.0D, (acc, x) -> acc + x) AS dist)),"
        " (a, b) -> CASE WHEN a.dist < b.dist THEN -1"
        " WHEN a.dist > b.dist THEN 1 ELSE 0 END),"
        f" 1, {int(nprobe)})"
    )
    return df.withColumn("_cells", ranked).withColumn(
        "ivf_cell", F.explode(F.col("_cells")["cell"])
    ).drop("_cells")


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5, *,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", n_cells: int = 16,
             nprobe: int = 4, seed: int = 7,
             sample_fraction: float | None = None,
             centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF ANN: corpus in its nearest cell, queries probe ``nprobe`` cells,
    exact cosine re-rank inside the probed cells.

    Shuffle profile: one join keyed on the cell id (≤ n_cells keys —
    sized so cells ≈ |corpus|/n_cells rows fit an executor; AQE
    skew-splits hot cells), then the per-query top-k window.  Recall < 1
    by design; gated against ``brute_force_topk`` in tests.

    ``centroids`` accepts a pretrained coarse quantizer (from
    :func:`ivf_train_cells`) for train-once/serve-many.
    """
    if centroids is None:
        _, centroids = ivf_train_cells(
            corpus, vec_col=vec_col, n_cells=n_cells, seed=seed,
            sample_fraction=sample_fraction,
        )
    cb = _assign_cells(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        centroids, vec_col="cv", nprobe=1,
    ).withColumn("_nc", V.norm("cv"))
    qb = _assign_cells(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        centroids, vec_col="qv", nprobe=nprobe,
    ).withColumn("_nq", V.norm("qv"))
    # Same one-exchange rank-then-dedup tail as lsh_topk/knn_graph:
    # cosine folds run map-side on the join output, the exchange
    # carries narrow rows, dense_rank ≡ post-dedup row_number (each
    # corpus vector sits in exactly one cell here — nprobe applies to
    # the query side — so duplicates are impossible, but the map-side
    # dedup keeps the invariant explicit and free).
    scored = (
        qb.join(cb, "ivf_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # per-vector norms hoisted (r11, same finding as knn_graph)
        .withColumn(
            "cosine",
            F.round(V.dot("qv", "cv") / (F.col("_nq") * F.col("_nc")), 6),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.dense_rank().over(w))
        .filter(F.col("rank") <= k)
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def binary_quantize(df: DataFrame, *, vec_col: str = "embedding",
                    dim: int, word_width: int = 32) -> DataFrame:
    """Sign-bit (1-bit) embedding quantization: append ``ceil(dim/width)``
    BIGINT columns ``bq0, bq1, …`` packing the embedding's sign bits —
    32× smaller than float32.  The scale rationale: at 100 TB of
    vectors, candidate generation is memory-bandwidth-bound, and a
    Hamming scan over packed words touches 1/32 of the bytes; exact
    cosine reranking then runs only on the short candidate list.
    """
    out = df
    n_words = (dim + word_width - 1) // word_width
    for w in range(n_words):
        out = out.withColumn(
            f"bq{w}", V.sign_bits_word(vec_col, w * word_width + 1, word_width)
        )
    return out


def hamming_topk(corpus: DataFrame, queries: DataFrame, k: int = 5, *,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 query_id_col: str = "query_id", dim: int) -> DataFrame:
    """Top-k nearest neighbors by Hamming distance over sign-bit-packed
    embeddings — the binary-quantized ANN scan.  Exhaustive like
    :func:`brute_force_topk` but over 1/32 of the bytes with integer
    XOR/popcount instead of float multiply-adds (``bit_count(xor)`` is
    whole-stage-codegen'd); compose with the LSH/IVF operators when
    sublinear candidate generation is needed.  Ties break by Hamming
    then neighbor id.  Returns (query_id, neighbor_id, hamming, rank).
    """
    n_words = (dim + 31) // 32
    q = F.broadcast(
        binary_quantize(
            queries.select(F.col(query_id_col).alias("query_id"), vec_col),
            vec_col=vec_col, dim=dim,
        ).select("query_id", *[F.col(f"bq{w}").alias(f"qw{w}") for w in range(n_words)])
    )
    c = binary_quantize(
        corpus.select(F.col(id_col).alias("neighbor_id"), vec_col),
        vec_col=vec_col, dim=dim,
    ).select("neighbor_id", *[F.col(f"bq{w}") for w in range(n_words)])
    dist = None
    for w in range(n_words):
        term = F.bit_count(F.col(f"qw{w}").bitwiseXOR(F.col(f"bq{w}")))
        dist = term if dist is None else dist + term
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("hamming", dist.cast("int"))
    )
    w_ = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "rank")
    )


def hamming_rerank_topk(corpus: DataFrame, queries: DataFrame, k: int = 5, *,
                        candidates: int = 50, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        query_id_col: str = "query_id", dim: int) -> DataFrame:
    """The production two-stage ANN: cheap binary Hamming scan generates
    ``candidates`` per query (1/32 of the float bytes), exact cosine
    reranks only that short list — float math touches ``candidates``
    vectors per query instead of the corpus.  Returns
    (query_id, neighbor_id, cosine, rank).
    """
    cand = hamming_topk(
        corpus, queries, k=candidates, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, dim=dim,
    ).select("query_id", "neighbor_id")
    return _cosine_rerank(
        cand, corpus, queries, k,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def pq_train_codebooks(corpus: DataFrame, *, vec_col: str = "embedding",
                       dim: int, m: int = 4, nbits: int = 4, seed: int = 7,
                       sample_fraction: float | None = None) -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jégou et al. 2011): split the
    vector into ``m`` subspaces and KMeans each with ``2^nbits`` centroids.

    Returns ``codebooks[j][c]`` = centroid ``c`` of subspace ``j`` (a
    ``dim/m``-float list).  Like :func:`ivf_train_cells`, train on a
    sample at scale — the codebooks only need the per-subspace density
    shape, and encoding afterwards is a distributed map-side transform.
    One KMeans per subspace runs over a projected (dim/m)-wide frame, so
    training cost is ``m`` small jobs, not one ``dim``-wide job.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    train_calls["pq"] += 1
    sub = dim // m
    base = corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
    if sample_fraction is not None:
        base = base.sample(fraction=sample_fraction, seed=seed)
    # m KMeans fits iterate over the same (sampled) training frame —
    # persist it once instead of re-reading the source m×20 times.  The
    # fits are independent per subspace and each is scheduling-overhead
    # bound (many tiny iteration jobs), so submit them concurrently —
    # Spark's scheduler interleaves jobs from separate threads.
    from concurrent.futures import ThreadPoolExecutor

    base = base.persist()
    try:
        def _fit(j: int) -> list[list[float]]:
            train = base.select(
                array_to_vector(F.slice("v", j * sub + 1, sub)).alias("features")
            )
            model = KMeans(k=2 ** nbits, seed=seed + j, maxIter=20).fit(train)
            return [list(map(float, c)) for c in model.clusterCenters()]

        with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
            codebooks = list(pool.map(_fit, range(m)))
    finally:
        base.unpersist()
    return codebooks


def _sqdist_cols(x, c):
    """Squared L2 distance between two array<double> Columns — the single
    source of truth for PQ distance math (used by both encoding and the
    query-side ADC tables; a metric change applied to one side only would
    silently desynchronize them)."""
    return F.aggregate(
        F.zip_with(x, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_dtab_sql(codebooks, vec_col: str) -> str:
    """SQL text of the per-subspace distance table dtab[j][c] =
    ||v_sub_j − codebook[j][c]||² — the parsed-expr twin of the
    :func:`_sqdist_cols` math, built in ONE F.expr round-trip (the
    nested Python-lambda form cost ~50-250 ms per call; guide §4, r14).
    The slice/zip_with/aggregate text parses to the identical Catalyst
    expressions, so codes and ADC tables cannot desynchronize."""
    sub = len(codebooks[0][0])
    books = V.double_array_sql(
        [[list(map(float, c)) for c in book] for book in codebooks]
    )
    return (
        f"transform({books}, (book, j) -> transform(book, cent ->"
        f" aggregate(zip_with(slice(CAST(`{vec_col}` AS ARRAY<DOUBLE>),"
        f" j * {sub} + 1, {sub}), cent, (a, b) -> (a - b) * (a - b)),"
        " 0.0D, (acc, v) -> acc + v)))"
    )


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]], *,
              vec_col: str = "embedding",
              code_col: str = "pq_code") -> DataFrame:
    """Encode vectors to ``m`` small codes (array<int>): per subspace, the
    index of the nearest codebook centroid.

    Pure column expressions over the codebook literals — flat map-side
    compute, no shuffle, no Python in the hot path.  With m=8/nbits=8 a
    64-dim float32 vector compresses 256→8 bytes (32×); the codes column
    is what a 100 TB ANN scan reads instead of the float embeddings.
    """
    # One parsed F.expr for the codebook literal AND the whole
    # dtab/argmin chain — the nested-lambda Column form cost ~150-250 ms
    # of py4j time per call (guide §4, r14).
    # argmin = array_position(dists, array_min(dists)): both sides see
    # the identical computed double, and array_position returns the
    # FIRST match, preserving the lowest-code tie-break of a stable sort.
    codes = F.expr(
        f"transform({_pq_dtab_sql(codebooks, vec_col)},"
        " dists -> CAST(array_position(dists, array_min(dists)) - 1 AS INT))"
    )
    return df.withColumn(code_col, codes)


def _pq_dtab(codebooks, vec_col: str):
    """Per-query ADC distance table: dtab[j][c] = ||q_sub_j − codebook[j][c]||²
    — same codebook-literal + distance math as pq_encode (both render
    :func:`_pq_dtab_sql`) so the table can't desynchronize from the codes."""
    return F.expr(_pq_dtab_sql(codebooks, vec_col))


def _adc_expr():
    """ADC score over a joined (query, code) row: m positional lookups
    summed.  (A function, not a module constant — Column construction
    needs an active session.)"""
    return F.expr(
        "aggregate(zip_with(_dtab, pq_code,"
        " (table, code) -> element_at(table, code + 1)),"
        " 0.0D, (acc, x) -> acc + x)"
    )


def _adc_shortlist(scored: DataFrame, k: int) -> DataFrame:
    """ADC top-``4k`` candidate ids per query (deterministic ties)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 4 * k)
        .select("query_id", "neighbor_id")
    )


def _cosine_rerank(cand: DataFrame, corpus: DataFrame, queries: DataFrame,
                   k: int, *, id_col: str, vec_col: str,
                   query_id_col: str) -> DataFrame:
    """Exact-cosine rerank of a (query_id, neighbor_id) short list — the
    shared tail of every two-stage ANN here (Hamming, PQ, IVFPQ): float
    vectors are fetched only for the short list."""
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("_nc", V.norm("cv"))
    qvecs = F.broadcast(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("_nq", V.norm("qv"))
    )
    rescored = (
        cand.join(vecs, "neighbor_id")
        .join(qvecs, "query_id")
        # per-vector norms hoisted (r11, same finding as knn_graph)
        .withColumn(
            "cosine",
            F.round(V.dot("qv", "cv") / (F.col("_nq") * F.col("_nc")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 5, *,
            id_col: str = "vec_id", vec_col: str = "embedding",
            query_id_col: str = "query_id", dim: int, m: int = 4,
            nbits: int = 4, seed: int = 7,
            sample_fraction: float | None = None,
            rerank: bool = True,
            codebooks: list[list[list[float]]] | None = None) -> DataFrame:
    """PQ ANN with asymmetric distance computation (ADC): corpus rows are
    scanned as ``m``-byte codes; each query precomputes its
    ``m × 2^nbits`` subspace-distance table map-side, and the approximate
    L2 distance is ``m`` table lookups per corpus row — no float
    multiply-adds against corpus vectors at all.

    Scale shape: queries (with their distance tables) broadcast; the
    corpus side reads only (id, code) — at 100 TB this is the
    bandwidth-optimal exhaustive scan, and it composes with IVF cells for
    sublinearity exactly as in the FAISS IVFPQ layout.  ``rerank=True``
    re-scores the ADC top ``4k`` candidates with exact cosine (the float
    fetch touches only the short list).  Returns
    (query_id, neighbor_id, cosine, rank) — reranked — or
    (query_id, neighbor_id, adc_dist, rank) raw.  Recall < 1 by design;
    gated against ``brute_force_topk`` in tests.

    ``codebooks`` accepts pretrained codebooks (from
    :func:`pq_train_codebooks`) — train-once/serve-many is the
    production pattern; per-call training is only the convenience path.
    """
    if codebooks is None:
        codebooks = pq_train_codebooks(
            corpus, vec_col=vec_col, dim=dim, m=m, nbits=nbits, seed=seed,
            sample_fraction=sample_fraction,
        )
    cb = pq_encode(
        corpus.select(F.col(id_col).alias("neighbor_id"), vec_col),
        codebooks, vec_col=vec_col,
    ).select("neighbor_id", "pq_code")
    q = F.broadcast(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col))
        .withColumn("_dtab", _pq_dtab(codebooks, vec_col))
        .select("query_id", "_dtab")
    )
    scored = (
        q.crossJoin(cb)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc_dist", F.round(_adc_expr(), 6))
    )
    if not rerank:
        w = Window.partitionBy("query_id").orderBy(
            F.col("adc_dist").asc(), F.col("neighbor_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "adc_dist", "rank")
        )
    return _cosine_rerank(
        _adc_shortlist(scored, k), corpus, queries, k,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


def ivfpq_topk(corpus: DataFrame, queries: DataFrame, k: int = 5, *,
               id_col: str = "vec_id", vec_col: str = "embedding",
               query_id_col: str = "query_id", dim: int,
               n_cells: int = 16, nprobe: int = 4, m: int = 4,
               nbits: int = 4, seed: int = 7,
               sample_fraction: float | None = None,
               centroids: list[list[float]] | None = None,
               codebooks: list[list[list[float]]] | None = None,
               encoded: DataFrame | None = None) -> DataFrame:
    """IVF + PQ — the full FAISS IVFPQ layout both building blocks
    document: the IVF coarse quantizer makes candidate generation
    SUBLINEAR (each query touches ``nprobe`` of ``n_cells`` cells), and
    within the probed cells distance is the PQ ADC table-lookup over
    m-byte codes instead of float math; the exact-cosine rerank touches
    only the ADC top ``4k`` short list.

    Residual note: codebooks here quantize the RAW vectors (one shared
    codebook set), not per-cell residuals — the classic residual
    refinement is a quality knob, not a structural change, and the
    recall gate in tests measures what this layout actually delivers.

    Scale shape: corpus rows carry (cell, code) — the scan reads
    neither floats nor full vectors; the cell join shuffles on ≤
    ``n_cells`` keys with AQE skew-split; per-query distance tables
    ride the broadcast query frame exactly as in :func:`pq_topk`.
    Returns (query_id, neighbor_id, cosine, rank).

    ``centroids``/``codebooks`` accept pretrained models (from
    :func:`ivf_train_cells` / :func:`pq_train_codebooks`) so the two
    KMeans passes run once per corpus, not once per query batch; and
    ``encoded`` accepts the materialized (neighbor_id, pq_code,
    ivf_cell) index frame — in a serving deployment the encoded index
    IS the stored artifact (that is the point of PQ: 32× smaller than
    the floats), so per-query-batch work reduces to the cell join +
    ADC + rerank.
    """
    if centroids is None:
        _, centroids = ivf_train_cells(
            corpus, vec_col=vec_col, n_cells=n_cells, seed=seed,
            sample_fraction=sample_fraction,
        )
    if codebooks is None:
        codebooks = pq_train_codebooks(
            corpus, vec_col=vec_col, dim=dim, m=m, nbits=nbits, seed=seed,
            sample_fraction=sample_fraction,
        )
    if encoded is not None:
        cb = encoded.select("neighbor_id", "pq_code", "ivf_cell")
    else:
        cb = _assign_cells(
            pq_encode(
                corpus.select(F.col(id_col).alias("neighbor_id"), vec_col),
                codebooks, vec_col=vec_col,
            ),
            centroids, vec_col=vec_col, nprobe=1,
        ).select("neighbor_id", "pq_code", "ivf_cell")
    # distance table computed BEFORE the nprobe explode — one table per
    # query rides the broadcast, not one copy per probed cell
    qb = F.broadcast(
        _assign_cells(
            queries.select(F.col(query_id_col).alias("query_id"), vec_col)
            .withColumn("_dtab", _pq_dtab(codebooks, vec_col)),
            centroids, vec_col=vec_col, nprobe=nprobe,
        ).select("query_id", "_dtab", "ivf_cell")
    )
    # corpus side carries nprobe=1, so a (query, neighbor) pair occurs at
    # most once after the cell join — no dedup pass needed
    scored = (
        qb.join(cb, "ivf_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc_dist", F.round(_adc_expr(), 6))
    )
    return _cosine_rerank(
        _adc_shortlist(scored, k), corpus, queries, k,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )


# ---------------------------------------------------------------------------
# PCA / whitening over the embedding column
# ---------------------------------------------------------------------------


def pca_train(corpus: DataFrame, *, vec_col: str = "embedding", dim: int,
              k: int = 8, seed: int = 7,
              sample_fraction: float | None = None) -> dict:
    """Train a PCA basis for embedding preprocessing (dimensionality
    reduction before ANN/clustering, whitening before cosine-threshold
    dedup — SemDeDup-style pipelines assume roughly isotropic vectors).

    Spark-first split of the work: the component basis comes from
    ``pyspark.ml.feature.PCA`` (distributed covariance + eigensolve —
    optionally on a ``sample_fraction``, the same train-on-a-sample
    trade as the IVF/PQ quantizers); the mean and per-component spread
    are ONE aggregate each over the full corpus.  Spark's PCAModel
    projects RAW vectors (it never subtracts the training mean), so the
    model returned here carries its own mean and :func:`pca_project`
    centers explicitly — without this the first component just points
    at the corpus centroid.

    Component signs are eigensolver implementation detail; they are
    canonicalized (largest-|loading| coordinate positive) so retrains
    and replicas emit bit-identical projections.

    Returns a plain-Python model dict ``{"mean", "components"(k×dim),
    "comp_std"(k)}`` — session-independent, cacheable per corpus like
    the ANN codebooks.
    """
    from pyspark.ml.feature import PCA as MLPCA
    from pyspark.ml.functions import array_to_vector

    train_calls["pca"] += 1
    train = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    if sample_fraction is not None:
        train = train.sample(fraction=sample_fraction, seed=seed)
    model = MLPCA(k=k, inputCol="features", outputCol="pc").fit(train)
    # model.pc is dim×k column-major; transpose to k rows of dim loadings
    pc = model.pc.toArray()
    components = []
    for j in range(k):
        row = [float(pc[i][j]) for i in range(dim)]
        mx = max(range(dim), key=lambda i: abs(row[i]))
        if row[mx] < 0:
            row = [-v for v in row]
        components.append(row)

    mean_row = corpus.agg(
        F.array(*[
            F.avg(F.col(vec_col)[i].cast("double")) for i in range(dim)
        ]).alias("mu")
    ).collect()[0]["mu"]
    mean = [float(v) for v in mean_row]

    # per-component std over the FULL corpus (projections of centered
    # vectors have exact zero mean, so std = sqrt(E[proj²]))
    proj = _project_cols(F.col(vec_col), mean, components)
    std_row = corpus.agg(
        F.array(*[
            F.sqrt(F.avg(proj[j] * proj[j])) for j in range(k)
        ]).alias("sd")
    ).collect()[0]["sd"]
    return {
        "mean": mean,
        "components": components,
        "comp_std": [float(v) for v in std_row],
    }


def _project_cols(vec, mean: list[float], components: list[list[float]]):
    """k projection expressions of (vec - mean) onto literal component
    rows — zip_with/aggregate folds inside codegen, no Python per row,
    one centered array shared by all k dots."""
    centered = F.zip_with(
        vec, V.double_array_lit(mean), lambda x, m: x.cast("double") - m
    )
    return [
        F.aggregate(
            F.zip_with(centered, V.double_array_lit(c), lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for c in components
    ]


def pca_project(df: DataFrame, model: dict, *, vec_col: str = "embedding",
                whiten: bool = True, out_col: str = "pca",
                round_to: int | None = 6) -> DataFrame:
    """Project (and optionally whiten) every vector onto the trained
    basis: ``out[j] = dot(x - mean, comp_j) (/ comp_std_j)``.

    Map-side only — the model enters as array literals exactly like the
    PQ codebooks; nothing shuffles, nothing is collected.  Rounding at
    the output (default 6 dp) keeps downstream cross-engine/replica
    comparisons off the last-ulp boundary.

    The whole mean-center → k-dot → whiten → round chain is ONE parsed
    F.expr (model literals embedded in the text): the per-component
    Column folds cost ~30 ms of py4j each (guide §4, r14), and binding
    the centered array as a one-element-array lambda variable evaluates
    the centering once per row instead of once per component
    (functions.text.bind_once precedent).  Values are identical: the
    same zip_with/aggregate arithmetic, with sd+1e-12 prebaked into the
    divisor literal (the identical Python double F.lit produced).
    """
    comps = V.double_array_sql(model["components"])
    mean = V.double_array_sql(model["mean"])
    centered = (
        f"zip_with(CAST(`{vec_col}` AS ARRAY<DOUBLE>), {mean},"
        " (x, m) -> x - m)"
    )
    proj = (
        f"transform({comps}, comp -> aggregate(zip_with(cv, comp,"
        " (x, w) -> x * w), 0.0D, (acc, x) -> acc + x))"
    )
    if whiten:
        if len(model["comp_std"]) != len(model["components"]):
            raise ValueError(
                f"PCA model has {len(model['comp_std'])} comp_std entries "
                f"for {len(model['components'])} components"
            )
        stds = "array(" + ",".join(
            repr(float(sd) + 1e-12) + "D" for sd in model["comp_std"]
        ) + ")"
        proj = f"zip_with({proj}, {stds}, (p, sd) -> p / sd)"
    if round_to is not None:
        proj = f"transform({proj}, p -> round(p, {int(round_to)}))"
    return df.withColumn(
        out_col,
        F.expr(f"element_at(transform(array({centered}), cv -> {proj}), 1)"),
    )


def knn_graph(emb: DataFrame, k: int = 3, *, id_col: str = "vec_id",
              vec_col: str = "embedding",
              n_cells: int | None = None, nprobe: int = 2) -> DataFrame:
    """Approximate k-NN GRAPH over the whole corpus — every vector's
    top-k cosine neighbors, the building block for graph-based curation
    (SemDeDup communities, density/outlier pruning, diversity-aware
    subset selection).  The topk operators above answer a QUERY batch;
    this materializes the corpus×corpus structure.

    All-pairs is N²; candidates are blocked by the deterministic
    seeded-sample quantizer cells shared with
    :func:`dedup.embedding_near_dup_pairs_by_cell`
    (``dedup.seeded_cell_assign``), so the pair space is Σ|cell|² and
    the plan stays fully declarative/SQL-replayable (no KMeans pass —
    which is what lets the catalog hash-verify the whole graph against
    DuckDB).  Per-source top-k runs as a WindowGroupLimit (each
    partition keeps ≤ k candidates per source below the sort).  Recall
    is bounded by the probed cells — raise ``nprobe`` (or swap in the
    trained IVF cells) when edge recall matters more than cost.

    Returns (id, neighbor_id, cosine, rank) — DIRECTED edges, rank 1 =
    nearest; cosine rounded to 6 dp with id tie-breaks so replicas and
    engines rank identically.

    ``n_cells=None`` (the default) balances the flat scheme's two
    scale terms: assignment costs N·n_cells centroid distances and
    candidate scoring costs N·nprobe·|cell| ≈ N²·nprobe/n_cells pair
    cosines, so the optimum is n_cells ≈ √(N·nprobe) — chosen from one
    cheap count() and clamped to [8, 2048].  Above the clamp (corpora
    past ~2M vectors) the flat seeded quantizer stops being the right
    tool regardless of n_cells — use the trained-IVF path
    (:func:`ivf_topk`), whose hierarchical training keeps both terms
    sub-quadratic.  Explicit ``n_cells`` bypasses the count (the
    oracled catalog query uses the auto default, so the driver-hashed
    evidence exercises the production cell count).
    """
    from sap_data_pipeline_spark.operators.dedup import seeded_cell_assign

    if n_cells is None:
        n = emb.count()
        n_cells = max(8, min(2048, int((n * nprobe) ** 0.5)))
    assigned = seeded_cell_assign(
        emb, id_col=id_col, vec_col=vec_col, n_cells=n_cells, nprobe=nprobe
    )
    # (A cell-keyed repartition of `assigned` to share ONE exchange
    # between the join sides was tried here and measured 4× SLOWER at
    # both scales: ReuseExchange does not fire across the self-join's
    # two differently-projected reads, so the plan paid the exchange
    # AND still evaluated the assignment twice, while the repartition
    # destroyed the source partitioning the per-source window used to
    # avoid its own exchange.  Both sides re-evaluating the
    # single-eval literal assignment is the cheaper shape.)
    # Norms are per-VECTOR quantities: fold them once on each side of
    # the join (N·nprobe rows) instead of inside the pair score — the
    # inlined V.cosine paid THREE interpreted array-aggregates per
    # candidate (dot + both norms), and at N·|cell|·nprobe candidates
    # the two norm folds were 2/3 of the pair-stage work (r11 measure:
    # 99 s → 64 s at the 4× point).  sqrt(Σx²) is computed by the
    # identical IEEE expression either way, so cosine stays
    # bit-for-bit equal to the oracle's dot/(sqrt·sqrt).
    a = assigned.select(
        "cell", F.col(id_col), F.col(vec_col).alias("_va")
    ).withColumn("_na", V.norm("_va"))
    b = assigned.select(
        "cell",
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_vb"),
    ).withColumn("_nb", V.norm("_vb"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        a.join(b, "cell")
        .filter(F.col(id_col) != F.col("neighbor_id"))
        # score BEFORE the pair dedup: a pair sharing ≥2 probed cells
        # pays ≤ nprobe² redundant map-side folds, but the dedup + topk
        # shuffles then carry narrow (id, neighbor, cosine) rows instead
        # of two full vectors — at corpus scale the shuffle bytes, not
        # the folds, are what spill (measured: the vector-carrying dedup
        # filled local disk at 80k×|cell|300 where the narrow form runs
        # in memory)
        .withColumn(
            "cosine",
            F.round(V.dot("_va", "_vb") / (F.col("_na") * F.col("_nb")), 6),
        )
        .select(id_col, "neighbor_id", "cosine")
        # ONE exchange (r9): rank first with dense_rank, dedup after.
        # Duplicate candidate rows (a pair sharing ≥2 probed cells) are
        # exact copies, so they share the full ORDER BY key (cosine,
        # neighbor) and dense_rank gives every distinct neighbor the
        # rank row_number would give after dedup — while the window's
        # GroupLimit pushes the k-cut below the sort on both sides of
        # the exchange, and the post-filter dropDuplicates runs
        # map-side only (hashpartitioning(id) already satisfies the
        # (id, neighbor) clustering), vs the old dedup-then-rank shape
        # paying a second full (id, neighbor) exchange before the sort.
        .withColumn("rank", F.dense_rank().over(w))
        .filter(F.col("rank") <= k)
        .dropDuplicates([id_col, "neighbor_id"])
        .select(id_col, "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Per-group embedding centroids + distance-to-centroid outliers (r12)
# ---------------------------------------------------------------------------

def group_centroids(emb: DataFrame, group_col: str, *,
                    vec_col: str = "embedding",
                    scale: int = 1_000_000_000) -> DataFrame:
    """Per-group mean embedding — the centroid primitive under domain
    profiling, per-source outlier pruning, and one KMeans update step,
    computed as a DISTRIBUTED dimension-wise aggregate (posexplode →
    (group, dim) partial-aggregated sum → array rebuild), never a
    collect.  Groups are unbounded (hosts, sources, clusters) but the
    output is groups×1 rows — the scan is the only data-sized term.

    Engine parity: float summation order is scheduler-dependent, so
    components are quantized to exact ``1/scale`` integer micro-units
    (``round(x·scale)`` longs — the crawl_schedule mass precedent) and
    summed exactly; the mean's single double division is the only IEEE
    op, computed from identical operands on both engines.  The 1e-9
    default grain is far below float32 input precision.  Overflow
    headroom: |x|≤2 ⇒ 2e9/row ⇒ ~4.6e9 rows per (group, dim) before
    BIGINT overflow.

    Returns (group, centroid: array<double>, n_members).
    """
    v = F.col(vec_col).cast("array<double>")
    dims = emb.select(
        F.col(group_col).alias("grp"),
        F.posexplode(v).alias("dim", "x"),
    ).select(
        "grp", "dim",
        F.round(F.col("x") * scale).cast("long").alias("xq"),
    )
    per_dim = dims.groupBy("grp", "dim").agg(
        F.sum("xq").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        per_dim.groupBy("grp")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "s", "n"))),
                lambda t: t["s"].cast("double")
                / (t["n"].cast("double") * F.lit(float(scale))),
            ).alias("centroid"),
            F.max("n").cast("long").alias("n_members"),
        )
        .withColumnRenamed("grp", group_col)
    )


def centroid_outliers(emb: DataFrame, group_col: str, *,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      threshold: float = 0.0) -> DataFrame:
    """Cosine of every vector to its OWN group's centroid, with an
    outlier flag below ``threshold`` — the per-domain consistency gate
    (a document whose embedding sits far from its source's centroid is
    mislabeled, spam, or a scrape artifact; SemDeDup prunes the
    opposite end).  One groups-sized broadcast join back onto the scan;
    the centroid aggregate is :func:`group_centroids`.

    Returns (id, group, cosine_to_centroid, is_outlier), cosine rounded
    6dp with the shared dot/(norm·norm) arithmetic.
    """
    cents = group_centroids(emb, group_col, vec_col=vec_col)
    v = F.col(vec_col).cast("array<double>")
    joined = emb.select(F.col(id_col), F.col(group_col), v.alias("_v")).join(
        F.broadcast(cents), group_col
    )
    cos = F.round(
        V.dot("_v", "centroid") / (V.norm("_v") * V.norm("centroid")), 6
    )
    return joined.select(
        id_col, group_col,
        cos.alias("cosine_to_centroid"),
        (cos < F.lit(threshold)).alias("is_outlier"),
    )


def matryoshka_agreement(corpus: DataFrame, *, ks=(8, 16, 32),
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Matryoshka (nested-prefix) truncation audit: for each prefix
    dimension k, how often does the top-1 cosine neighbor computed on
    the FIRST k dimensions agree with the top-1 on the full vector?
    Matryoshka-trained embeddings (Kusupati et al. 2022) front-load
    information so aggressive truncation keeps retrieval quality — but
    whether a GIVEN embedding column tolerates serving at dim 8/16/32
    is an empirical question, and this is the audit that answers it
    before anyone flips the cheap-serving switch.

    Audit-cadence op on a CALLER-BOUNDED sample (the
    ``minhash_jaccard_estimate`` stance): the pairwise scan is
    exact-quadratic by design — run it on hundreds of vectors, not the
    corpus; the serving path being audited stays IVF/PQ.  Per-side
    prefix slices and norms are hoisted into the side projections
    (dot-only per pair, the r11 brute-force lesson); per-(query, k)
    argmax is ONE ``max_by`` aggregate — no per-k window, one
    exchange for all ks.  Cosines round to 6dp before comparison and
    ties break toward the smaller neighbor id, making the verdict
    engine-exact.

    Vectors whose smallest-prefix norm is zero are EXCLUDED from both
    sides (cosine is undefined without a direction, and under ANSI the
    division would abort the job): prefix norms are monotone
    nondecreasing in k — every longer prefix contains the shorter one
    — so guarding the smallest k guards them all.

    Returns one row per k: (k, n_docs, n_agree); full-dim reference
    implicit (its agreement row would be trivially n_docs).  A k at or
    beyond the vector dimension degenerates to the full vector
    (``slice`` clamps) and trivially agrees — callers pass ks below
    the embedding dim; ks must be non-empty and positive.
    """
    ks = sorted(set(int(k) for k in ks))
    if not ks or ks[0] < 1:
        raise ValueError(f"ks must be non-empty positive prefix dims: {ks}")
    nonzero = V.norm(F.slice(F.col(vec_col), 1, ks[0])) > 0
    corpus = corpus.filter(nonzero)
    q = corpus.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    for k in ks:
        q = q.withColumn(f"qv_{k}", F.slice("qv", 1, k))
        c = c.withColumn(f"cv_{k}", F.slice("cv", 1, k))
    q = q.select(
        "query_id", "qv", V.norm("qv").alias("_nq"),
        *[F.col(f"qv_{k}") for k in ks],
        *[V.norm(f"qv_{k}").alias(f"_nq_{k}") for k in ks],
    )
    c = c.select(
        "neighbor_id", "cv", V.norm("cv").alias("_nc"),
        *[F.col(f"cv_{k}") for k in ks],
        *[V.norm(f"cv_{k}").alias(f"_nc_{k}") for k in ks],
    )
    scored = (
        F.broadcast(q).crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(
                V.dot("qv", "cv") / (F.col("_nq") * F.col("_nc")), 6
            ).alias("cos_full"),
            *[
                F.round(
                    V.dot(f"qv_{k}", f"cv_{k}")
                    / (F.col(f"_nq_{k}") * F.col(f"_nc_{k}")), 6
                ).alias(f"cos_{k}")
                for k in ks
            ],
        )
    )
    nid = F.col("neighbor_id")
    top = scored.groupBy("query_id").agg(
        F.max_by(nid, F.struct(F.col("cos_full"), (-nid).alias("_t")))
        .alias("top_full"),
        *[
            F.max_by(nid, F.struct(F.col(f"cos_{k}"), (-nid).alias("_t")))
            .alias(f"top_{k}")
            for k in ks
        ],
    )
    agg = top.agg(
        F.count("*").cast("long").alias("n_docs"),
        *[
            F.sum(
                (F.col(f"top_{k}") == F.col("top_full")).cast("long")
            ).alias(f"agree_{k}")
            for k in ks
        ],
    )
    stack = ", ".join(f"{k}, agree_{k}" for k in ks)
    return agg.selectExpr(
        f"stack({len(ks)}, {stack}) as (k, n_agree)", "n_docs"
    ).select(
        F.col("k").cast("int"), "n_docs", F.col("n_agree").cast("long")
    )
