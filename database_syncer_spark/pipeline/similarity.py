"""Similarity search over embedding columns (SURVEY.md §2 B11
sim_topk_cosine / sim_lsh_ann; PAPERS.md top-k similarity corpus).

Five top-k families, one output schema (query_id, neighbor_id, cosine,
rank). Every family ends in the same exact re-rank: its candidate
(query, vector) pairs go through the :func:`vector.cosine` Arrow kernel
and one round(cosine, 6) + row_number tail (:func:`_topk`).

- brute_force_topk: exact. The query set broadcasts into a cross join
  with the corpus. Correct at any scale but O(Q×N) — the baseline and
  the ground truth of :func:`ann_recall`.
- lsh_ann_topk: random-hyperplane LSH. Deterministic md5 hyperplanes,
  bucket ids for corpus and queries from the shared bucket kernel
  (vector._lsh_bucket_vectors), candidates = same bucket in ANY of T
  tables. At 100 TB the bucket id is also the partitioning key, so a
  query touches one partition per table instead of the full corpus.
- ivf_ann_topk: inverted-file (IVF) partitioning. Deterministic seed
  centroids + one Lloyd refinement (assignment is an Arrow-batched
  numpy matmul, the per-cell mean one groupBy with per-dimension
  F.sum). Queries probe their _N_PROBE nearest cells; candidates =
  corpus rows in those cells. At 100 TB the cell id is the storage
  partitioning key (write .partitionBy("cell")), so a probe reads
  _N_PROBE/_N_CELLS of the corpus. Centroid state is C×dim floats —
  driver-side model state, broadcast to executors (same shape as MLlib
  KMeans).
- pq_ann_topk: product quantization. The corpus is stored as m small
  codes per vector; an asymmetric-distance scan (:func:`_adc_scan`)
  keeps the top _REFINE·_K codes per query for the exact re-rank.
- ivfpq_ann_topk: IVF-PQ, the same ADC scan restricted to each query's
  probed cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from database_syncer_spark.arrow_map import map_arrow
from database_syncer_spark.pipeline import vector as V

# The one ANN configuration the registry keys, the bench and the pinned
# recall rows (queries/pipeline.py ``_ANN_PINS``) run: queries are the
# vec_id < _N_QUERIES rows, each keeps its top _K neighbors.
_N_QUERIES = 10
_K = 10
_N_PLANES, _N_TABLES = 4, 2         # LSH: 2**4 buckets per table
_N_CELLS, _N_PROBE = 16, 4          # IVF: cells trained, cells probed
_PQ_M, _K_SUB = 8, 16               # PQ: subspaces, centroids each
_REFINE = 8                         # PQ: _REFINE·_K ADC survivors per query
_LLOYD_ITERS = 1                    # refinement passes of both trainers


def brute_force_topk(embeddings: DataFrame, n_queries: int = _N_QUERIES,
                     k: int = _K, dim: int = 64) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors.

    The query rows broadcast into a cross join with the corpus, and
    :func:`vector.cosine` scores every (query, vector) pair in an Arrow
    kernel. Rank on round(cosine, 6) with vec_id tie-break so ordering
    is stable across engines and shuffle orders.

    ``dim`` is the width of every embedding; pass
    ``multimodal.check_dim_count(df)[0]`` rather than hardcode it. The kernel
    views each batch as an n×dim matrix, so a NULL row or a row of any
    other length raises ``ValueError`` there."""
    e = embeddings.select("vec_id", "embedding")
    q = (e.where(F.col("vec_id") < n_queries)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb")))
    pairs = (F.broadcast(q).crossJoin(e)
             .where(F.col("vec_id") != F.col("query_id")))
    return _topk(_pair_cosines(pairs, dim), k)


def _pair_cosines(pairs: DataFrame, dim: int) -> DataFrame:
    """(query_id, neighbor_id, raw cosine) of (query_id, vec_id, q_emb,
    embedding) candidate pairs, through the :func:`vector.cosine`
    kernel."""
    return V.cosine(
        pairs.select("query_id", F.col("vec_id").alias("neighbor_id"),
                     "q_emb", "embedding"),
        "q_emb", "embedding", dim)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """The tail every top-k path shares: round the cosine to 6 dp and
    keep each query's k best by (cosine desc, neighbor_id asc), with
    their rank."""
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("cosine", F.round("cosine", 6))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ann_recall(embeddings: DataFrame, ann: DataFrame,
               dim: int = 64) -> DataFrame:
    """Score-threshold recall@k of an ANN result against the exact top-k.

    A retrieved neighbor counts as a hit when its round(cosine, 6) is >=
    the query's k-th exact cosine — the tie-tolerant recall definition
    standard in ANN benchmarking (either member of a tie at rank k is a
    correct answer). Ground truth is the brute-force sibling
    (brute_force_topk) computed in the same job: recall verification
    REQUIRES exact truth by definition, so this key is O(Q×N) on the
    exact side — a verification artifact, not the serving path.

    Output (query_id, k, n_hits, recall) is deterministic: the ANN
    algorithms are seed-free (md5 hyperplanes / xxhash64 seed picks) and
    the fixture is fixed, so the driver can value-hash these rows against
    pinned measured values (engine-independent recomputation of LSH/IVF/PQ
    internals in SQL isn't feasible; quality bounds are asserted in
    tests/test_pipeline.py)."""
    exact = brute_force_topk(embeddings, dim=dim)
    thr = exact.groupBy("query_id").agg(F.min("cosine").alias("__thr"))
    # ONE consumption of the exact side: LEFT-join the ANN rows onto the
    # thresholds and count hits inside the same aggregation (a second
    # reference to ``thr`` would plan the O(Q×N) brute-force subtree
    # twice). The left join keeps zero-retrieval queries: such a query
    # yields one NULL-cosine row, when() scores it 0, the sum is never
    # NULL.
    n_hits = (F.sum(F.when(F.col("cosine") >= F.col("__thr"), 1)
                    .otherwise(0)).cast("int"))
    return (
        thr.join(ann.select("query_id", "cosine"), "query_id", "left")
        .groupBy("query_id")
        .agg(n_hits.alias("n_hits"))
        .select("query_id", F.lit(_K).alias("k"), "n_hits",
                (F.col("n_hits") / F.lit(float(_K))).alias("recall"))
    )


def _lsh_rows(embeddings: DataFrame, dim: int) -> DataFrame:
    """(vec_id, embedding, tbl, bucket): one row per vector and LSH
    table, from the shared bucket kernel (vector._lsh_bucket_vectors)."""
    return V._lsh_band_rows(V._lsh_bucket_vectors(
        embeddings, _N_PLANES, _N_TABLES, dim)).drop("buckets")


def build_lsh_index(embeddings: DataFrame, dim: int = 64) -> dict:
    """The at-rest LSH layout: the corpus with per-table bucket ids —
    what a 100-TB deployment precomputes once and stores partitioned by
    (tbl, bucket). Pass the result as ``index=`` to :func:`lsh_ann_topk`
    to time/serve queries without re-bucketing the corpus per call
    (persist it first to actually pin the at-rest state)."""
    # carry the build dim: serving must bucket queries with the SAME
    # planes the corpus was bucketed with, whatever the caller passes
    return {"bucketed": _lsh_rows(embeddings, dim), "dim": dim}


def lsh_ann_topk(embeddings: DataFrame, n_queries: int = _N_QUERIES,
                 k: int = _K, dim: int = 64,
                 index: dict | None = None) -> DataFrame:
    """Approximate top-k: union of per-table bucket matches, exact re-rank.

    Returns the same schema as brute_force_topk (rank within retrieved
    candidates); tests measure recall against the exact path. ``index``:
    a prebuilt :func:`build_lsh_index` result (train-once/serve-many);
    built inline when absent — results are identical either way (the
    build is deterministic), pinned by test."""
    if index is None:
        index = build_lsh_index(embeddings, dim=dim)
    # serve with the dim the index was BUILT with (query buckets must
    # come from the same hyperplanes as the corpus buckets)
    dim = index.get("dim", dim)

    # Queries come from the EMBEDDINGS argument (bucket just the Q query
    # rows — O(Q), not a corpus pass), matching pq/ivf/ivfpq: with a
    # prebuilt index, drawing queries from index["bucketed"] would
    # silently serve the wrong query set whenever the caller passes a
    # different embeddings frame (r4 review).
    q = (_lsh_rows(embeddings.where(F.col("vec_id") < n_queries), dim)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb"), "tbl", "bucket"))
    # Q·n_tables rows vs the corpus: broadcast the query side so the
    # bucketed corpus is never shuffled (at rest it's partitioned by
    # (tbl, bucket); the broadcast probe preserves that layout). Cosine
    # is computed BEFORE the multi-table dedup so the dedup Exchange
    # carries three scalars per row, never the embedding arrays
    # (duplicate pairs score identically, so which survives is
    # value-irrelevant).
    cand = (F.broadcast(q).join(index["bucketed"], ["tbl", "bucket"])
            .where(F.col("vec_id") != F.col("query_id")))
    return _topk(_pair_cosines(cand, dim)
                 .dropDuplicates(["query_id", "neighbor_id"]), k)


def train_pq_codebooks(embeddings: DataFrame, m: int = _PQ_M,
                       dim: int = 64,
                       k_sub: int = _K_SUB) -> list[list[list[float]]]:
    """Product-quantization codebooks: ``m`` subspaces of dim/m dims,
    ``k_sub`` centroids each. Deterministic like IVF: seeds are the
    k_sub corpus vectors with smallest xxhash64(vec_id), sliced per
    subspace; each of the _LLOYD_ITERS passes assigns every vector's m
    subvectors to their nearest sub-centroid (one Arrow map pass) and
    re-averages (ONE groupBy over the exploded (subspace, code) pairs —
    2·m·k_sub rows of dim/m sums cross the wire, corpus-size-independent).

    Everything PQ-side — seeds, assignment, re-average, the ADC LUT —
    operates in L2-NORMALIZED space (cosine setting), so the Lloyd sums
    divide each row by its norm; averaging raw vectors would put the
    centroids at the corpus's magnitude scale while assignment and
    scoring expect unit scale (caught in review before it shipped)."""
    import numpy as np

    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    d_sub = dim // m
    seeds = (embeddings
             .orderBy(F.xxhash64("vec_id"), "vec_id")
             .limit(k_sub)
             .select("embedding")
             .collect())
    base = np.stack([_normalize([float(v) for v in r.embedding])
                     for r in seeds])           # k_sub × dim
    books = [base[:, s * d_sub:(s + 1) * d_sub].copy() for s in range(m)]
    for _ in range(_LLOYD_ITERS):
        coded = V.with_norm(_with_pq_codes(
            embeddings.select("embedding"), books, m, dim),
            "embedding", dim, "__nrm")
        pairs = coded.select(
            "embedding", "__nrm",
            F.posexplode("pq_codes").alias("sub", "code"))
        aggs = [F.sum((F.col("embedding")[F.col("sub") * d_sub + i]
                       / F.col("__nrm")).cast("double")).alias(f"s{i}")
                for i in range(d_sub)]
        sums = (pairs.where(F.col("__nrm") > 0)
                .groupBy("sub", "code")
                .agg(F.count("*").alias("n"), *aggs)
                .collect())
        for r in sums:
            # 9-dp rounding for partition-independent model state (same
            # rationale as train_ivf_centroids).
            books[r.sub][r.code] = np.round(np.asarray(
                [r[f"s{i}"] / r.n for i in range(d_sub)]), 9)
    return [b.tolist() for b in books]


def _with_pq_codes(df: DataFrame, books: list, m: int,
                   dim: int) -> DataFrame:
    """Append ``pq_codes``: per subspace, the nearest sub-centroid id
    (:func:`_pq_encode`), via one Arrow-batched numpy pass (same Janino
    rationale as `_with_probe_cells`)."""
    import numpy as np

    from pyspark.sql import types as T

    bmats = [np.asarray(b, dtype=np.float64) for b in books]  # k × d_sub
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("pq_codes", T.ArrayType(T.IntegerType()))])

    def assign(batches):
        for b in batches:
            x = V._list_matrix(b.column("embedding"), dim).astype(np.float64)
            yield b.columns + [_pq_encode(x, bmats, m, dim // m)]

    return map_arrow(df, out_schema, assign)


def _topk_cols_deterministic(approx, vids, keep):
    """Per-row top-`keep` column indices ordered by (adc desc, vec_id
    asc). Plain argpartition resolves ties in the 9-dp-rounded score at
    the keep boundary arbitrarily, so which tied candidate survives
    could vary with Arrow batch composition and flip a pinned recall
    row on a different host/batch size. Keeps the O(nb) argpartition as
    a prefilter, then lexsorts only the >=boundary superset (all
    boundary ties included), so the deterministic pass is ~keep-sized.
    Rows (queries) are few; the loop is driver-free executor numpy."""
    import numpy as np

    nq = approx.shape[0]
    out = np.empty((nq, keep), dtype=np.int64)
    for i in range(nq):
        a = approx[i]
        part = np.argpartition(-a, keep - 1)[:keep]
        cand = np.flatnonzero(a >= a[part].min())
        order = np.lexsort((vids[cand], -a[cand]))
        out[i] = cand[order[:keep]]
    return out


def build_pq_index(embeddings: DataFrame, dim: int = 64) -> dict:
    """The at-rest PQ artifact: trained codebooks (model state,
    m×k_sub×(dim/m) floats) + the coded corpus (m uint8 codes per row —
    the 32× compression that IS the point of PQ). A deployment builds
    this once per corpus version; pass as ``index=`` to
    :func:`pq_ann_topk` to serve without retraining/recoding."""
    books = train_pq_codebooks(embeddings, dim=dim)
    coded = _with_pq_codes(
        embeddings.select("vec_id", "embedding"), books, _PQ_M, dim
    ).select("vec_id", "pq_codes")
    return {"books": books, "coded": coded}


def pq_ann_topk(embeddings: DataFrame, dim: int = 64,
                index: dict | None = None) -> DataFrame:
    """Approximate top-k via product quantization + asymmetric distance
    (ADC): corpus vectors live as m uint8 codes (8 bytes vs 256 — the
    32× memory compression that fits a 100-TB embedding corpus in a
    cluster's RAM), each query builds an m×k_sub lookup table of
    subspace dot products, and the scan scores a row with m table
    lookups instead of dim multiplies. The top _REFINE·_K candidates by
    ADC score are re-ranked exactly against the full vectors; output
    schema matches brute_force_topk.

    Unlike IVF (which prunes WHICH rows are read), PQ compresses WHAT
    is read — at scale the two compose (IVF-PQ: probe cells, scan
    codes, re-rank survivors). The codes scan is one map pass over the
    code table (:func:`_adc_scan`), and the scorer keeps only each
    BATCH's top _REFINE·_K per query, so the window that selects global
    candidates shuffles ~_REFINE·_K·Q·n_batches rows, never the Q×N cross
    product; the exact re-rank then joins _REFINE·_K·Q rows back to the
    full vectors by vec_id."""
    if index is None:
        index = build_pq_index(embeddings, dim=dim)
    qarr, qmat = _query_matrix(embeddings)
    scored = _adc_scan(index["coded"], qarr, qmat, index["books"], _PQ_M,
                       _REFINE * _K, None)
    return _exact_rerank(embeddings, scored, dim)


def _query_matrix(embeddings: DataFrame):
    """(query ids, Q×dim L2-normalized query matrix), driver-side."""
    import numpy as np

    qrows = (embeddings.where(F.col("vec_id") < _N_QUERIES)
             .select("vec_id", "embedding").collect())
    return (np.asarray([int(r.vec_id) for r in qrows]),
            np.stack([_normalize([float(v) for v in r.embedding])
                      for r in qrows]))


def _adc_scan(coded: DataFrame, qarr, qmat, books: list, m: int, keep: int,
              probe_ok) -> DataFrame:
    """(query_id, vec_id, adc) — the ADC scan of a code table. Each query
    builds LUT[q, s, j] = dot(q_s, c_sj) (Q·m·k_sub floats, broadcast
    state) and a code row scores round(Σ_s LUT[q, s, codes[s]], 9); the
    9-dp round makes the _REFINE·_K boundary partition-independent. With
    ``probe_ok`` (a Q×C bool mask over IVF cells) a row competes only
    for queries that probe its ``cell``: the at-rest partition pruning,
    expressed as a mask because the local fixture is one unpartitioned
    file. Each batch keeps its top ``keep`` rows per query."""
    import numpy as np

    d_sub = qmat.shape[1] // m
    lut = np.stack([
        qmat[:, s * d_sub:(s + 1) * d_sub]
        @ np.asarray(books[s], dtype=np.float64).T
        for s in range(m)], axis=1)              # Q × m × k_sub

    def score(batches):
        for b in batches:
            codes = V._list_matrix(b.column("pq_codes"), m)    # B × m
            approx = np.round(
                lut[:, np.arange(m)[None, :], codes].sum(axis=2), 9)
            if probe_ok is not None:
                approx[~probe_ok[:, b.column("cell").to_numpy()]] = -np.inf
            vids = b.column("vec_id").to_numpy()
            # Mask each query's own vector BEFORE the prune: filtering it
            # afterwards would let it occupy a top-keep slot and silently
            # drop the true keep-th candidate.
            approx[np.equal.outer(qarr, vids)] = -np.inf
            nq, nb = approx.shape
            if nb > keep:
                # per-batch top keep per query: the global top-k is a
                # subset of every batch's top-k, so pruning here is
                # lossless and keeps the downstream shuffle
                # batch-count-proportional instead of corpus-sized.
                # Boundary ties break on vec_id (batch-composition-
                # independent), not argpartition order.
                idx = _topk_cols_deterministic(approx, vids, keep)
                yield (np.repeat(qarr, keep), vids[idx].reshape(-1),
                       np.take_along_axis(approx, idx, axis=1).reshape(-1))
            else:
                yield (np.repeat(qarr, nb), np.tile(vids, nq),
                       approx.reshape(-1))

    # -inf marks the query's own vector and unprobed cells
    return (map_arrow(coded, "query_id long, vec_id long, adc double", score)
            .where(F.col("adc") != F.lit(float("-inf"))))


def _exact_rerank(embeddings: DataFrame, scored: DataFrame,
                  dim: int) -> DataFrame:
    """Shared ADC tail: global top _REFINE·_K by approximate score, then
    exact cosine re-rank against the full vectors (schema matches
    brute_force_topk)."""
    w_adc = W.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("vec_id"))
    cands = (scored.withColumn("__r", F.row_number().over(w_adc))
             .where(F.col("__r") <= _REFINE * _K)
             .select("query_id", "vec_id"))
    e = embeddings.select("vec_id", "embedding")
    q = (embeddings.where(F.col("vec_id") < _N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb")))
    joined = cands.join(e, "vec_id").join(F.broadcast(q), "query_id")
    return _topk(_pair_cosines(joined, dim), _K)


def build_ivfpq_index(embeddings: DataFrame, dim: int = 64) -> dict:
    """The at-rest IVF-PQ artifact: IVF centroids + PQ codebooks (model
    state) and the corpus coded in ONE Arrow pass with (cell, pq_codes)
    — exactly what a 100-TB deployment stores ``partitionBy("cell")``.
    Pass as ``index=`` to :func:`ivfpq_ann_topk` to serve without
    retraining or re-coding."""
    if dim % _PQ_M:
        raise ValueError(f"dim={dim} not divisible by m={_PQ_M}")
    centroids = train_ivf_centroids(embeddings, dim=dim)
    books = train_pq_codebooks(embeddings, dim=dim)
    coded = _with_cell_and_codes(
        embeddings.select("vec_id", "embedding"), centroids, books, _PQ_M,
        dim)
    return {"centroids": centroids, "books": books, "coded": coded}


def ivfpq_ann_topk(embeddings: DataFrame, dim: int = 64,
                   index: dict | None = None) -> DataFrame:
    """IVF-PQ: the composed 100-TB serving shape — IVF prunes WHICH rows
    are scanned (each query touches _N_PROBE/_N_CELLS of the corpus; at
    rest the code table partitions by cell so the pruning happens at the
    parquet scan), PQ compresses WHAT is scanned (m uint8 codes per row,
    ADC lookups instead of dim multiplies), and the survivors re-rank
    exactly against the full vectors. Reuses the IVF trainer/assigner
    and the PQ codebooks and ADC scan of the standalone paths; the only
    new piece is the per-query cell mask inside the scan.

    Model state: C×dim centroids + m×k_sub×(dim/m) codebooks + the Q×C
    probe mask — all driver/broadcast scale. Determinism: every
    assignment and score rounds to 9 dp like the parent paths, so the
    recall rows are partition-independent and driver-pinnable."""
    import numpy as np

    if index is None:
        index = build_ivfpq_index(embeddings, dim=dim)
    centroids = index["centroids"]
    qarr, qmat = _query_matrix(embeddings)
    # Per-query probed cells, driver-side (Q rows of model-state work).
    order = _nearest_cells(
        qmat, np.asarray(centroids, dtype=np.float64).T, _N_PROBE)
    probe_ok = np.zeros((len(qarr), len(centroids)), dtype=bool)
    np.put_along_axis(probe_ok, order, True, axis=1)  # Q × C mask
    scored = _adc_scan(index["coded"], qarr, qmat, index["books"], _PQ_M,
                       _REFINE * _K, probe_ok)
    return _exact_rerank(embeddings, scored, dim)


def _with_cell_and_codes(df: DataFrame, centroids: list[list[float]],
                         books: list, m: int, dim: int) -> DataFrame:
    """IVF cell + PQ codes in ONE Arrow pass (vs chaining
    _with_probe_cells and _with_pq_codes, which costs two Python round
    trips over the full corpus — the difference is a whole corpus scan
    at 100 TB). The same two functions as the two parents
    (:func:`_nearest_cells`, :func:`_pq_encode`), so assignments are
    bit-equal to the chained form."""
    import numpy as np

    cmat = np.asarray(centroids, dtype=np.float64).T   # dim × C
    bmats = [np.asarray(b, dtype=np.float64) for b in books]

    def assign(batches):
        for b in batches:
            x = V._list_matrix(b.column("embedding"), dim).astype(np.float64)
            yield (b.column("vec_id"), _nearest_cells(x, cmat, 1)[:, 0],
                   _pq_encode(x, bmats, m, dim // m))

    return map_arrow(df, "vec_id long, cell int, pq_codes array<int>",
                     assign)


def _with_probe_cells(df: DataFrame, centroids: list[list[float]],
                      n_probe: int) -> DataFrame:
    """Append ``probe_cells``: the n_probe nearest centroid ids per row,
    nearest first, via an Arrow-batched numpy matmul (``map_arrow``).

    Cosine argmax == dot-product argmax because the centroids are
    L2-normalized at build time (the row's own norm is a positive
    constant across cells).

    Why Python here and not a codegen expression: C unrolled dot
    products nested in one sort_array(array(struct...)) tree is a single
    C×dim-term expression — at C=16, dim=64 the generated doConsume
    method exceeds Janino's limits and compilation fails (measured), and
    higher-order-function lambdas are interpreted per element. A batch
    (B×dim)@(dim×C) BLAS matmul + argsort is the shape this computation
    actually is; Arrow moves it in columnar batches, no shuffle, scales
    as one map pass at any corpus size."""
    import numpy as np

    from pyspark.sql import types as T

    cmat = np.asarray(centroids, dtype=np.float64).T  # dim × C
    # NB: StructType.add mutates in place — never call it on df.schema.
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("probe_cells", T.ArrayType(T.IntegerType()))])

    def assign(batches):
        for b in batches:
            x = V._list_matrix(b.column("embedding"),
                               len(cmat)).astype(np.float64)
            yield b.columns + [_nearest_cells(x, cmat, n_probe)]

    return map_arrow(df, out_schema, assign)


def _nearest_cells(x, cmat, n: int):
    """The ``n`` nearest cells of each row of ``x`` (B×dim), nearest
    first: the column order of round(x @ cmat, 9) (cmat is dim×C),
    descending, stable. The 9-dp round comes before the argsort
    because BLAS blocking can vary with batch shape, and a 1e-16 wobble
    at a near-tie would flip the assignment between runs; rounding
    makes such pairs exact ties, broken by cell index."""
    import numpy as np

    return np.argsort(-np.round(x @ cmat, 9), axis=1, kind="stable")[:, :n]


def _pq_encode(x, bmats: list, m: int, d_sub: int):
    """PQ codes (B×m int32) of the rows of ``x`` (B×dim): each row is
    L2-normalized (a zero row stays zero), then per subspace s the code
    is argmax round(sub @ Bₛᵀ − ½‖Bₛ‖², 9) over the k×d_sub codebook
    Bₛ = ``bmats[s]`` — argmin ‖sub − c‖², rounded as in
    :func:`_nearest_cells`."""
    import numpy as np

    nrm = np.linalg.norm(x, axis=1, keepdims=True)
    full = x / np.where(nrm == 0, 1.0, nrm)
    codes = np.empty((len(x), m), dtype=np.int32)
    for s in range(m):
        sub = full[:, s * d_sub:(s + 1) * d_sub]
        b = bmats[s]
        codes[:, s] = np.argmax(
            np.round(sub @ b.T - 0.5 * (b * b).sum(axis=1), 9), axis=1)
    return codes


def _normalize(vec: list[float]) -> list[float]:
    import math
    n = math.sqrt(sum(v * v for v in vec)) or 1.0
    return [v / n for v in vec]


def train_ivf_centroids(embeddings: DataFrame, n_cells: int = _N_CELLS,
                        dim: int = 64) -> list[list[float]]:
    """Deterministic IVF centroids: seeds = the n_cells corpus vectors with
    the smallest xxhash64(vec_id) (a uniform, order-independent sample),
    then _LLOYD_ITERS refinement passes. Each pass is one shuffle:
    groupBy(cell) with per-dimension F.sum — 2×C×dim doubles cross the
    wire, independent of corpus size. Centroid state (C×dim floats) lives
    on the driver like any broadcast model."""
    seeds = (embeddings
             .orderBy(F.xxhash64("vec_id"), "vec_id")
             .limit(n_cells)
             .select("embedding")
             .collect())
    centroids = [_normalize([float(v) for v in r.embedding]) for r in seeds]
    for _ in range(_LLOYD_ITERS):
        assigned = _with_probe_cells(
            embeddings.select("embedding"), centroids, n_probe=1)
        sums = (assigned
                .select(F.col("probe_cells")[0].alias("cell"), "embedding")
                .groupBy("cell")
                .agg(F.count("*").alias("n"),
                     *[F.sum(F.col("embedding")[i].cast("double")).alias(f"s{i}")
                       for i in range(dim)])
                .collect())
        new = list(centroids)
        for r in sums:
            # Round to 9 dp: F.sum over doubles is reduction-order-
            # dependent, so without a fixed precision the model (and any
            # recall pinned on it) would vary with partitioning.
            new[r.cell] = [round(v, 9) for v in _normalize(
                [r[f"s{i}"] / r.n for i in range(dim)])]
        centroids = new
    return centroids


def build_ivf_index(embeddings: DataFrame, dim: int = 64) -> dict:
    """The at-rest IVF artifact: trained centroids (C×dim model state) +
    the corpus with its nearest-cell assignment — what a deployment
    stores ``partitionBy("cell")`` so probes prune at the scan. Pass as
    ``index=`` to :func:`ivf_ann_topk` to serve without retraining or
    re-assigning."""
    centroids = train_ivf_centroids(embeddings, dim=dim)
    return {"centroids": centroids,
            "assigned": _assign_cells(embeddings, centroids)}


def _assign_cells(embeddings: DataFrame,
                  centroids: list[list[float]]) -> DataFrame:
    """(vec_id, embedding, cell): each row with its nearest centroid."""
    return (_with_probe_cells(
        embeddings.select("vec_id", "embedding"), centroids, n_probe=1)
        .select("vec_id", "embedding", F.col("probe_cells")[0].alias("cell")))


def append_ivf_index(index: dict, batch: DataFrame) -> dict:
    """Index MAINTENANCE for IVF — the vector-side twin of the dedup
    family's append_band_index: new vectors are assigned to the FROZEN
    centroids (one Arrow matmul pass over the batch; the model does not
    retrain and the existing corpus is not re-assigned) and their rows
    join the at-rest assigned set. Cost is O(batch); at 100 TB the
    append is a partitionBy("cell") write into the same layout the
    probes prune on, and a periodic retrain/re-assign is the
    compaction-class chore, not the per-ingest cost. Centroid drift is
    the known trade: a frozen model mis-cells vectors from a shifted
    distribution, which shows up as recall decay — the signal that
    schedules the retrain."""
    centroids = index["centroids"]
    return {"centroids": centroids,
            "assigned": index["assigned"].unionByName(
                _assign_cells(batch, centroids))}


def ivf_ann_topk(embeddings: DataFrame, dim: int = 64,
                 index: dict | None = None) -> DataFrame:
    """Approximate top-k via IVF cells: assign corpus rows to their nearest
    centroid, probe each query's _N_PROBE nearest cells, exact re-rank of
    the candidates. Same output schema as brute_force_topk.

    Scale path: persist the corpus partitioned by cell
    (df.write.partitionBy("cell")) so a probe prunes to _N_PROBE/_N_CELLS of
    the data at the parquet-scan level; the candidate join below then
    shuffles only candidates, never the corpus."""
    if index is None:
        index = build_ivf_index(embeddings, dim=dim)
    centroids, e = index["centroids"], index["assigned"]
    q = (_with_probe_cells(
            embeddings.select("vec_id", "embedding")
            .where(F.col("vec_id") < _N_QUERIES), centroids, n_probe=_N_PROBE)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb"),
                 F.explode("probe_cells").alias("cell")))
    cand = (F.broadcast(q).join(e, "cell")
            .where(F.col("vec_id") != F.col("query_id")))
    return _topk(_pair_cosines(cand, dim), _K)
