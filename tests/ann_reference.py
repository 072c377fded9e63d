"""Spark-free re-derivation of every regression-pinned oracle row set.

The five pinned keys (`dedup_simhash`, `sim_{lsh,ivf,pq,ivfpq}_ann`)
embed measured rows in queries/pipeline.py because DuckDB cannot
recompute LSH/IVF/PQ internals. Until r6 those pins transcribed the
implementation's own output, so a bug present AT PIN TIME would have
been pinned as truth (COVERAGE.md documented the hole). This module
closes it: the ENTIRE pipeline — seeds, training, assignment,
retrieval, re-rank, recall — is recomputed here from the parquet
fixtures with numpy + pure Python. No SparkSession, no DataFrame, no
DuckDB; `pyarrow.parquet` is the only reader.

Arithmetic contract (why byte-identical equality is assertable):
- The engine computes every dot, norm, cosine and hyperplane projection
  with `tree_sum` (pipeline/vector.py): a fixed pairwise-balanced sum
  over the vector axis in float64. Float addition is order-dependent,
  so this module imports the same `tree_sum` rather than re-deriving
  it (tests/test_pipeline.py::test_tree_sum_matches_sql_kernels pins it
  to the SQL kernels the engine used before).
- Every model quantity the engine rounds for partition-independence
  (9-dp centroids/codebooks/scores, 6-dp cosines) is rounded here with
  the SAME function the engine uses at that site — Python `round` where
  the engine calls Python `round` (train_ivf_centroids), `np.round`
  where the engine calls `np.round` (PQ books, batch scores), and the
  BigDecimal-HALF_UP `round6` where the engine uses F.round.
- Seed selection replays Spark's `orderBy(xxhash64(vec_id), vec_id)`
  with a from-scratch pure-Python xxHash64 (public spec, seed 42),
  signed-compared like Spark's LongType.

Mirrors pipeline/similarity.py (brute_force_topk, lsh_ann_topk,
train_pq_codebooks/_with_pq_codes/_adc_scan/_exact_rerank,
train_ivf_centroids/ivf_ann_topk, ivfpq_ann_topk), pipeline/vector.py's
_hyperplanes and _lsh_bucket_vectors, and pipeline/dedup.py's SimHash. Used by tests/test_numpy_reference.py
(asserted against the live pins every session) and
scripts/pin_independent_oracles.py (pin regeneration).
"""

from __future__ import annotations

import hashlib
import math
import os
import struct

import numpy as np

from database_syncer_spark.pipeline.vector import tree_sum

# --- pure-Python xxHash64 (public xxHash spec; Spark's XxHash64 applies
# it with seed 42 — to UTF-8 bytes for strings, to the 8-byte
# little-endian value for longs) ---------------------------------------------

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M,
             seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little")
                vj = (v[j] + lane * _P2) & _M
                v[j] = (_rotl(vj, 31) * _P1) & _M
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7)
             + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for vj in v:
            vj = (_rotl((vj * _P2) & _M, 31) * _P1) & _M
            h = ((h ^ vj) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        lane = int.from_bytes(data[i:i + 8], "little")
        lane = (_rotl((lane * _P2) & _M, 31) * _P1) & _M
        h = (_rotl(h ^ lane, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        lane = int.from_bytes(data[i:i + 4], "little")
        h = (_rotl(h ^ ((lane * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def signed64(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


def xxh64_long(v: int, seed: int = 42) -> int:
    """Spark F.xxhash64(<bigint col>) == XXH64 of the 8-byte LE value,
    returned signed (LongType)."""
    return signed64(xxh64(struct.pack("<q", v), seed))


def xxh64_chain(args: list, seed: int = 42) -> int:
    """Spark's multi-argument F.xxhash64(a, b, ...): the seed CHAINS —
    each argument is hashed with the running result as seed (verified
    against the engine for int/long mixes). Python ints tagged by a
    ("i"|"l", value) tuple or inferred: plain int -> long (8-byte LE);
    ("i", v) -> IntegerType (4-byte LE); str -> UTF-8 bytes."""
    h = seed
    for a in args:
        if isinstance(a, tuple) and a[0] == "i":
            data = struct.pack("<i", a[1])
        elif isinstance(a, str):
            data = a.encode("utf-8")
        else:
            data = struct.pack("<q", int(a))
        h = xxh64(data, h & _M)
    return signed64(h)


# --- engine-exact float arithmetic ------------------------------------------


def tree_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return tree_sum(a * b)


def tree_norm(mat: np.ndarray) -> np.ndarray:
    return np.sqrt(tree_sum(mat * mat))


def tree_cosine(a: np.ndarray, b: np.ndarray) -> float:
    """cosine(a, b) with the engine's exact arithmetic: tree dot and
    norms, one norm product, one division."""
    return float(tree_dot(a, b) / (tree_norm(a) * tree_norm(b)))


def round6(x: float) -> float:
    """HALF_UP round to 6 dp, matching F.round on doubles exactly (java
    BigDecimal.valueOf + setScale(6, HALF_UP)); np.round would be
    banker's on the binary value and diverges within an ulp of a .5e-6
    boundary."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x))).quantize(
        Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _normalize_py(vec) -> list[float]:
    """similarity._normalize verbatim: sequential left-to-right Python
    sum (NOT a tree, NOT numpy) — seeds/queries are normalized with this
    on the driver, and the difference is observable under 9-dp model
    rounding."""
    n = math.sqrt(sum(float(v) * float(v) for v in vec)) or 1.0
    return [float(v) / n for v in vec]


# --- fixture loaders (pyarrow only) -----------------------------------------


def load_embeddings(sf_dir: str):
    """(ids int64 asc, mat float64 N×dim) — float32 parquet values widen
    exactly, matching the engine's CAST(embedding[i] AS DOUBLE)."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                      columns=["vec_id", "embedding"])
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    mat = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
    order = np.argsort(ids)
    return ids[order], mat[order]


def load_documents(sf_dir: str):
    """[(doc_id, text)] plus the pin fingerprint count(*)+sum(n_chars)."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                      columns=["doc_id", "text", "n_chars"])
    rows = list(zip(t.column("doc_id").to_pylist(),
                    t.column("text").to_pylist()))
    fp = len(rows) + sum(t.column("n_chars").to_pylist())
    return rows, int(fp)


def embeddings_fingerprint(mat: np.ndarray) -> float:
    """The _ANN_FP oracle key: round(sum of every element, 0)."""
    return round(float(mat.sum()), 0)


# --- SimHash (pipeline/dedup.py mirror) -------------------------------------


def simhash_fp(text: str) -> int:
    """64-bit SimHash exactly as pipeline/dedup.py builds it: split on
    single spaces, drop empties, xxhash64 each token (duplicates count),
    bit b set iff the ±1 bit-b contributions sum positive."""
    counts = [0] * 64
    n_tok = 0
    for tok in text.split(" "):
        if tok == "":
            continue
        n_tok += 1
        h = xxh64(tok.encode("utf-8"))
        for b in range(64):
            counts[b] += 1 if (h >> b) & 1 else -1
    if n_tok == 0:
        return 0
    return sum(1 << b for b in range(64) if counts[b] > 0)


def simhash_pairs(docs: list[tuple[int, str]],
                  max_hamming: int = 3) -> list[tuple[int, int, int]]:
    """All-pairs (doc_a < doc_b, hamming ≤ max_hamming), sorted — the
    dedup_simhash pin rows."""
    fps = {int(d): simhash_fp(t) for d, t in docs}
    ids = sorted(fps)
    out = []
    for ai, a in enumerate(ids):
        fa = fps[a]
        for b in ids[ai + 1:]:
            ham = (fa ^ fps[b]).bit_count()
            if ham <= max_hamming:
                out.append((a, b, ham))
    return sorted(out)


# --- MinHash + banded LSH (pipeline/dedup.py mirror) -------------------------


def doc_shingles(text: str, k: int = 3) -> set[str]:
    """with_shingles verbatim: split on single spaces (empties kept, as
    Spark's split does), positions 1..max(n-k+1, 1), concat_ws-style
    join of the ≤k-token slice, distinct."""
    toks = text.split(" ")
    n = len(toks)
    return {" ".join(toks[i:i + k]) for i in range(max(n - k + 1, 1))}


def minhash_lsh_pairs(docs: list[tuple[int, str]], threshold: float = 0.5,
                      k: int = 3, n_hashes: int = 16,
                      n_bands: int = 4) -> list[tuple[int, int, float]]:
    """minhash_lsh_dedup mirror, Spark-free: per-doc distinct shingles
    (union across duplicate doc_id rows), 16 chained-xxhash64 minhash
    families, 4-band bucket collisions, exact Jaccard verify at round-6.
    Returns sorted (doc_a, doc_b, jaccard) — byte-comparable to the
    engine's output rows."""
    sets: dict[int, set[str]] = {}
    for d, t in docs:
        sets.setdefault(int(d), set()).update(doc_shingles(t, k))
    # signatures: mh_i = min over shingles of xxhash64(lit(i)::int, h)
    # where h = xxhash64(shingle); min over SIGNED longs like Spark's
    sig: dict[int, list[int]] = {}
    for d, sh in sets.items():
        hs = [signed64(xxh64(s.encode("utf-8"))) for s in sh]
        sig[d] = [min(xxh64_chain([("i", i), h]) for h in hs)
                  for i in range(n_hashes)]
    rows_per_band = n_hashes // n_bands
    buckets: dict[tuple[int, int], list[int]] = {}
    for d, mh in sig.items():
        for b in range(n_bands):
            bh = xxh64_chain(mh[b * rows_per_band:(b + 1) * rows_per_band])
            buckets.setdefault((b, bh), []).append(d)
    cand = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for ai, a in enumerate(ids):
            for b in ids[ai + 1:]:
                cand.add((a, b))
    out = []
    for a, b in sorted(cand):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        j = round6(inter / union)
        if j >= threshold:
            out.append((a, b, j))
    return out


# --- shared ANN pieces -------------------------------------------------------


def _seed_positions(ids: np.ndarray, n: int) -> np.ndarray:
    """Positions of the n rows Spark's orderBy(xxhash64(vec_id), vec_id)
    .limit(n) selects (signed hash, then id)."""
    keyed = sorted(range(len(ids)),
                   key=lambda p: (xxh64_long(int(ids[p])), int(ids[p])))
    return np.asarray(keyed[:n])


def _rank_topk(cand: list[tuple[int, float]], k: int) -> list[tuple[int, float]]:
    """row_number over (cosine desc, neighbor_id asc), keep rank ≤ k."""
    return sorted(cand, key=lambda t: (-t[1], t[0]))[:k]


def exhaustive_cosine_pairs(ids: np.ndarray, mat: np.ndarray,
                            threshold: float = 0.5) -> set:
    """All (vec_a, vec_b, round6 cosine) pairs with cosine >= threshold,
    engine-exact (tree dot/norm + BigDecimal HALF_UP round6) — the
    Spark-free mirror of dedup.embedding_near_dup's exhaustive variant
    (constant block_col). Vectorized per anchor row; round6 only runs on
    the raw-cosine candidates within one ulp-margin of the threshold, so
    cost is ~N²·dim flops + O(true pairs) Decimal work. ids must be
    ascending (load_embeddings' contract) so vec_a < vec_b holds."""
    nrm = tree_norm(mat)
    out = set()
    for i in range(len(ids) - 1):
        raw = tree_dot(mat[i + 1:], mat[i]) / (nrm[i] * nrm[i + 1:])
        for j in np.nonzero(raw >= threshold - 1e-6)[0]:
            c = round6(float(raw[j]))
            if c >= threshold:
                out.add((int(ids[i]), int(ids[i + 1 + j]), c))
    return out


def exact_topk(ids: np.ndarray, mat: np.ndarray, n_queries: int = 10,
               k: int = 10) -> dict[int, list[tuple[int, float]]]:
    """brute_force_topk mirror: per query, its k (neighbor_id, round-6
    cosine) rows by (cosine desc, neighbor_id asc), self excluded, with
    the engine's tree arithmetic."""
    nrm = tree_norm(mat)
    out = {}
    for qpos in np.flatnonzero(ids < n_queries):
        qid = int(ids[qpos])
        raw = tree_sum(mat * mat[qpos]) / (nrm * nrm[qpos])
        out[qid] = _rank_topk([(int(i), round6(v)) for i, v in zip(ids, raw)
                               if i != qid], k)
    return out


def exact_thresholds(ids: np.ndarray, mat: np.ndarray,
                     n_queries: int = 10, k: int = 10) -> dict[int, float]:
    """Per query: the k-th exact cosine at round-6 (the ground truth
    of ann_recall)."""
    return {qid: rows[k - 1][1] for qid, rows in
            exact_topk(ids, mat, n_queries=n_queries, k=k).items()}


def _exact_rerank(ids: np.ndarray, mat: np.ndarray, nrm: np.ndarray,
                  pos: dict[int, int], qid: int,
                  cand_ids: list[int], k: int) -> list[tuple[int, float]]:
    """similarity._exact_rerank tail: exact round-6 cosine of each
    candidate, rank ≤ k by (cosine desc, neighbor_id asc)."""
    qv, qn = mat[pos[qid]], nrm[pos[qid]]
    scored = [(nb, round6(float(tree_dot(mat[pos[nb]], qv))
                          / (qn * nrm[pos[nb]])))
              for nb in cand_ids]
    return _rank_topk(scored, k)


def recall_rows(retrieved: dict[int, list[tuple[int, float]]],
                thr: dict[int, float], k: int = 10) -> dict[int, int]:
    """ann_recall mirror: n_hits = retrieved rows with cosine ≥ the
    query's exact k-th cosine; a query with zero retrieved rows still
    reports (left join from the exact-side query set)."""
    return {qid: sum(1 for _, c in retrieved.get(qid, []) if c >= t)
            for qid, t in thr.items()}


# --- LSH ----------------------------------------------------------------------


def hyperplanes(n_planes: int, dim: int, table: int) -> list[list[float]]:
    """vector._hyperplanes verbatim (md5-seeded, deterministic)."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"dss-lsh:{table}:{p}:{d}".encode()).digest()
            (u,) = struct.unpack("<Q", h[:8])
            row.append((u / 2**63) - 1.0)
        planes.append(row)
    return planes


def _lsh_buckets(mat: np.ndarray, planes: list[list[float]]) -> np.ndarray:
    """vector._lsh_bucket_vectors mirror, one table: bucket = Σ_p (1<<p
    when the tree projection > 0)."""
    bucket = np.zeros(len(mat), dtype=np.int64)
    for p, row in enumerate(planes):
        proj = tree_sum(mat * np.asarray(row, dtype=np.float64))
        bucket += np.where(proj > 0, 1 << p, 0)
    return bucket


def lsh_retrieve(ids: np.ndarray, mat: np.ndarray, n_queries: int = 10,
                 k: int = 10, n_planes: int = 4,
                 n_tables: int = 2) -> dict[int, list[tuple[int, float]]]:
    """lsh_ann_topk mirror: per-table bucket match, multi-table dedup,
    exact re-rank."""
    dim = mat.shape[1]
    nrm = tree_norm(mat)
    pos = {int(v): i for i, v in enumerate(ids)}
    out = {}
    qpos_all = np.flatnonzero(ids < n_queries)
    table_buckets = [_lsh_buckets(mat, hyperplanes(n_planes, dim, t))
                     for t in range(n_tables)]
    for qpos in qpos_all:
        qid = int(ids[qpos])
        cand = set()
        for buckets in table_buckets:
            same = np.flatnonzero(buckets == buckets[qpos])
            cand.update(int(ids[p]) for p in same if int(ids[p]) != qid)
        out[qid] = _exact_rerank(ids, mat, nrm, pos, qid, sorted(cand), k)
    return out


# --- IVF ----------------------------------------------------------------------


def ivf_centroids(ids: np.ndarray, mat: np.ndarray, n_cells: int = 16,
                  lloyd_iters: int = 1) -> list[list[float]]:
    """train_ivf_centroids mirror: xxhash64-ordered seeds, Python-sum
    normalization, one shuffle-agg Lloyd pass per iter, Python round(9)."""
    centroids = [_normalize_py(mat[p]) for p in _seed_positions(ids, n_cells)]
    for _ in range(lloyd_iters):
        cmat = np.asarray(centroids, dtype=np.float64).T
        dots = np.round(mat @ cmat, 9)
        cell = np.argsort(-dots, axis=1, kind="stable")[:, 0]
        new = list(centroids)
        for c in np.unique(cell):
            rows = mat[cell == c]
            mean = [float(s) / len(rows) for s in rows.sum(axis=0)]
            new[int(c)] = [round(v, 9) for v in _normalize_py(mean)]
        centroids = new
    return centroids


def ivf_retrieve(ids: np.ndarray, mat: np.ndarray, n_queries: int = 10,
                 k: int = 10, n_cells: int = 16,
                 n_probe: int = 4) -> dict[int, list[tuple[int, float]]]:
    """ivf_ann_topk mirror: assign corpus to nearest cell, probe each
    query's n_probe cells, exact re-rank the candidates."""
    centroids = ivf_centroids(ids, mat, n_cells=n_cells)
    cmat = np.asarray(centroids, dtype=np.float64).T
    dots = np.round(mat @ cmat, 9)                     # raw rows, like
    cell = np.argsort(-dots, axis=1, kind="stable")[:, 0]  # _with_probe_cells
    nrm = tree_norm(mat)
    pos = {int(v): i for i, v in enumerate(ids)}
    out = {}
    for qpos in np.flatnonzero(ids < n_queries):
        qid = int(ids[qpos])
        probes = np.argsort(-dots[qpos], kind="stable")[:n_probe]
        mask = np.isin(cell, probes) & (ids != qid)
        out[qid] = _exact_rerank(ids, mat, nrm, pos, qid,
                                 [int(v) for v in ids[mask]], k)
    return out


# --- PQ -----------------------------------------------------------------------


def pq_books(ids: np.ndarray, mat: np.ndarray, m: int = 8,
             k_sub: int = 16, lloyd_iters: int = 1) -> list[np.ndarray]:
    """train_pq_codebooks mirror: L2-normalized space throughout; Lloyd
    sums divide by the row's TREE norm (the engine's vector.with_norm
    kernel), assignment normalizes with np.linalg.norm (the engine's
    _with_pq_codes pass) — the mismatch is the engine's own, replayed."""
    dim = mat.shape[1]
    d_sub = dim // m
    base = np.stack([_normalize_py(mat[p])
                     for p in _seed_positions(ids, k_sub)])
    books = [base[:, s * d_sub:(s + 1) * d_sub].copy() for s in range(m)]
    for _ in range(lloyd_iters):
        codes = _pq_assign(mat, books, m)
        tnrm = tree_norm(mat)
        ok = tnrm > 0
        normed = mat[ok] / tnrm[ok, None]
        cok = codes[ok]
        for s in range(m):
            sub = normed[:, s * d_sub:(s + 1) * d_sub]
            for code in np.unique(cok[:, s]):
                rows = sub[cok[:, s] == code]
                books[s][code] = np.round(rows.sum(axis=0) / len(rows), 9)
    return books


def _pq_assign(mat: np.ndarray, books: list[np.ndarray], m: int) -> np.ndarray:
    """_with_pq_codes mirror: np.linalg.norm normalization (zero-guard),
    per-subspace argmax of round(sub·cᵀ − ½‖c‖², 9)."""
    d_sub = mat.shape[1] // m
    nrm = np.linalg.norm(mat, axis=1, keepdims=True)
    full = mat / np.where(nrm == 0, 1.0, nrm)
    bnorm = [0.5 * (b * b).sum(axis=1) for b in books]
    codes = np.empty((len(mat), m), dtype=np.int32)
    for s in range(m):
        sub = full[:, s * d_sub:(s + 1) * d_sub]
        codes[:, s] = np.argmax(np.round(sub @ books[s].T - bnorm[s], 9),
                                axis=1)
    return codes


def _adc_scores(qmat: np.ndarray, books: list[np.ndarray],
                codes: np.ndarray, m: int) -> np.ndarray:
    """_adc_scan's scorer: LUT[q,s,j] = q_s·c_sj, approx = round(Σ_s
    LUT lookups, 9) — same numpy calls, full-corpus batch (the 9-dp
    round makes batch shape irrelevant, as the engine documents)."""
    d_sub = qmat.shape[1] // m
    lut = np.stack([qmat[:, s * d_sub:(s + 1) * d_sub] @ books[s].T
                    for s in range(m)], axis=1)
    return np.round(lut[:, np.arange(m)[None, :], codes].sum(axis=2), 9)


def pq_retrieve(ids: np.ndarray, mat: np.ndarray, n_queries: int = 10,
                k: int = 10, m: int = 8, k_sub: int = 16,
                refine: int = 8) -> dict[int, list[tuple[int, float]]]:
    """pq_ann_topk mirror: ADC scan, global top refine·k by (adc desc,
    vec_id asc), exact re-rank."""
    books = pq_books(ids, mat, m=m, k_sub=k_sub)
    codes = _pq_assign(mat, books, m)
    qpos_all = np.flatnonzero(ids < n_queries)
    qmat = np.stack([_normalize_py(mat[p]) for p in qpos_all])
    approx = _adc_scores(qmat, books, codes, m)        # Q × N
    nrm = tree_norm(mat)
    pos = {int(v): i for i, v in enumerate(ids)}
    keep = refine * k
    out = {}
    for qi, qpos in enumerate(qpos_all):
        qid = int(ids[qpos])
        a = approx[qi].copy()
        a[ids == qid] = -np.inf
        order = np.lexsort((ids, -a))[:keep]
        cand = [int(ids[p]) for p in order if a[p] != -np.inf]
        out[qid] = _exact_rerank(ids, mat, nrm, pos, qid, cand, k)
    return out


# --- IVF-PQ -------------------------------------------------------------------


def ivfpq_retrieve(ids: np.ndarray, mat: np.ndarray, n_queries: int = 10,
                   k: int = 10, n_cells: int = 16, n_probe: int = 4,
                   m: int = 8, k_sub: int = 16,
                   refine: int = 8) -> dict[int, list[tuple[int, float]]]:
    """ivfpq_ann_topk mirror: IVF mask (normalized-query probes) + ADC
    + exact re-rank, composed from the parents' exact math."""
    centroids = ivf_centroids(ids, mat, n_cells=n_cells)
    cmat = np.asarray(centroids, dtype=np.float64).T
    cell = np.argsort(-np.round(mat @ cmat, 9),
                      axis=1, kind="stable")[:, 0]     # _with_cell_and_codes
    books = pq_books(ids, mat, m=m, k_sub=k_sub)
    codes = _pq_assign(mat, books, m)
    qpos_all = np.flatnonzero(ids < n_queries)
    qmat = np.stack([_normalize_py(mat[p]) for p in qpos_all])
    qdots = np.round(qmat @ cmat, 9)
    approx = _adc_scores(qmat, books, codes, m)
    nrm = tree_norm(mat)
    pos = {int(v): i for i, v in enumerate(ids)}
    keep = refine * k
    out = {}
    for qi, qpos in enumerate(qpos_all):
        qid = int(ids[qpos])
        probes = np.argsort(-qdots[qi], kind="stable")[:n_probe]
        a = approx[qi].copy()
        a[~np.isin(cell, probes)] = -np.inf
        a[ids == qid] = -np.inf
        order = np.lexsort((ids, -a))[:keep]
        cand = [int(ids[p]) for p in order if a[p] != -np.inf]
        out[qid] = _exact_rerank(ids, mat, nrm, pos, qid, cand, k)
    return out


def ivf_incremental_retrieve(ids: np.ndarray, mat: np.ndarray,
                             n_queries: int = 10, k: int = 10,
                             n_cells: int = 16, n_probe: int = 4,
                             batch_mod: int = 16, batch_rem: int = 5,
                             ) -> dict[int, list[tuple[int, float]]]:
    """sim_ivf_incremental mirror: centroids trained on the CORPUS only
    (vec_id % batch_mod != batch_rem), then every row — corpus AND
    ingest batch — assigned to the frozen model (append_ivf_index's
    no-retrain contract); probes and exact re-rank run over the grown
    set exactly as ivf_retrieve does."""
    corpus = ids % batch_mod != batch_rem
    centroids = ivf_centroids(ids[corpus], mat[corpus], n_cells=n_cells)
    cmat = np.asarray(centroids, dtype=np.float64).T
    dots = np.round(mat @ cmat, 9)
    cell = np.argsort(-dots, axis=1, kind="stable")[:, 0]
    nrm = tree_norm(mat)
    pos = {int(v): i for i, v in enumerate(ids)}
    out = {}
    for qpos in np.flatnonzero(ids < n_queries):
        qid = int(ids[qpos])
        probes = np.argsort(-dots[qpos], kind="stable")[:n_probe]
        mask = np.isin(cell, probes) & (ids != qid)
        out[qid] = _exact_rerank(ids, mat, nrm, pos, qid,
                                 [int(v) for v in ids[mask]], k)
    return out


_RETRIEVERS = {"lsh": lsh_retrieve, "ivf": ivf_retrieve,
               "pq": pq_retrieve, "ivfpq": ivfpq_retrieve,
               "ivf_incr": ivf_incremental_retrieve}


def derive_ann_pins(sf_dir: str, n_queries: int = 10,
                    k: int = 10) -> dict[str, list[int]]:
    """Per family: the n_hits list by query_id 0..n_queries-1 — the
    quantity queries/pipeline.py._ANN_PINS embeds per fixture."""
    ids, mat = load_embeddings(sf_dir)
    thr = exact_thresholds(ids, mat, n_queries=n_queries, k=k)
    pins = {}
    for fam, retrieve in _RETRIEVERS.items():
        hits = recall_rows(retrieve(ids, mat, n_queries=n_queries, k=k), thr, k)
        pins[fam] = [hits[q] for q in sorted(hits)]
    return pins
