"""Deduplication operators (SURVEY.md §2 B11; north-star mandate).

Five strategies, each a distributed query shape that survives 100 TB:

- exact: hash-groupBy on a content digest — one shuffle of (digest, id).
- MinHash+LSH: shingle -> K minhashes -> B banded bucket keys -> self-join
  per bucket -> exact-Jaccard verify. The self-join touches only
  same-bucket pairs (never the N² cross product); band count trades
  recall vs candidate volume.
- SimHash: 64-bit sign-of-weighted-sum fingerprint in 4×16-bit chunks;
  pigeonhole on chunks (hamming ≤ 3 ⇒ ≥ 1 identical chunk) prunes
  candidates, then exact hamming verify via xor+bit_count.
- n-gram Jaccard: inverted-index join on shingles (|A∩B| by counting
  shared shingles) — exact, no LSH approximation, heavier shuffle.
- embedding cosine: hyperplane-LSH band rows shuffled once by (band,
  bucket), then an exact cosine over every same-bucket pair inside its
  partition.

The text strategies are built-in expressions — xxhash64 / arrays /
explode / joins. The embedding path's bucketing and verify are
Arrow-batched numpy (``map_arrow``); no strategy runs Python row at a
time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from database_syncer_spark.arrow_map import map_arrow
from database_syncer_spark.pipeline import vector as V

# --- exact -------------------------------------------------------------------

def exact_dedup(documents: DataFrame) -> DataFrame:
    """Group identical texts by digest; keep the lowest doc_id as canonical
    (deterministic survivor rule)."""
    return (
        documents.select(F.sha2("text", 256).alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


# --- shingling ----------------------------------------------------------------

def with_shingles(documents: DataFrame, k: int = 3) -> DataFrame:
    """Distinct word k-shingles as strings — all in codegen, no Python.

    The token split is materialized as its own projection so the shingle
    transform slices a ready array; inlining ``split`` into the lambda
    would re-split the text once per shingle position (O(len²) per doc)."""
    toks = documents.select("doc_id", F.split("text", " ").alias("__toks"))
    shingles = F.array_distinct(F.expr(
        f"transform(sequence(1, greatest(size(__toks) - {k - 1}, 1)),"
        f" i -> concat_ws(' ', slice(__toks, CAST(i AS INT), {k})))"
    ))
    return toks.select("doc_id", shingles.alias("shingles"))


# --- MinHash + LSH --------------------------------------------------------------

N_HASHES = 16
N_BANDS = 4  # 4 rows per band

#: Word-shingle width of every MinHash, n-gram and containment path.
_SHINGLE_K = 3
#: Bucket count of the at-rest band and digest index tables.
_INDEX_BUCKETS = 16
#: Jaccard a MinHash candidate pair must reach to count as a near-dup.
_NEAR_DUP_JACCARD = 0.5
#: Document-frequency cap of the exact shingle measures' prefix filter.
_DF_CAP = 10_000


def minhash_signatures(documents: DataFrame, k: int = 3) -> DataFrame:
    """K minhashes per doc: min over shingles of hash-family-i(shingle).

    Shape: explode shingle positions -> slice/concat_ws -> one
    xxhash64 per shingle STRING (the expensive variable-width hash); the
    K families re-hash that fixed-width bigint with a distinct literal
    seed inside K ``min`` aggregates of ONE groupBy(doc_id) — map-side
    partial combine reduces each partition to K longs before the
    shuffle. Every expression is whole-stage codegen.

    The signatures carry no shingle set: the partial aggs hold K longs
    per doc instead of the doc's whole distinct shingle TEXT — measured
    43.2 s -> 8.7 s for the signature pass at the 500×/2.5 M-doc probe
    (r6). Candidate verification fetches shingles separately
    (with_shingles is a pure projection) for only the docs that
    actually collide.

    (A previous form computed the families with ``transform(sh_hash,
    lambda h, i=i: xxhash64(lit(i), h))`` — a TWO-argument lambda, so
    Spark bound ``i`` to the array INDEX, shadowing the seed default:
    all K families collapsed into one position-dependent hash and LSH
    recall silently degraded. Caught by signature-equality A/B against
    this explicit shape; tests now pin family independence.)"""
    toks = documents.select("doc_id", F.split("text", " ").alias("__toks"))
    pos = toks.select(
        "doc_id", "__toks",
        F.explode(F.sequence(
            F.lit(1), F.greatest(F.size("__toks") - (k - 1), F.lit(1)))
        ).alias("__i"))
    sh = pos.select(
        "doc_id",
        F.concat_ws(" ", F.slice("__toks", F.col("__i"), k)).alias("shingle"))
    h = sh.select("doc_id", F.xxhash64("shingle").alias("h"))
    return h.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"mh_{i}")
          for i in range(N_HASHES)])


def _doc_shingle_sets(documents: DataFrame, k: int) -> DataFrame:
    """One (doc_id, shingles) row PER DOC ID for the exact-Jaccard
    verify — the per-id distinct UNION across rows, matching the old
    collect_set semantics when a corpus carries duplicate doc_id rows
    (with_shingles alone is per-ROW, which would fan the verify joins
    out into one differently-scored row per copy). Grouping here is
    candidate-sized: callers prune to colliding ids first."""
    return (with_shingles(documents, k)
            .groupBy("doc_id")
            .agg(F.array_distinct(F.flatten(F.collect_list("shingles")))
                 .alias("shingles")))


def _band_structs() -> F.Column:
    """The B banded bucket keys of a signature row: array of
    (band_id, band_hash) structs, band_hash = xxhash64 of the band's R
    minhash columns. One definition, used by the self-join, the
    incremental batch-vs-corpus join, and the candidate generator."""
    rows_per_band = N_HASHES // N_BANDS
    return F.array(*[
        F.struct(
            F.lit(b).alias("band_id"),
            F.xxhash64(*[F.col(f"mh_{b * rows_per_band + r}")
                         for r in range(rows_per_band)]).alias("band_hash"),
        )
        for b in range(N_BANDS)
    ])


def lsh_candidate_pairs(signed: DataFrame) -> DataFrame:
    """Band the signature (B bands × R rows), bucket-join within bands.

    Rows that agree on all R minhashes of any band collide; the join key
    (band_id, band_hash) keeps the shuffle proportional to data, not N².
    """
    bands = _band_structs()
    exploded = (
        signed.select("doc_id", F.explode(bands).alias("band"))
        .select("doc_id", "band.band_id", "band.band_hash")
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(b, ["band_id", "band_hash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_dedup(documents: DataFrame,
                      threshold: float = _NEAR_DUP_JACCARD) -> DataFrame:
    """Near-dup pairs: LSH candidates verified by exact Jaccard.

    The band self-join is SKINNY — (doc_id, band_id, band_hash), 24
    bytes a row — and the shingle sets are fetched afterwards for only
    the docs that actually collide. An earlier shape let the shingle
    arrays ride along through the band explode to save the join back;
    that ships every doc's distinct shingle TEXT through the shuffle
    8× (4 bands × 2 join sides) while candidates are rare — measured
    at the 500×/2.5 M-doc probe (r6): 62.7 s ride-along vs 9.5 s
    skinny for the same 1,191 verified pairs. with_shingles is a pure
    per-row projection (no collect_set, no shuffle of its own), and the
    candidate set is shuffle-sized stats by the time the verify joins
    run, so AQE picks broadcast and the corpus-side shingle projection
    never shuffles at all; when a pathological corpus makes candidates
    huge, the same plan degrades gracefully to two shuffled joins —
    still strictly less traffic than the 8× ride-along."""
    signed = minhash_signatures(documents, _SHINGLE_K)
    # The candidate pair set is referenced THREE times downstream (the
    # id set that prunes the corpus, and both sides of the verify
    # join); left lazy, Catalyst plans the whole signature + band-join
    # subtree once per reference (the before-plan showed it 3x,
    # 112 operators — OPTIMIZATION_r12.md). The
    # pairs are candidate-sized by construction, so an EAGER node-local
    # checkpoint executes the generator once and hands all three
    # consumers a tiny materialized table (same discipline as
    # connected_components' result; measured ~12% on the key at sf0.1
    # and a 112-op -> ~40-op plan). The checkpointed RDD is freed by
    # the ContextCleaner when the result is dropped.
    cand = lsh_candidate_pairs(signed).localCheckpoint(eager=True)
    # Shingle ONLY the colliding docs: semi-join the corpus down to the
    # candidate id set FIRST (a broadcast probe on doc_id — the scan
    # reads text but does no shingle work for non-colliding rows), then
    # materialize shingles for that candidate-sized remainder.
    cand_ids = (cand.select(F.explode(F.array("doc_a", "doc_b"))
                            .alias("doc_id")).distinct())
    shing = _doc_shingle_sets(
        documents.join(cand_ids, "doc_id", "left_semi"), _SHINGLE_K)
    pairs = (
        cand
        .join(shing.select(F.col("doc_id").alias("doc_a"),
                           F.col("shingles").alias("sh_a")), "doc_a")
        .join(shing.select(F.col("doc_id").alias("doc_b"),
                           F.col("shingles").alias("sh_b")), "doc_b")
    )
    jac = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b"))
    )
    return (
        pairs.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _corpus_band_rows(docs, k: int = _SHINGLE_K) -> DataFrame:
    """(corpus_id, band_id, band_hash) band rows of a (doc_id, text)
    frame — THE at-rest band-index row shape. One definition shared by
    the index build, the append-only maintenance, and the inline
    fallback of the batch probe (r12 review: the block existed in three
    copies; a band-shape change applied to fewer than all three would
    silently diverge the stored index from the inline probe)."""
    sc = minhash_signatures(docs, k)
    return (sc.select(F.col("doc_id").alias("corpus_id"),
                      F.explode(_band_structs()).alias("band"))
            .select("corpus_id", "band.band_id", "band.band_hash"))


def build_corpus_band_index(corpus: DataFrame, table: str) -> DataFrame:
    """ONE-TIME at-rest index build for ingest-time dedup: the corpus's
    exploded MinHash band keys, persisted as a parquet table BUCKETED by
    (band_id, band_hash) — the layout incremental_near_dups' docstring
    promises. Steady state, each ingest batch computes only ITS OWN
    signatures and joins this stored table; the corpus side is never
    re-shingled, re-hashed, or re-shuffled (the bucketed scan carries
    its partitioning). Returns the re-read table (corpus_id, band_id,
    band_hash) to pass as ``corpus_bands``.

    Index maintenance is append-only: admitted docs' bands append to
    the table (at 100 TB, a periodic compaction rewrites small files —
    a storage chore, not a recompute)."""
    from database_syncer_spark.core.bucketing import write_bucketed_snapshot

    ec = _corpus_band_rows(corpus)
    return write_bucketed_snapshot(
        ec, table, ["band_id", "band_hash"], _INDEX_BUCKETS)


def append_band_index(admitted: DataFrame, table: str) -> DataFrame:
    """APPEND-ONLY maintenance of the at-rest band index — the other
    half of the steady-state deployment build_corpus_band_index's
    docstring promises: after an ingest batch's novel docs are admitted
    to the corpus, ONLY their band keys are computed and appended into
    the same bucketed layout (matching bucket spec, so the files land
    in the right buckets and the next batch's probe sees them through
    the identical bucket-pruned scan). Cost is O(admitted), never
    corpus-proportional; at 100 TB a periodic compaction folds the
    small appended files — a storage chore, not a recompute. Returns
    the refreshed table."""
    spark = admitted.sparkSession
    ec = _corpus_band_rows(admitted)
    (ec.write.mode("append")
       .bucketBy(_INDEX_BUCKETS, "band_id", "band_hash")
       .sortBy("band_id", "band_hash")
       .format("parquet")
       .saveAsTable(table))
    # ``admitted`` may be bound to a DIFFERENT SparkSession than the
    # caller's (foreachBatch hands micro-batch frames on a per-epoch
    # session): each session keeps its OWN table-relation/file-listing
    # cache, so refreshing only admitted's session leaves a reader that
    # resolved the table through another session on the PREVIOUS file
    # listing — the r12 optimization round hit exactly this (the
    # stream_dedup_rolling day-3 probe silently missed day-1's
    # appended bands once plan timing shifted; caught by the oracle
    # value check). Refresh the writing, thread-active, and default
    # (builder.getOrCreate) sessions' catalogs — the set dedupes
    # same-wrapper repeats.
    from pyspark.sql import SparkSession

    # The WRITING session's refresh must propagate: swallowing it would
    # leave the stale file listing this refresh exists to fix (the
    # silent-miss bug class the r12 oracle check caught) with no signal
    # at all. Only the SECONDARY sessions' refreshes are best-effort —
    # a torn-down per-epoch session must not fail the append — and a
    # swallowed failure is at least logged (ADVICE r12).
    spark.catalog.refreshTable(table)
    active = SparkSession.getActiveSession()
    for s in {SparkSession.builder.getOrCreate(),
              *([active] if active is not None else [])} - {spark}:
        try:
            s.catalog.refreshTable(table)
        except Exception as exc:  # noqa: BLE001 — secondary session may be torn down
            import logging
            logging.getLogger(__name__).warning(
                "append_band_index: secondary-session catalog refresh "
                "of %s failed (%s: %s)", table, type(exc).__name__, exc)
    return spark.table(table)


def build_corpus_digest_index(corpus: DataFrame, table: str) -> DataFrame:
    """At-rest exact-dup gate: sha2(text) digests, bucketed by digest —
    the 64-byte probe table the exact-novelty semi-join reads instead
    of digesting the whole corpus per batch."""
    from database_syncer_spark.core.bucketing import write_bucketed_snapshot

    return write_bucketed_snapshot(
        corpus.select(F.sha2("text", 256).alias("digest")),
        table, ["digest"], _INDEX_BUCKETS)


def _band_candidates(batch: DataFrame, corpus: DataFrame, k: int,
                     corpus_bands: DataFrame | None) -> DataFrame:
    """Skinny batch×corpus band-candidate generator (doc_id, corpus_id)
    — the same shape (and the same r6 500×-probe rationale) as
    minhash_lsh_dedup: the CORPUS side's collect_set would otherwise
    ship every stored doc's distinct shingle text through the shuffle
    on every ingest batch. With ``corpus_bands`` the corpus side is the
    AT-REST bucketed table scan; inline otherwise."""
    sb = minhash_signatures(batch, k)
    eb = (sb.select("doc_id", F.explode(_band_structs()).alias("band"))
          .select("doc_id", "band.band_id", "band.band_hash"))
    if corpus_bands is not None:
        ec = corpus_bands.select("corpus_id", "band_id", "band_hash")
    else:
        ec = _corpus_band_rows(corpus, k)
    return (eb.join(ec, ["band_id", "band_hash"])
            .select("doc_id", "corpus_id").distinct())


def incremental_near_dups(batch: DataFrame, corpus: DataFrame,
                          corpus_bands: DataFrame | None = None) -> DataFrame:
    """Ingest-time dedup: every BATCH doc checked for near-dups against
    the EXISTING corpus only — the daily-ingest question ("is this new
    doc a duplicate of anything we already have?") without recomputing
    any corpus self-pairs (yesterday's work). Output: one verdict row
    per batch doc — (doc_id, n_dups, max_jaccard, novel); novel docs
    report n_dups = 0 / NULL max (a LEFT join from the batch side, so a
    doc with zero collisions cannot silently vanish — the ann_recall
    lesson from r3's advice).

    Scale: the band join is batch×corpus, and at rest the corpus's
    banded signatures are PRECOMPUTED and bucketed by (band_id,
    band_hash) — pass that stored table as ``corpus_bands``
    (build_corpus_band_index) and a daily batch shuffles only its own
    bands and probes the bucket layout. Precisely: the corpus side is
    never re-shingled, re-hashed, or re-shuffled per batch; what remains
    corpus-proportional is ONE columnar scan of the skinny stored band
    table (three fixed-width columns, no text) — at 100 TB that scan is
    the band table's few hundred GB read bucket-parallel, not the corpus
    itself, and everything downstream (shuffle, verify) is batch +
    collision sized (measured: SCALE.md's at-rest-index A/B, a 0.81%
    batch at 3.2-4.8% of the full-curate wall). With ``corpus_bands=None`` the
    corpus side is derived inline (fixture-scale convenience; the
    one-time index build the steady state amortizes). ``corpus`` text
    is still consulted — but only for the CANDIDATES' shingle fetch
    (left-semi pruned). Recall is the LSH family's (same bands as
    minhash_lsh_dedup); verification is exact Jaccard."""
    # Same three-consumer shape as minhash_lsh_dedup (batch id set,
    # corpus id set, verify join): eager node-local checkpoint runs the
    # batch-signature + band-probe subtree once instead of once per
    # reference (candidate-sized by construction). The generator itself
    # lives in _band_candidates so the stored-index-vs-inline plan guard
    # (test_plans.py) can still read its plan pre-checkpoint. Lazy
    # candidates measure the same on one probe, but at scale they
    # re-execute the corpus-signature subtree per reference.
    k = _SHINGLE_K
    cand = _band_candidates(
        batch, corpus, k, corpus_bands).localCheckpoint(eager=True)
    sh_b = _doc_shingle_sets(
        batch.join(cand.select("doc_id").distinct(), "doc_id", "left_semi"),
        k).withColumnRenamed("shingles", "sh_b")
    sh_c = (_doc_shingle_sets(
        corpus.join(cand.select(F.col("corpus_id").alias("doc_id")).distinct(),
                    "doc_id", "left_semi"), k)
        .select(F.col("doc_id").alias("corpus_id"),
                F.col("shingles").alias("sh_c")))
    pairs = cand.join(sh_b, "doc_id").join(sh_c, "corpus_id")
    jac = F.round(
        F.size(F.array_intersect("sh_b", "sh_c")).cast("double")
        / F.size(F.array_union("sh_b", "sh_c")), 6)
    verified = (pairs.select("doc_id", jac.alias("jaccard"))
                .where(F.col("jaccard") >= _NEAR_DUP_JACCARD))
    per_doc = verified.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.max("jaccard").alias("max_jaccard"))
    return (batch.select("doc_id").join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_dups", F.lit(0)).alias("n_dups"),
                    "max_jaccard",
                    (F.coalesce("n_dups", F.lit(0)) == 0).alias("novel")))


# --- SimHash ---------------------------------------------------------------------

def simhash_chunks(documents: DataFrame) -> DataFrame:
    """64-bit SimHash as 4×16-bit chunk columns.

    Explode tokens, hash each, then per doc sum the ±1 contribution of
    every bit; bit = 1 iff the sum is positive. Chunks double as the
    pigeonhole join keys for hamming-bounded candidate search."""
    tok = (
        documents.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
        .select("doc_id", F.xxhash64("token").alias("h"))
    )
    chunk_cols = []
    for c in range(4):
        bits = []
        for i in range(16):
            bit = 16 * c + i
            # shiftright+mask instead of a 1<<bit literal: bit 63 would
            # overflow a signed long
            contrib = F.when(
                F.shiftright(F.col("h"), bit).bitwiseAND(F.lit(1)) == 1,
                1).otherwise(-1)
            bits.append(
                F.when(F.sum(contrib) > 0, F.lit(1 << i)).otherwise(F.lit(0)))
        chunk = bits[0]
        for extra in bits[1:]:
            chunk = chunk + extra
        chunk_cols.append(chunk.alias(f"chunk_{c}"))
    return tok.groupBy("doc_id").agg(*chunk_cols)


# Block-permutation candidate tables (Manku/Jarvelin web-dedup scheme,
# public WWW'07 construction): split the 64-bit fingerprint into
# _SH_BLOCKS blocks; max_hamming bit errors corrupt at most max_hamming
# blocks, so every pair within distance max_hamming agrees on SOME
# (_SH_BLOCKS - max_hamming)-subset of blocks. Keying candidates on every
# such subset keeps recall EXACT while widening the effective key from 16
# bits (the old 4-chunk pigeonhole: 65,536 buckets → ~N²/2¹⁷ candidate
# pairs, quadratic at web scale) to ~33 bits per table.
_SH_BLOCKS = 6
_SH_BLOCK_BOUNDS = [0, 11, 22, 33, 44, 54, 64]  # 6 blocks: 11×4 + 10×2 bits


def _simhash_tables(max_hamming: int) -> list[tuple[int, ...]]:
    from itertools import combinations
    keep = _SH_BLOCKS - max_hamming
    if keep < 1:
        raise ValueError(f"max_hamming={max_hamming} needs > {_SH_BLOCKS - 1}")
    return list(combinations(range(_SH_BLOCKS), keep))


def simhash_dedup(documents: DataFrame, max_hamming: int = 3,
                  bucket_cap: int = 10_000) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= max_hamming.

    Candidates: assemble the 64-bit fingerprint from the 4 chunk columns,
    slice it into 6 blocks, and emit one (table_id, key) row per
    C(6, 6-max_hamming) block-subset table — every pair within the
    hamming budget shares a full key in at least one table (exact
    recall), and each table key spans ~33 bits, so bucket population
    scales as N/2³³ instead of N/2¹⁶. All tables ride ONE exploded
    self-join (the LSH-banding shape — one shuffle, ReuseExchange).

    ``bucket_cap`` drops candidate buckets larger than the cap before the
    join — the worst-case quadratic guard for adversarial key skew (e.g.
    boilerplate corpora whose fingerprints collapse to a handful of
    values). A dropped bucket means its docs agree on one block triple;
    near-identical docs also collide in other tables, so the practical
    recall cost is confined to corpora that are one giant near-dup
    cluster — where pair enumeration is the wrong output anyway
    (tests/test_pipeline.py pins the o(N²) bound on a skewed corpus).
    Verify = xor + bit_count, exact."""
    fps = simhash_chunks(documents)
    # shiftleft|bitwiseOR, not multiply|add: chunk_3 << 48 can set bit 63,
    # which overflows signed-long arithmetic but is fine bitwise.
    fp = F.lit(0).cast("long")
    for c in range(4):
        fp = fp.bitwiseOR(F.shiftleft(F.col(f"chunk_{c}").cast("long"), 16 * c))
    fps = fps.withColumn("fp", fp)

    def block(i: int):
        lo, hi = _SH_BLOCK_BOUNDS[i], _SH_BLOCK_BOUNDS[i + 1]
        return F.shiftrightunsigned("fp", lo).bitwiseAND(F.lit((1 << (hi - lo)) - 1))

    tables = F.array(*[
        F.struct(
            F.lit(t).alias("table_id"),
            F.xxhash64(F.lit(t), *[block(i) for i in combo]).alias("key"),
        )
        for t, combo in enumerate(_simhash_tables(max_hamming))
    ])
    keyed = (
        fps.select("doc_id", *[f"chunk_{i}" for i in range(4)],
                   F.explode(tables).alias("t"))
        .select("doc_id", "t.table_id", "t.key",
                *[f"chunk_{i}" for i in range(4)])
    )
    # Bucket-size guard: the count window partitions by the JOIN keys, so
    # it shares the join's hash shuffle (one exchange, reused).
    from pyspark.sql import Window as W
    keyed = keyed.withColumn(
        "__bucket_n", F.count("*").over(W.partitionBy("table_id", "key"))
    ).where(F.col("__bucket_n") <= bucket_cap).drop("__bucket_n")
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, ["table_id", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.chunk_{i}").alias(f"ac{i}") for i in range(4)],
            *[F.col(f"b.chunk_{i}").alias(f"bc{i}") for i in range(4)],
        )
        .distinct()
    )
    hamming = sum(
        F.bit_count(F.col(f"ac{i}").bitwiseXOR(F.col(f"bc{i}")))
        for i in range(4)
    )
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


# --- exact n-gram Jaccard (inverted index) ------------------------------------

def _shingle_intersections(documents: DataFrame, k: int,
                           df_cap: int) -> DataFrame:
    """Shared candidate stage of the exact shingle measures: explode
    distinct k-shingles, apply the df_cap prefix filter (the count
    window partitions by the JOIN key, so it shares the join's hash
    exchange), inverted-index self-join, and count the intersection once
    per unordered pair. Returns (doc_a < doc_b, na, nb, c).

    Shingle stage (r13, guide §4.1/§2.4): positional explode +
    codegen'd slice/concat_ws — the minhash_signatures shape — instead
    of exploding the with_shingles HOF array, whose transform lambda is
    interpreted PER ELEMENT (the exact text_decontaminate finding; A/B
    at sf0.1: 2.3-2.9 s -> 1.0 s for the full jaccard key, and 4.1-6.4 s
    -> 1.2-1.5 s for this stage alone at a 100 k-doc probe, values
    identical — OPTIMIZATION_r13.md).
    The per-doc DISTINCT the array form gave row-locally comes from a
    collect_set grouped on doc_id, with the corpus repartitioned by
    doc_id FIRST (the repetition_score trick): hashpartitioning(doc_id)
    already satisfies the aggregation's clustering, so the one new
    exchange carries document TEXT (1x corpus) and the exploded shingle
    rows never cross the wire; n_sh = size(set) keeps counting ALL the
    doc's distinct shingles, preserving the df_cap one-sided-error
    argument below."""
    from pyspark.sql import Window as W

    # NULL text rows are row-identical across the shapes WITHOUT a
    # guard: with_shingles' sequence runs over greatest(size(NULL)-2, 1)
    # = 1, so the array form also emits exactly one '' shingle for a
    # NULL text — same as concat_ws over the NULL slice here (pinned by
    # test_shingle_intersections_equals_array_form's NULL/empty rows).
    toks = (documents.repartition("doc_id")
            .select("doc_id", F.split("text", " ").alias("__toks")))
    pos = toks.select(
        "doc_id", "__toks",
        F.explode(F.sequence(
            F.lit(1), F.greatest(F.size("__toks") - (k - 1), F.lit(1)))
        ).alias("__i"))
    raw = pos.select(
        "doc_id",
        F.concat_ws(" ", F.slice("__toks", F.col("__i"), k)).alias("sh"))
    sets = raw.groupBy("doc_id").agg(F.collect_set("sh").alias("shingles"))
    sh = sets.select(
        "doc_id", F.explode("shingles").alias("sh"),
        F.size("shingles").alias("n_sh"),
    )
    sh = sh.withColumn(
        "__df", F.count("*").over(W.partitionBy("sh"))
    ).where(F.col("__df") <= df_cap).drop("__df")
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, "sh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"), F.col("b.n_sh").alias("nb"))
        .agg(F.count("*").alias("c"))
    )


def ngram_jaccard_pairs(documents: DataFrame, threshold: float = 0.2,
                        df_cap: int = _DF_CAP) -> DataFrame:
    """EXACT Jaccard over word k-shingles via an inverted-index self-join:
    |A∩B| = count of shared shingles; sizes come from the per-doc shingle
    count, so no second pass over text. The self-join costs
    sum(posting-list²), so ONE boilerplate shingle shared by f·N docs
    makes it quadratic (f=1% of 10¹⁰ docs → a 10¹⁶-pair bucket).

    ``df_cap`` drops shingles whose document frequency exceeds the cap
    before the join (the standard prefix-filter defence). Effect on
    exactness: the |A∩B| count loses at most the s capped shingles a pair
    shares, so the reported jaccard underestimates by at most
    s/(|A∪B|) — for df_cap ≫ typical DF the result is exact (no fixture
    shingle comes near the default cap), and a capped shingle is by
    construction near-content-free boilerplate for similarity purposes.
    The per-doc sizes ``n_sh`` keep counting ALL shingles, so capping
    never inflates a score — errors are one-sided (recall, never
    precision).

    MEASURED BOUNDARY (r5/r7 probes): 585 s at 1 M docs vs the banded
    LSH generator's 30 s for the same verified edges, and at 2.5 M docs
    the self-join's shuffle spill exhausted ~50 GB of free disk and the
    job ABORTED (ENOSPC). This is the exactness/oracle tool for
    fixture-scale verification; every end-to-end dedup artifact
    (corpus_keep, soft_keep) defaults to minhash_lsh_dedup."""
    inter = _shingle_intersections(documents, _SHINGLE_K, df_cap)
    jac = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(documents: DataFrame,
                            threshold: float = 0.5) -> DataFrame:
    """EXACT shingle containment C(A→B) = |A∩B| / |A| — the asymmetric
    near-dup measure that catches SUB-document duplication (doc A mostly
    quoted/embedded inside doc B), which symmetric Jaccard misses when
    |B| ≫ |A|: C(A→B) can be 1.0 while J(A,B) ≈ |A|/|B| → 0.

    Shares the inverted-index shape (and the df_cap prefix-filter
    defence — same one-sided error argument) with
    :func:`ngram_jaccard_pairs`; the intersection count is computed ONCE
    per unordered pair and both directions are emitted by exploding two
    structs from it, so the asymmetry costs no second join."""
    inter = _shingle_intersections(documents, _SHINGLE_K, _DF_CAP)
    cont = F.round(F.col("c").cast("double") / F.col("n_src"), 6)
    both = inter.select(F.explode(F.array(
        F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"),
                 F.col("na").alias("n_src"), F.col("c")),
        F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"),
                 F.col("nb").alias("n_src"), F.col("c")),
    )).alias("p")).select("p.*")
    return (
        both.select("src", "dst", cont.alias("containment"))
        .where(F.col("containment") >= threshold)
    )


def soft_keep_weights(documents: DataFrame) -> DataFrame:
    """Soft dedup: the per-row duplication weighting table
    (doc_id, component, cluster_size, keep_ppm, kept) — keep each
    near-dup cluster once IN EXPECTATION instead of hard-dropping to
    one survivor (keep_ppm = floor(1e6 / cluster_size); membership via
    the engine-exact mod-first Knuth hash, so which member survives is
    random-but-reproducible).

    Cluster sizes MUST aggregate the corpus rows, not the components
    table: cluster_size counts duplicate INSTANCES — a doc_id present
    on 3 corpus rows contributes 3 — which is what the 1/cluster_size
    down-weighting exists to correct (and what the recursive-CTE
    oracle's `allc` counts). An r6 attempt to source sizes from the
    pairs-sized comp table (nodes, not rows) passed every unique-id
    fixture but silently stopped down-weighting duplicated doc_ids —
    caught in review, reverted, pinned by
    tests/test_pipeline.py::test_soft_keep_counts_duplicate_instances.
    The groupBy partial-combines map-side, so the shuffle carries
    component-count rows per partition, never the corpus."""
    comp = connected_components(minhash_lsh_dedup(documents))
    full = (documents.select("doc_id").join(comp, "doc_id", "left")
            .withColumn("component", F.coalesce("component", "doc_id")))
    sizes = full.groupBy("component").agg(
        F.count("*").alias("cluster_size"))
    return (full.join(sizes, "component")
            .withColumn("keep_ppm",
                        F.expr("CAST(1000000 DIV cluster_size AS BIGINT)"))
            .withColumn("kept",  # mod-first: overflow-proof, same values
                        F.pmod(F.pmod(F.col("doc_id"), F.lit(1000000))
                               * F.lit(2654435761),
                               F.lit(1000000)) < F.col("keep_ppm"))
            .select("doc_id", "component", "cluster_size",
                    "keep_ppm", "kept"))


# --- paragraph/line-level dedup ---------------------------------------------------

#: Span length of paragraph_dedup, in words.
_CHUNK_WORDS = 10


def paragraph_dedup(documents: DataFrame) -> DataFrame:
    """Sub-document exact dedup — the C4/RefinedWeb granularity the
    doc-level family (exact/near/soft/incremental) doesn't cover:
    remove every repeated SPAN across the corpus, keeping only its
    first occurrence (ordered by doc_id, then position), and re-emit
    the cleaned documents. Spans are consecutive _CHUNK_WORDS-word
    chunks (the fixtures are single-line word streams; on newline-
    delimited corpora the same shape applies with split('\\n')).

    Output: (doc_id, clean_text, n_chunks, n_removed) — one row per
    input document, clean_text = the kept chunks re-joined in order
    (empty string when every span of a late exact-duplicate is
    scrubbed).

    Shape: corpus-sized explode, ONE (chunk) shuffle for the frequency/
    first-occurrence aggregate, one join back, one (doc_id) shuffle to
    reassemble. Keep-first is min(struct(doc_id, pos)) — a partially
    aggregable map-side-combined agg — NOT a row_number window: at
    corpus scale boilerplate chunks repeat millions of times, and a
    window's per-chunk sort partition inherits exactly that skew while
    min() reduces it on the map side. The join back is chunk-frequency
    sized per chunk but row-preserving (one agg row per distinct
    chunk), and AQE's skew-join split covers the residual probe skew."""
    # NULL text must still emit its one output row (split(NULL) would
    # otherwise yield size -1, NULL chunks, and a null-unsafe join that
    # silently DROPS the document — r8 review finding): treat NULL as ''
    words = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    n = F.ceil(F.size(words) / F.lit(_CHUNK_WORDS)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.array_join(
            F.slice(words, i * _CHUNK_WORDS + 1, _CHUNK_WORDS), " "))
    ch = (documents
          .select("doc_id", F.posexplode(chunks).alias("pos", "chunk")))
    firsts = ch.groupBy("chunk").agg(
        F.count("*").alias("freq"),
        F.min(F.struct("doc_id", "pos")).alias("first"))
    kept = (F.col("freq") == 1) | (
        (F.col("doc_id") == F.col("first.doc_id"))
        & (F.col("pos") == F.col("first.pos")))
    return (ch.join(firsts, "chunk")
            .groupBy("doc_id")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.when(kept, F.struct("pos", "chunk")))),
                        lambda s: s["chunk"]),
                    " ").alias("clean_text"),
                F.count("*").alias("n_chunks"),
                F.sum(F.when(kept, 0).otherwise(1)).alias("n_removed")))


# --- connected components over near-dup pairs -----------------------------------

#: Round cap of the components loop (pathological chains).
_CC_MAX_ITER = 20


def connected_components(edges: DataFrame) -> DataFrame:
    """Cluster near-dup (doc_a, doc_b) pairs into components:
    (doc_id, component) where component = min doc_id reachable through
    any chain of pairs — the step that turns pairwise dedup output into
    keep/drop decisions (keep one doc per component).

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels; converges in
    O(cluster diameter) rounds (near-dup clusters are shallow — a few
    rounds in practice, _CC_MAX_ITER caps pathological chains). Each
    round is one join + one partial-agg'd groupBy, all JVM-side; the
    per-round result is persisted so round N+1 doesn't recompute rounds
    1..N. At extreme scale the same loop with large-star/small-star
    rewrites converges in O(log n) — the shape here is the standard one.

    An edge with a NULL endpoint links nothing and is dropped: NULL is
    not a node id, so it never appears in the output.
    """
    from pyspark import StorageLevel

    # Both directions from ONE pass over the edge plan: the union-of-two-
    # selects form executed the (possibly expensive) upstream pair plan
    # once per branch — measured +2.2 s per components call at sf0.1
    # after the r6 skinny-band rewrite added stages to that plan.
    # r13: SELF-EDGES inject each node's own label into the
    # neighbor-min, so "min over N(a) ∪ {a}" — the exact update rule —
    # is ONE join + one groupBy per iteration; the comp.join(nbr_min,
    # "left") + least() that previously re-attached the node's own
    # label disappears (-1 join, -1 Exchange per round; loop A/B
    # interleaved on pre-materialized edges: 18 -> 14 jobs,
    # 0.82-1.85 -> 0.64-1.05 s per call at sf0.1, 5.20 -> 3.98 s at a
    # 1 M-edge star-forest probe, label maps identical —
    # OPTIMIZATION_r13.md). The self-edges ride the SAME explode
    # as the symmetric pair — (a,b),(b,a),(a,a),(b,b), one pass over
    # the edge plan; duplicates of a self-edge are harmless under min
    # and cost less than the distinct-nodes union branch that would
    # otherwise execute the (possibly expensive, lazily-planned)
    # upstream pair generator a second time (measured: the union-branch
    # form regressed corpus_curate 3.6 -> 4.2 s while this form
    # improves it). Convergence is detected by the MONOTONE LABEL SUM:
    # labels only ever decrease, so any change strictly decreases
    # sum(component) — no flag column needed. The single comp
    # reference per iteration also keeps the logical tree LINEAR in
    # the iteration count: the old shape referenced the cached comp
    # twice per round, so analysis + event-log plan stringification
    # walked ~2^i fragments — measured as a driver MELT (>21 min of
    # generateTreeString CPU, run killed) on a deep-chain probe that
    # the new shape finishes in 27 s (9 iterations, 1 M edges,
    # depth 8).
    src, dst = F.col("doc_a"), F.col("doc_b")
    sym = (
        edges.where(src.isNotNull() & dst.isNotNull())
        .select(F.explode(F.array(
            F.struct(src.alias("a"), dst.alias("b")),
            F.struct(dst.alias("a"), src.alias("b")),
            F.struct(src.alias("a"), src.alias("b")),
            F.struct(dst.alias("a"), dst.alias("b")),
        )).alias("e"))
        .select("e.a", "e.b")
    )
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    comp = (
        sym.select(F.col("a").alias("id")).distinct()
        .select("id", F.col("id").alias("component"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # decimal(38,0): the sum of N doc_id-sized longs must not overflow
    # under ANSI mode (2^63-scale ids x 10^10 rows ~ 10^29 << 10^38).
    # "No previous sum" is its own sentinel: sum() over an empty label
    # map is NULL (None), which must not read as "not summed yet".
    no_sum = object()
    prev_sum = no_sum
    cached = comp
    for it in range(_CC_MAX_ITER):
        nxt = (
            sym.join(comp, sym.b == comp.id)
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("component").alias("component"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        cur_sum = nxt.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))).collect()[0][0]
        cached.unpersist()
        cached = nxt
        comp = nxt
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
        # Lineage truncation every 8 rounds: even the single-reference
        # chain's per-iteration cost turns superlinear past ~10 nested
        # persist levels (measured at a depth-14 chain: iters 0-8 run
        # 0.3-0.8 s, then 1.5/2.1/3.8/8.4/17.8/60.3 s — the
        # unpersist-invalidated cache chain re-plans/re-executes ever
        # deeper lineage). A periodic eager localCheckpoint caps the
        # lineage depth at one segment. Shallow near-dup graphs
        # (2-5 rounds) never reach it, so the persist path — which
        # beats an every-iteration checkpoint 5.9 s vs 22.4 s at a
        # 1 M-edge star forest (stats/broadcast survive, no per-round
        # full re-store) — is untouched where it wins; a depth-14
        # chain drops 121 s -> 19 s with identical label maps
        # (OPTIMIZATION_r13.md regimes + the deep-chain test).
        if (it + 1) % 8 == 0:
            comp = comp.localCheckpoint(eager=True)
            cached.unpersist()
            cached = comp
    # Unpersisting sym/comp directly here would CASCADE: Spark's
    # CacheManager also evicts every cached plan containing the
    # unpersisted plan as a subplan — i.e. the result the caller is
    # about to read — forcing the whole iteration chain to re-execute
    # on first consumption (A/B r7: 1.7 s -> 4.8 s per
    # dedup_cluster_components call at sf0.1 with a bare unpersist(sym)
    # on this line). r7 therefore leaked the pairs-sized edge cache for
    # the session; r8 instead truncates lineage with an eager
    # localCheckpoint of the NODE-sized result (comp is already
    # materialized, so this is one cache scan), after which both caches
    # can be dropped safely. The checkpointed RDD itself is freed by the
    # ContextCleaner once the caller drops the returned frame — the
    # eviction-on-consumption semantics a registry sweep running several
    # dedup keys per session needs. (localCheckpoint trades executor-
    # loss recovery for zero-config lineage truncation; the loop above
    # already made that trade per-iteration via persist+count.)
    result = (comp.select(F.col("id").alias("doc_id"), "component")
              .localCheckpoint(eager=True))
    cached.unpersist()
    sym.unpersist()
    return result


# --- embedding cosine near-dup ---------------------------------------------------

def _lsh_block_planes(corpus_n: int) -> int:
    """Bucket-width policy for the LSH blocking: 2**n_planes buckets per
    band. The noise-collision term of the within-bucket self-join is
    ~N²/2**n_planes per band, so planes must track log2(N) at scale;
    small corpora (the driver fixtures) instead want FEW planes so recall
    stays total at the low-similarity thresholds the fixtures exercise
    (recall per pair at cosine c is 1-(1-p^r)^L with p = 1 - acos(c)/π —
    r=4/L=16 is measured total at τ=0.5 on all three fixture SFs,
    tests/test_pipeline.py)."""
    if corpus_n < 50_000:
        return 4
    planes = 12
    while (1 << planes) < corpus_n and planes < 24:
        planes += 1
    return planes


def _first_collision(a: str, b: str, n_tables: int) -> Column:
    """True iff this band is the FIRST where sides `a` and `b` share a
    bucket: for every earlier band s < tbl, a.buckets[s] != b.buckets[s].
    Replaces pair DISTINCT after the per-band join — each colliding
    pair survives in exactly one band, so no candidate-volume-sized
    exchange is needed (the r7 1 M-vector probe put the distinct at the
    top of the profile: ~8× candidate multiplicity on dense near-dup
    clusters shuffled ~2 B rows to dedupe ~250 M pairs)."""
    cond = F.lit(True)
    for s in range(n_tables - 1):
        cond = cond & ((F.col("tbl") <= F.lit(s))
                       | (F.col(f"{a}.buckets")[s]
                          != F.col(f"{b}.buckets")[s]))
    return cond


def _lsh_params(frame: DataFrame,
                corpus_n: int | None) -> tuple[int, int, int]:
    """(n_planes, n_tables, corpus_n) for BOTH blocking callers
    (embedding_near_dup and embedding_incremental_near_dup must block
    identically or the shared recall pin stops covering the incremental
    path): count the corpus unless the caller passed its size, planes
    from _lsh_block_planes, tables 16 in the fixture regime / 8 at
    scale. The count also sizes the probe-side partitioning
    (:func:`_probe_partitions`)."""
    if corpus_n is None:
        corpus_n = frame.count()
    return (_lsh_block_planes(corpus_n), 16 if corpus_n < 50_000 else 8,
            corpus_n)


def _probe_partitions(frame: DataFrame, n_planes: int, n_tables: int,
                      corpus_n: int | None) -> int:
    """Partition count for the (tbl, bucket) exchange that feeds the
    pair expansion — embedding_near_dup's in-partition verify kernel or
    the incremental band join's PROBE side (guide §2.5: AQE cannot see
    an operator's output multiplication — it sizes partitions from
    input bytes). The expansion multiplies its input by the
    per-bucket pair volume (noise term ~N²/2^planes per table), and at
    fixture scale the upstream is a 1-4-split parquet scan whose
    partitioning flows straight through the BroadcastHashJoin — so the
    whole candidate expansion AND the unrolled exact-cosine verify ran
    in ≤4 tasks (measured: dedup_embedding_cosine 29.7 s at sf0.1 /
    2000 vectors, OPTIMIZATION_r12.md). Size from the
    expected collision volume instead: ~200k candidate pairs per task,
    floored at defaultParallelism (fill the machine even when the
    estimate is small), capped at 4096 (one task per ~200k pairs is
    already generous at scale; beyond the cap per-task volume grows,
    which the partition sort handles by spilling)."""
    sc = frame.sparkSession.sparkContext
    dp = sc.defaultParallelism
    if corpus_n is None:
        return dp
    est = n_tables * corpus_n * corpus_n // (2 ** n_planes)
    return int(min(4096, max(dp, est // 200_000)))


#: Candidate pairs scored per numpy step of the verify kernel. Each pair
#: gathers two dim-wide float64 rows, so this bounds the kernel's working
#: set (~16 MB at dim 64) however large one block grows.
_PAIR_TILE = 1 << 14


def _block_pairs(run_end, tile: int):
    """Every (i, j) with i < j < run_end[i] — all same-block row pairs of
    a block-clustered batch — as (left, right) index arrays of at most
    ``tile`` pairs each. The pairs are numbered flat (row i owns
    run_end[i] - i - 1 of them), so a skewed block splits across tiles
    like any other."""
    import numpy as np

    n = len(run_end)
    cum = np.concatenate(([0], np.cumsum(run_end - np.arange(1, n + 1))))
    for p0 in range(0, int(cum[-1]), tile):
        p = np.arange(p0, min(p0 + tile, int(cum[-1])))
        left = np.searchsorted(cum, p, side="right") - 1
        yield left, left + 1 + (p - cum[left])


def _cosine_verify(keys: list[str], dim: int, threshold: float,
                   n_tables: int | None):
    """``map_arrow`` body scoring every same-block pair of a partition
    sorted by (*keys, vec_id). Emits (vec_a, vec_b, raw cosine) for
    vec_a < vec_b and raw cosine >= threshold - 1e-6; the caller rounds
    and applies the exact threshold in Spark. The cosine is
    :func:`vector.cosines`, the arithmetic of every other cosine in the
    package. With ``n_tables`` the rows are LSH band rows and a pair is
    scored only in its FIRST colliding band (:func:`_first_collision`'s rule, as a mask over the
    carried bucket vectors). A block still open at a batch's end is
    carried into the next batch, so Arrow batch boundaries never split
    or drop pairs."""
    import numpy as np

    tile = _PAIR_TILE  # read on the driver: the kernel ships as a closure

    def arrays(b):
        cols = {k: b.column(k).to_numpy(zero_copy_only=False) for k in keys}
        cols["vec_id"] = b.column("vec_id").to_numpy()
        x = V._list_matrix(b.column("embedding"), dim).astype(np.float64)
        cols["nrm"] = V.row_norms(x)
        cols["x"] = x
        if n_tables is not None:
            cols["buckets"] = V._list_matrix(b.column("buckets"), n_tables)
        return cols

    def block_starts(cols):
        n = len(cols["vec_id"])
        new = np.zeros(n, dtype=bool)
        new[0] = True
        for k in keys:
            new[1:] |= cols[k][1:] != cols[k][:-1]
        return np.flatnonzero(new)

    def score(pieces):
        cols = (pieces[0] if len(pieces) == 1 else
                {k: np.concatenate([p[k] for p in pieces])
                 for k in pieces[0]})
        starts = block_starts(cols)
        lens = np.diff(np.append(starts, len(cols["vec_id"])))
        ids, x, nrm = cols["vec_id"], cols["x"], cols["nrm"]
        for left, right in _block_pairs(np.repeat(starts + lens, lens),
                                        tile):
            keep = ids[left] < ids[right]
            if n_tables is not None:
                bk = cols["buckets"]
                earlier = np.arange(n_tables) < cols["tbl"][left, None]
                keep &= ~((bk[left] == bk[right]) & earlier).any(axis=1)
            left, right = left[keep], right[keep]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = V.cosines(x[left], x[right], nrm[left], nrm[right])
            hit = cos >= threshold - 1e-6
            if hit.any():
                yield ids[left[hit]], ids[right[hit]], cos[hit]

    def gen(batches):
        pending = []  # pieces of the block still open at the last batch
        for b in batches:
            if not b.num_rows:
                continue
            cols = arrays(b)
            if pending and not all(pending[-1][k][-1] == cols[k][0]
                                   for k in keys):
                yield from score(pending)
                pending = []
            last = block_starts(cols)[-1]
            if last:
                yield from score(pending + [{k: v[:last]
                                             for k, v in cols.items()}])
                pending = []
            pending.append({k: v[last:] for k, v in cols.items()})
        if pending:
            yield from score(pending)

    return gen


def embedding_near_dup(embeddings: DataFrame, threshold: float = 0.5,
                       dim: int = 64, corpus_n: int | None = None,
                       block_col: str | None = None) -> DataFrame:
    """Vector near-dup pairs (round-6dp cosine >= threshold), blocked by
    random-hyperplane LSH buckets (vector.py's deterministic md5
    planes) instead of a data column: candidate volume tracks the true
    near-dup pair count plus an N²/2**n_planes-per-band noise term, not
    the quadratic within-block blowup a label/category block gives
    (measured 2.5x rows -> 4.6x wall, ~9 h extrapolated at 1 M vectors —
    the r6 SCALE.md finding this rewrite kills).

    RECALL REGIME: below 50 k vectors the 4-plane/16-table policy makes
    recall TOTAL at τ=0.5 on the fixtures (pinned by
    tests/test_pipeline.py::test_embedding_lsh_blocking_recall_total);
    at >=50 k vectors _lsh_params switches to log2(N) planes / 8 tables,
    which keeps the noise term ~N per band but concentrates recall on
    the high-similarity regime real dedup thresholds live in (cosine
    0.99 pairs: >=0.99 at 1 M; cosine ~0.5 pairs: effectively 0 — the
    inherent LSH trade; callers needing mid-similarity recall at scale
    use the exact ``block_col`` variant).

    SHAPE: one row per vector and band — (vec_id, buckets[n_tables],
    embedding, tbl, bucket) — is shuffled ONCE by (tbl, bucket), sorted
    by (tbl, bucket, vec_id) within partitions, and verified locally by
    one vectorized Arrow kernel (:func:`_cosine_verify`): every
    same-bucket pair, scored only in its first colliding band, exact
    cosine through the engine's balanced-tree arithmetic. Candidates
    are partitioned first and verified inside their partition, the
    REPOSE (ICDE 2021) layout. ``block_col`` keeps the exact
    within-column variant for oracle/exactness use: one block per
    value, same kernel, no first-collision rule.

    SCALE TRADE: the shuffle carries each embedding n_tables times
    (~n_tables·N·4·dim bytes). In exchange no stage joins two
    embeddings onto each candidate pair, as the skinny band self-join
    and its two re-fetch joins did; at scale candidate pairs number
    about n_tables·N or more (the noise term alone is ~N per band), so
    that fetch moved at least as many embedding copies.

    .. versionchanged:: r7
       Defaults changed semantics: ``threshold`` 0.9 -> 0.5 and
       ``block_col`` ``"label"`` -> ``None`` (hyperplane-LSH blocking
       instead of exact label blocks). Callers relying on the old exact
       label-blocked behavior must now pass ``block_col="label",
       threshold=0.9`` explicitly — with LSH blocking the emitted pair
       set is recall-total only in the regimes documented above."""
    if block_col is not None:
        keys, n_tables = ["block"], None
        rows = (embeddings.where(F.col(block_col).isNotNull())
                .select("vec_id", "embedding",
                        F.col(block_col).alias("block"))
                .repartition("block"))
    else:
        keys = ["tbl", "bucket"]
        n_planes, n_tables, corpus_n = _lsh_params(embeddings, corpus_n)
        # All n_tables band buckets in ONE Arrow-batched pass (the
        # shared bucket kernel, vector._lsh_bucket_vectors). Explicit-count
        # repartition: user-specified counts survive AQE coalescing, so
        # the verify runs at collision-volume-sized parallelism instead
        # of the scan's split count (guide §2.5; OPTIMIZATION_r12.md).
        rows = V._lsh_band_rows(
            V._lsh_bucket_vectors(embeddings, n_planes, n_tables, dim)
        ).repartition(
            _probe_partitions(embeddings, n_planes, n_tables, corpus_n),
            "tbl", "bucket")
    pairs = map_arrow(rows.sortWithinPartitions(*keys, "vec_id"),
                      "vec_a long, vec_b long, cosine double",
                      _cosine_verify(keys, dim, threshold, n_tables))
    return (
        pairs.select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def embedding_incremental_near_dup(batch: DataFrame, corpus: DataFrame,
                                   threshold: float = 0.5, dim: int = 64,
                                   corpus_n: int | None = None) -> DataFrame:
    """Ingest-time embedding dedup — incremental_near_dups' shape for the
    vector modality: every BATCH vector checked against the EXISTING
    corpus only, candidates blocked by the same hyperplane-LSH band
    buckets as embedding_near_dup (at rest the corpus side is
    precomputed and partitioned by (tbl, bucket), so a daily batch
    shuffles only its own bands and its collision volume — never the
    corpus). Output: one verdict row per batch vector
    (vec_id, n_dups, max_cosine, novel); every aggregate is computed
    over the EXACT-cosine-verified pairs >= threshold only, so the rows
    are blocking-independent wherever blocking recall is total (the
    fixture regime — pinned in tests) and the exhaustive batch×corpus
    SQL is a complete oracle."""
    n_planes, n_tables, corpus_n = _lsh_params(corpus, corpus_n)
    # First-collision emit instead of pair DISTINCT, the rule
    # embedding_near_dup's verify kernel applies: dedup is a
    # filter over the carried bucket vectors, never a candidate-volume-
    # sized exchange. The band rows stay embedding-free (at rest this
    # corpus side is a band index; carrying embeddings would multiply
    # it by n_tables).
    bb = V._lsh_band_rows(
        V._lsh_bucket_vectors(batch, n_planes, n_tables, dim)
        .drop("embedding")).alias("a")
    # Corpus side is the join's probe side (the batch side broadcasts):
    # same explicit-count repartition as embedding_near_dup so the
    # batch×corpus candidate expansion doesn't inherit the corpus
    # scan's 1-4 splits (guide §2.5). The corpus²-based estimate
    # overstates a batch probe's collision volume — the floor/cap
    # clamp keeps that harmless.
    bc = (V._lsh_band_rows(
        V._lsh_bucket_vectors(corpus, n_planes, n_tables, dim)
        .drop("embedding"))
        .repartition(
            _probe_partitions(corpus, n_planes, n_tables, corpus_n),
            "tbl", "bucket")
        .withColumnRenamed("vec_id", "corpus_id").alias("b"))
    cand = (bb.join(bc, ["tbl", "bucket"])
            .where(_first_collision("a", "b", n_tables))
            .select("vec_id", "corpus_id"))
    # Fetch embeddings by joining cand with the full (vec_id, embedding)
    # projections directly. An earlier form pre-pruned each side with a
    # semi-join on cand's distinct ids, which referenced the UNPERSISTED
    # cand subtree three times (hits + two id sets) and re-ran the whole
    # candidate join per reference (r7 review finding); cand is consumed
    # exactly once here.
    ec = corpus.select(F.col("vec_id").alias("corpus_id"),
                       F.col("embedding").alias("c_embedding"))
    pairs = (cand.join(batch.select("vec_id", "embedding"), "vec_id")
             .join(ec, "corpus_id"))
    hits = (V.cosine(pairs, "embedding", "c_embedding", dim)
            .select("vec_id", F.round("cosine", 6).alias("cosine"))
            .where(F.col("cosine") >= threshold)
            .groupBy("vec_id")
            .agg(F.count("*").alias("n_dups"),
                 F.max("cosine").alias("max_cosine")))
    # LEFT from the batch side: a vector with zero collisions must emit
    # a novel row, not silently vanish (the ann_recall lesson).
    return (batch.select("vec_id").join(hits, "vec_id", "left")
            .select("vec_id",
                    F.coalesce("n_dups", F.lit(0)).alias("n_dups"),
                    "max_cosine",
                    (F.coalesce("n_dups", F.lit(0)) == 0).alias("novel")))
