"""LLM-pipeline + UDF/UDTF query keys (SURVEY.md §2 B10, B11).

Every key is value-checked, including the engine-specific ones
(xxhash64 families, hyperplane buckets, learned profiles), each by the
honest route available: minhash rides the exact inverted-index SQL (its
LSH recall is verified total on the fixtures), text_langid's n-gram
classifier is recomputed from scratch in DuckDB (pure relational
algebra), simhash and the ANN recall keys pin their deterministic
measured outputs per corpus fingerprint, and every such key's SEMANTICS
are additionally pinned by tests/test_pipeline.py against brute-force
references.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from database_syncer_spark.catalog import fixture_cache, load_table, sf_dir_tag
from database_syncer_spark.pipeline import dedup as D
from database_syncer_spark.pipeline import multimodal as M
from database_syncer_spark.pipeline import similarity as S
from database_syncer_spark.pipeline import text as T

def _jaccard_day_block(k: int, shingled_batch: str,
                       shingled_corpus: str) -> str:
    """The ONE copy of the rolling-ingest day-verdict SQL (shared by
    this module's dedup_incremental_rolling oracle and streaming's
    _sroll_sql): given shingled CTEs (doc_id, sh), emits the CTE chain
    u{k}/uc{k}/i{k}/ver{k}/agg{k}/v{k} computing one exact-Jaccard
    verdict row per batch doc against the corpus — unnest-join
    intersection count, round-before-threshold at 0.5, LEFT join so
    zero-collision docs surface as novel (the same shape as the
    dedup_incremental oracle). A change to the verify formula edits
    exactly one place."""
    return f"""
u{k} AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s
         FROM {shingled_batch}),
uc{k} AS (SELECT doc_id AS cid, len(sh) AS n_sh_c, unnest(sh) AS s
          FROM {shingled_corpus}),
i{k} AS (SELECT b.doc_id, c.cid, b.n_sh AS na, c.n_sh_c AS nb, count(*) AS c
         FROM u{k} b JOIN uc{k} c USING (s) GROUP BY 1, 2, 3, 4),
ver{k} AS (SELECT doc_id, round(CAST(c AS DOUBLE) / (na + nb - c), 6) AS j
           FROM i{k}
           WHERE round(CAST(c AS DOUBLE) / (na + nb - c), 6) >= 0.5),
agg{k} AS (SELECT doc_id, count(*) AS n_dups, max(j) AS max_jaccard
           FROM ver{k} GROUP BY doc_id),
v{k} AS (SELECT b.doc_id, coalesce(agg{k}.n_dups, 0) AS n_dups,
                agg{k}.max_jaccard,
                coalesce(agg{k}.n_dups, 0) = 0 AS novel
         FROM {shingled_batch} b LEFT JOIN agg{k} USING (doc_id))"""


_STOP_SQL = "['" + "','".join(T.STOPWORDS) + "']"
_SHINGLE_SQL = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(string_split(text,' '))-2, 1)),"
    " i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))"
)


# --- dedup -------------------------------------------------------------------

def dedup_exact(spark, sf_dir):
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


def dedup_minhash_lsh(spark, sf_dir):
    return D.minhash_lsh_dedup(load_table(spark, sf_dir, "documents"))


def dedup_simhash(spark, sf_dir):
    return D.simhash_dedup(load_table(spark, sf_dir, "documents"))


#: deterministic ingest-batch slice for the incremental-dedup key (~6%)
_BATCH_MOD, _BATCH_REM = 16, 5


def dedup_incremental(spark, sf_dir):
    """Ingest-time dedup (pipeline/dedup.py:incremental_near_dups): the
    doc_id % 16 == 5 slice plays the daily batch, the rest the existing
    corpus; one verdict row per batch doc (n_dups / max_jaccard /
    novel). No corpus self-join anywhere in the plan."""
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % _BATCH_MOD == _BATCH_REM
    return D.incremental_near_dups(docs.where(is_batch),
                                   docs.where(~is_batch))


def dedup_incremental_indexed(spark, sf_dir):
    """Ingest-time dedup against the AT-REST index — the steady-state
    deployment shape (pipeline/dedup.py:build_corpus_band_index /
    build_corpus_digest_index): the corpus's MinHash band keys are
    persisted ONCE as a parquet table bucketed by (band_id, band_hash),
    and the batch probes that stored layout instead of re-shingling the
    corpus per call. Same verdict contract (and by construction the
    same values) as dedup_incremental — the driver hash certifies the
    indexed path ≡ the inline path every round, so an index-build or
    bucket-pruning regression can't hide behind the unit test. Ingest
    cost scales with the batch + its collision volume, never the corpus
    (measured: SCALE.md's at-rest-index A/B)."""
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % _BATCH_MOD == _BATCH_REM
    corpus = docs.where(~is_batch)
    table = f"dss_atrest_bands_{sf_dir_tag(sf_dir)}"
    # the index is ONE-TIME by contract: reuse it within the session
    # (the fixture corpus for a given sf_dir is immutable), so repeated
    # invocations — bench warmups/reps included — measure the steady
    # state the key exists to certify, not build+probe every call
    if spark.catalog.tableExists(table):
        bands = spark.table(table)
    else:
        bands = D.build_corpus_band_index(corpus, table)
    return D.incremental_near_dups(docs.where(is_batch), corpus,
                                   corpus_bands=bands)


#: rolling-ingest fixture params: day-2 slice and the planted-derivative
#: id offset (both mirrored verbatim by the oracle SQL)
_DAY2_REM, _PLANT_OFFSET = 9, 10_000_000


def dedup_incremental_rolling(spark, sf_dir):
    """TWO-DAY rolling ingest against the at-rest band index — the
    admit-and-grow loop build_corpus_band_index's append-only contract
    promises (pipeline/dedup.py:append_band_index), closed end to end
    under one driver hash:

      day 1: the doc_id % 16 == 5 slice probes the corpus index; its
             NOVEL docs are admitted and ONLY their band keys are
             appended into the same bucketed layout (O(batch), never a
             corpus recompute);
      day 2: the doc_id % 16 == 9 slice PLUS planted derivatives of
             every day-1 doc (id + 10M, text + ' rolling probe')
             probes the GROWN index — the planted docs are near-dups
             of their day-1 sources, so day 2 can only report them as
             dups if the append actually landed and the bucket-pruned
             probe actually reads it.

    Output: (day, doc_id, n_dups, max_jaccard, novel) for both days.
    The oracle replays both days relationally (day-1 verdicts vs the
    base corpus, day-2 verdicts vs base + day-1 admissions), so a
    regression in the append path, the refresh, or the bucket layout
    breaks the hash. Index tables and the per-tag workdir are rebuilt
    per call (build is the one-time cost the steady state amortizes;
    rebuilding keeps the key idempotent across driver reps, and the
    fixed workdir name means repeated bench/driver calls reclaim the
    previous call's space instead of accumulating — a prior call's
    returned DataFrame is invalidated, matching every staged key's
    one-live-result contract). Day-1 verdicts are MATERIALIZED to
    parquet BEFORE the append mutates the band table: the returned v1
    branch and the admitted set both read that snapshot, so nothing
    re-executes the day-1 probe against the grown table (which would
    be value-correct only by the verify join's grace) and the probe
    runs exactly once."""
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rem = F.col("doc_id") % _BATCH_MOD
    day1 = docs.where(rem == _BATCH_REM)
    corpus0 = docs.where(~rem.isin(_BATCH_REM, _DAY2_REM))
    planted = day1.select(
        (F.col("doc_id") + _PLANT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" rolling probe")).alias("text"))
    day2 = docs.where(rem == _DAY2_REM).unionByName(planted)

    tag = sf_dir_tag(sf_dir)
    work = os.path.join(tempfile.gettempdir(), f"dss_rolling_work_{tag}")
    shutil.rmtree(work, ignore_errors=True)
    table = f"dss_rolling_bands_{tag}"
    bands0 = D.build_corpus_band_index(corpus0, table)
    (D.incremental_near_dups(day1, corpus0, corpus_bands=bands0)
     .write.mode("overwrite").parquet(os.path.join(work, "v1")))
    v1 = spark.read.parquet(os.path.join(work, "v1"))
    admitted = day1.join(v1.where(F.col("novel")).select("doc_id"),
                         "doc_id", "left_semi")
    bands1 = D.append_band_index(admitted, table)
    corpus1 = corpus0.unionByName(admitted)
    v2 = D.incremental_near_dups(day2, corpus1, corpus_bands=bands1)
    return (v1.select(F.lit(1).alias("day"), "doc_id", "n_dups",
                      "max_jaccard", "novel")
            .unionByName(
                v2.select(F.lit(2).alias("day"), "doc_id", "n_dups",
                          "max_jaccard", "novel")))


def dedup_ngram_jaccard(spark, sf_dir):
    return D.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


def dedup_ngram_containment(spark, sf_dir):
    return D.ngram_containment_pairs(load_table(spark, sf_dir, "documents"))


def dedup_cluster_components(spark, sf_dir):
    """Near-dup pairs -> connected components (the keep/drop clustering
    step). r8: edges come from the banded MinHash-LSH generator at
    τ=0.5 — the 100-TB default every end-to-end artifact already rides
    (the exact inverted index it previously rode ENOSPC-fails past
    ~1-2.5 M docs on one box, SCALE.md r7 probe; LSH measured
    53.6 s/2.5 M docs for the same verified edges). The oracle stays the
    exact recursive-CTE SQL over the τ=0.5 inverted-index pairs: LSH
    recall is verified total at that threshold on the fixtures
    (dedup_minhash_lsh's own honesty argument, independently confirmed
    by tests/ann_reference.py). The exactness variant remains one
    substitution away for oracle work:
    connected_components(ngram_jaccard_pairs(docs))."""
    docs = load_table(spark, sf_dir, "documents")
    return D.connected_components(D.minhash_lsh_dedup(docs))


def dedup_corpus_keep(spark, sf_dir):
    """END-TO-END corpus dedup decision — the artifact a training-data
    pipeline actually consumes: documents in, retained doc_ids out.

    Stage 1 removes exact duplicates (sha2 groupBy, min-id survivor);
    stage 2 clusters the survivors' near-dup pairs and keeps one doc
    per cluster (the min id, matching the component label). The pair
    generator is the banded MinHash-LSH join at τ=0.5 — the 100-TB
    default (r7: the exact inverted index it previously rode measured
    585 s vs LSH's 30 s for the same verified edges at the 200×/1 M-doc
    probe; dedup_soft_keep proved the composition a round earlier). The
    oracle stays the exact recursive-CTE SQL because LSH recall is
    verified total at τ=0.5 on the fixtures — dedup_minhash_lsh's own
    honesty argument, independently confirmed by the Spark-free mirror
    (tests/ann_reference.py). The exactness option remains one
    substitution away: connected_components(ngram_jaccard_pairs(s))."""
    docs = load_table(spark, sf_dir, "documents")
    # keep_exact (the sha2 groupBy over the whole corpus) feeds BOTH the
    # survivors semi-join and the final anti-join; unmaterialized it
    # executes twice (43.1 s/pass at 10 M docs). Eager localCheckpoint:
    # node-sized, freed with the result, no cache left behind (r8).
    keep_exact = (D.exact_dedup(docs)
                  .select(F.col("keep_id").alias("doc_id"))
                  .localCheckpoint(eager=True))
    survivors = docs.join(keep_exact, "doc_id", "left_semi")
    comp = D.connected_components(D.minhash_lsh_dedup(survivors))
    dropped = comp.where(F.col("component") != F.col("doc_id")).select("doc_id")
    return keep_exact.join(dropped, "doc_id", "left_anti")


def dedup_embedding_incremental(spark, sf_dir):
    """Ingest-time embedding near-dup (r7 stretch): the vec_id % 16 == 5
    slice plays the daily batch, the rest the existing corpus — the
    vector-modality analog of dedup_incremental, riding the same
    bucketed blocks as dedup_embedding_cosine. Exhaustive batch×corpus
    oracle; complete because the fixture-regime blocking's recall at
    τ=0.5 is verified total (tests/test_pipeline.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim, n = _emb_dim_n(sf_dir, emb)
    is_batch = F.col("vec_id") % _BATCH_MOD == _BATCH_REM
    # corpus_n must be the CORPUS-slice count, not the full-table n: the
    # batch slice is ~1/16 of the table, and near the 50 k _lsh_params
    # boundary the extra 1/16 could flip the blocking into the scale
    # regime while the actual corpus is still in the total-recall
    # fixture regime (r7 advice). Derived (one count(), not recounted)
    # as a deliberate UNDERestimate — the exact slice count depends on
    # the id distribution and can exceed n//16 by one, and the safe
    # boundary error is the one that keeps the total-recall regime: a
    # 50,001-vector corpus blocked with fixture params is merely slower,
    # the reverse flip breaks the exhaustive oracle's completeness.
    return D.embedding_incremental_near_dup(
        emb.where(is_batch), emb.where(~is_batch),
        threshold=0.5, dim=dim,
        corpus_n=max(1, n - n // _BATCH_MOD - 1))


#: corpus_curate stage parameters: quality floor (6-dp-rounded score,
#: boundary-safe in both engines) and the deterministic PII-planting
#: slice (the fixtures carry no organic PII — without planting, the
#: scrub stage would be identity and unverified under the driver hash)
_CURATE_QUALITY_MIN = 0.35
_PII_MOD, _PII_REM = 20, 3


def corpus_curate(spark, sf_dir):
    """END-TO-END curation — the composed pipeline a training-data user
    actually runs, under ONE driver hash: quality filter -> PII scrub ->
    doc-level corpus dedup -> span-level (paragraph) dedup -> greedy
    packing. Every stage is an already-verified operator
    (text_quality_score, text_pii_scrub, dedup_corpus_keep,
    dedup_paragraph, text_pack_greedy); this key pins their
    COMPOSITION — ordering, column threading, and the packing's
    sensitivity to exactly which docs (and which spans) survive.

    Stage-ordering decisions the hash canonicalizes (r9, VERDICT r8
    stretch item): score raw text; scrub BEFORE dedup so
    redaction-equal docs collapse; doc-level dedup (exact sha2 +
    banded LSH) BEFORE span-level dedup — the RefinedWeb ordering —
    because (1) span frequencies are then computed over the deduped
    corpus, so they measure cross-document boilerplate rather than
    duplicate-document multiplicity, (2) span-scrubbing first would
    rewrite texts before the sha2/minhash stages and hand the
    doc-merge decision to the wrong operator, and (3) the corpus-sized
    span explode runs over survivors only. Docs whose text is empty
    after span dedup (late exact-duplicates whose every span repeats)
    are dropped before packing; packing token counts are over the
    CLEANED text.

    Docs with doc_id % 20 == 3 get a deterministic planted email
    appended first (the fixtures have no organic PII); the scrub turns
    those suffixes into identical '<EMAIL>' spans before dedup runs.
    Output: one row per packed doc (doc_id, shard, bin_id, n_tokens,
    quality_score, had_pii). Scale shape: each stage keeps its own
    audited plan (exact sha2 groupBy, banded LSH pairs, one-shuffle
    span freq + keep-first agg, sharded applyInPandas packing); the
    curated corpus is ~linearly smaller at every stage boundary, never
    wider."""
    return _curate_pipeline(load_table(spark, sf_dir, "documents"))


def _curate_pipeline(docs):
    """The corpus_curate stage chain over an arbitrary (doc_id, text)
    frame — shared verbatim by corpus_curate (raw fixture text) and
    corpus_curate_web (crawl markup through html_strip first), so both
    keys pin the same composition behind different front doors."""
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % _PII_MOD == _PII_REM,
               F.concat(F.col("text"), F.lit(" contact agent"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com now")))
        .otherwise(F.col("text")).alias("text"))
    # quality filter WITHOUT the join-back: score in the same projection
    # that carries text (r12; was score-a-skinny-frame + join on doc_id
    # — one Exchange + join removed from all three curate front doors)
    filtered = (T.quality_score(planted, carry=("text",))
                .where(F.col("quality_score") >= _CURATE_QUALITY_MIN)
                .select("doc_id", "text", "quality_score"))
    # had_pii = "the scrub changed the text": the replacement tokens
    # cannot themselves match either pattern, so inequality ⇔ ≥1 match —
    # exactly the old regexp_count(email)+regexp_count(phone) > 0 flag,
    # minus two full regex passes per doc (r12 A/B: 0.30 s -> 0.18 s at
    # sf0.1, values equal; codegen subexpression elimination shares the
    # replace chain between the flag and the text column).
    _scr = F.regexp_replace(
        F.regexp_replace("text", T.EMAIL_PATTERN, "<EMAIL>"),
        T.PHONE_PATTERN, "<PHONE>")
    scrubbed = filtered.select(
        "doc_id", "quality_score",
        (_scr != F.col("text")).alias("had_pii"),
        _scr.alias("text"))
    # scrubbed is consumed by FIVE downstream references (exact dedup,
    # LSH survivors, the curated semi-join, pack input, final join) and
    # its chain carries two corpus-wide regex replaces — unpersisted it
    # re-executes per reference (r8 A/B at 2.5 M docs: 16.6 s -> ~4 s
    # on the lazy portion, identical rows). Persisted while the stages
    # run, then released below once `curated` is checkpointed — the
    # cache must not outlive the call (a registry sweep runs many keys
    # per session; the connected_components lesson about unpersist
    # cascading is dodged by truncating lineage first).
    from pyspark import StorageLevel

    scrubbed = scrubbed.persist(StorageLevel.MEMORY_AND_DISK)
    # same double-execution shape dedup_corpus_keep fixed: keep_exact's
    # corpus-wide sha2 groupBy feeds two consumers — checkpoint it
    # (node-sized) so the aggregation runs once (r8 review finding)
    keep_exact = (D.exact_dedup(scrubbed)
                  .select(F.col("keep_id").alias("doc_id"))
                  .localCheckpoint(eager=True))
    survivors = scrubbed.join(keep_exact, "doc_id", "left_semi")
    comp = D.connected_components(D.minhash_lsh_dedup(survivors))
    dropped = comp.where(
        F.col("component") != F.col("doc_id")).select("doc_id")
    kept = keep_exact.join(dropped, "doc_id", "left_anti")
    # Eagerly checkpoint the curated survivors (node-sized), after which
    # the corpus-sized scrubbed cache can be dropped safely: both
    # remaining consumers (pack input, final join) descend from the
    # checkpoint, not from scrubbed, so the unpersist cannot cascade
    # into the returned plan. The checkpointed RDD itself is freed by
    # the ContextCleaner once the caller drops the result.
    curated = (scrubbed.join(kept, "doc_id", "left_semi")
               .localCheckpoint(eager=True))
    scrubbed.unpersist()
    # span-level dedup over the doc-level survivors (single consumer:
    # it streams straight into packing; the per-doc removal stats are
    # the standalone dedup_paragraph key's surface, not this manifest's)
    para = D.paragraph_dedup(curated.select("doc_id", "text"))
    cleaned = (para.where(F.col("clean_text") != "")
               .select("doc_id", F.col("clean_text").alias("text")))
    packed = T.pack_greedy(cleaned)
    return (packed
            .join(curated.select("doc_id", "quality_score", "had_pii"),
                  "doc_id")
            .select("doc_id", "shard", "bin_id", "n_tokens",
                    "quality_score", "had_pii"))


def corpus_curate_incremental(spark, sf_dir):
    """INGEST-TIME curation (VERDICT r9 item 5): the O(batch) answer to
    corpus_curate's O(corpus)-every-run cost. A daily batch (the
    doc_id % 16 == 5 slice, same split as dedup_incremental) is
    quality-scored and PII-scrubbed, then admitted only if NOVEL
    against the existing CURATED corpus (the quality-passing rest,
    scrubbed identically — in production that corpus sits at rest with
    its sha2 digests and MinHash band buckets PRECOMPUTED; computing
    them here is the one-time index build the steady state amortizes):

    - ``novel_exact``: the batch doc's scrubbed sha2 matches no corpus
      digest (the cheap stored-index probe — exchanges carry 64-byte
      digests, never text);
    - ``novel_near``: no banded-LSH near-dup at jaccard ≥ 0.5
      (pipeline/dedup.py:incremental_near_dups — batch×corpus band
      join, cost scales with the batch and its collision volume, never
      the corpus self-pair set).

    Novelty is only computed for quality-passing batch docs (the
    filter runs BEFORE the expensive stages, so a garbage batch costs
    its scan only); fails short-circuit every gate to FALSE — the
    flags are admission gates, not survey answers, so they stay
    NON-NULL booleans (a NULL boolean also hashes differently across
    the two engines' pandas bridges). Output: one verdict row per
    batch doc — (doc_id, quality_score, had_pii, passed_quality,
    novel_exact, novel_near, admitted). Composes the two verified
    incremental dedup verdicts with corpus_curate's exact scoring and
    scrub stages (shared oracle CTEs pin the equivalence)."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % _PII_MOD == _PII_REM,
               F.concat(F.col("text"), F.lit(" contact agent"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com now")))
        .otherwise(F.col("text")).alias("text"))
    # same join-back removal and inequality had_pii flag as
    # _curate_pipeline (r12): score and text live in one projection,
    # and the flag reuses the replace chain instead of two extra
    # regexp_count passes
    _scr = F.regexp_replace(
        F.regexp_replace("text", T.EMAIL_PATTERN, "<EMAIL>"),
        T.PHONE_PATTERN, "<PHONE>")
    scrubbed = (T.quality_score(planted, carry=("text",)).select(
        "doc_id", "quality_score",
        (_scr != F.col("text")).alias("had_pii"),
        _scr.alias("text")))
    from pyspark import StorageLevel

    is_batch = F.col("doc_id") % _BATCH_MOD == _BATCH_REM
    passed = F.col("quality_score") >= _CURATE_QUALITY_MIN
    # scrubbed carries the corpus-wide score join + two regex replaces
    # and feeds FIVE consumers (batch verdict, corpus digests, corpus
    # bands, corpus shingle fetch, batch digests/bands) — unpersisted it
    # re-executes per consumer, the exact r8 corpus_curate lesson
    # (measured here: 775.8 s -> see SCALE.md for the fixed number at
    # 2.5 M docs). Persist while the batch-sized verdict pieces
    # materialize, eagerly checkpoint those (each ≤ batch rows), then
    # release the corpus-sized cache before returning — nothing cached
    # outlives the call and the returned plan descends only from the
    # checkpoints.
    scrubbed = scrubbed.persist(StorageLevel.MEMORY_AND_DISK)
    batch = scrubbed.where(is_batch)
    corpus = scrubbed.where(~is_batch).where(passed)
    bq = batch.where(passed)
    base = (batch.select("doc_id", "quality_score", "had_pii")
            .localCheckpoint(eager=True))
    # exact novelty: digest semi-join against the corpus digest index
    dup_exact = (bq.select("doc_id", F.sha2("text", 256).alias("digest"))
                 .join(corpus.select(F.sha2("text", 256).alias("digest")),
                       "digest", "left_semi")
                 .select("doc_id", F.lit(True).alias("__dup"))
                 .localCheckpoint(eager=True))
    near = (D.incremental_near_dups(bq.select("doc_id", "text"),
                                    corpus.select("doc_id", "text"))
            .select("doc_id", "novel").localCheckpoint(eager=True))
    scrubbed.unpersist()
    passed_b = F.coalesce(passed, F.lit(False))
    novel_exact = passed_b & F.col("__dup").isNull()
    novel_near = passed_b & F.coalesce(F.col("novel"), F.lit(False))
    return (base
            .join(dup_exact, "doc_id", "left")
            .join(near, "doc_id", "left")
            .select("doc_id", "quality_score", "had_pii",
                    passed_b.alias("passed_quality"),
                    novel_exact.alias("novel_exact"),
                    novel_near.alias("novel_near"),
                    (novel_exact & novel_near).alias("admitted")))


def corpus_curate_web(spark, sf_dir):
    """The web-crawl front door to the SAME curation pipeline: every
    document arrives as full-page markup (entity-escaped text in <p>
    blocks behind script/style/comment noise, built in-plan with a
    CONSTANT header — a per-doc header would make every digest unique
    and silently neuter the exact-dedup stage), html_strip recovers the
    prose, and the recovered text runs the verbatim corpus_curate chain
    (_curate_pipeline): quality -> PII scrub -> exact + near dedup ->
    span dedup -> packing. One driver hash over strip ∘ curate — the
    end-to-end shape a crawl-to-training-data deployment runs, and a
    drift in either half breaks it. Oracle: the corpus_curate oracle
    re-sourced from the arithmetically reconstructed post-strip text."""
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><title></title>'
              '<script type="text/javascript">var x = 1 < 2;</script>'
              '<style>p { color: #fff; }</style></head><body>'
              '<h1>Doc &amp; &lt;corpus&gt;</h1><!-- boilerplate\n nav --><p>'),
        F.regexp_replace(T.html_escape_text("text"), " ", "</p>\n<p>"),
        F.lit("</p></body></html>"))
    stripped = T.html_strip(docs.select("doc_id", html.alias("html")))
    return _curate_pipeline(
        stripped.select("doc_id", F.col("clean_text").alias("text")))


def sample_token_budget(spark, sf_dir):
    """Token-budget corpus selection — the data-mixing step after
    scoring: keep the highest-quality documents, in (quality_score
    DESC, doc_id) order, while the cumulative token count stays within
    a budget (here total_tokens DIV 20, ~5%). Output one row per
    selected doc with its exact global running total (cum_tokens), so
    the driver hash pins the ORDERING, not just membership.

    The naive formulation is a global running-sum window — one
    Exchange SinglePartition and a full-corpus sort through a single
    task, the textbook 100-TB scale-killer. This plan is a THREE-level
    prefix sum instead: (1) per-score token sums (≤1e6+1 distinct
    6-dp scores, a bounded model-state-sized table) aggregate
    map-side and land on the driver, which computes each score group's
    starting offset and the boundary score; (2) only docs at scores
    ≥ the boundary survive the scan filter (~budget-sized, here ~5%
    of the corpus), each assigned a doc_id-contiguous sub-bucket
    (doc_id DIV W, W sized so the global id range splits into
    _BUDGET_BUCKETS ranges); per-(score, bucket) sums get an
    exclusive-prefix offset via a window over the ≤_BUDGET_BUCKETS
    rows of each score (tiny partitions by construction); (3) the
    running sum is a window partitioned by (score, bucket) plus the
    two offsets. Level 3 exists because level 2 alone is
    distribution-conditional (r8 verdict): a heavily discretized score
    (integer classifier buckets, worst case one distinct score)
    re-concentrates the per-score window into few partitions —
    sub-buckets keep partitions bounded REGARDLESS of the score
    distribution (probed: 11-level 1 M-doc corpus, SCALE.md). Exact
    same rows/values as the global window — buckets are contiguous
    doc_id ranges within a score, so bucket-prefix + score-prefix +
    within-bucket running sum telescopes to the global running sum.
    No global sort anywhere (plan-guarded); the (score, bucket)
    machinery shuffles only the boundary-eligible slice, and its
    aggregate/join/window share one clustering."""
    docs = load_table(spark, sf_dir, "documents")
    d = T.quality_score(docs).select("doc_id", "quality_score",
                                     F.col("n_tokens").cast("long")
                                     .alias("n_tokens"))
    return _token_budget_select(spark, d)


#: the token budget is total_tokens DIV _BUDGET_DIV (~5%)
_BUDGET_DIV = 20

#: sub-bucket count for sample_token_budget's level-3 split: the worst
#: case (ONE distinct score) still yields this many window partitions
_BUDGET_BUCKETS = 1024

#: hard cap on the level-1 driver collect (distinct scores). The score
#: contract is 6-dp-rounded in [0, 1] (≤ 1,000,001 distinct values —
#: model-state-sized by construction), but nothing else enforces it: a
#: continuous score column would silently collect corpus-cardinality
#: rows to the driver (r9 verdict, "what's wrong" #2). The limit bounds
#: driver residency to cap+1 rows even on a violating input, and the
#: overflow fails LOUD with the fix (coarser rounding) in the message.
_BUDGET_SCORE_CARDINALITY_CAP = 1_100_000


def _token_budget_select(spark, d):
    """Three-level prefix-sum token-budget selection over ``d``
    (doc_id, quality_score, n_tokens) — see sample_token_budget.
    NULL scores (NULL-text docs) are excluded up front: they sort last
    in the (score DESC, doc_id) order and can never beat the boundary,
    and the driver-side sort must not compare None (r8 advice)."""
    d = d.where(F.col("quality_score").isNotNull())
    # limit(cap+1): the collect itself is the cardinality probe — one
    # job, driver residency bounded by the cap whatever the input does.
    # When the result fits the cap the limited collect IS the complete
    # per-score table (limit only truncates past cap+1 rows).
    cap = _BUDGET_SCORE_CARDINALITY_CAP
    rows = (d.groupBy("quality_score")
            .agg(F.sum("n_tokens").alias("toks"),
                 F.max("doc_id").alias("max_id"))
            .limit(cap + 1).collect())
    if len(rows) > cap:
        raise ValueError(
            f"sample_token_budget: > {cap:,} distinct quality_score "
            "values — the score column violates the 6-dp-rounded [0, 1] "
            "contract this driver-side prefix table depends on. Round "
            "the score (e.g. F.round(score, 6)) before selection.")
    levels = sorted(rows, key=lambda r: -r.quality_score)
    total = sum(r.toks for r in levels)
    budget = total // _BUDGET_DIV
    offsets, cum = [], 0
    for r in levels:  # offset = tokens strictly above this score
        if cum > budget:
            break   # no doc at this score can be selected
        offsets.append((r.quality_score, cum))
        cum += r.toks
    max_id = max((r.max_id for r in levels), default=0)
    width = max(1, max_id // _BUDGET_BUCKETS + 1)
    off = spark.createDataFrame(offsets, "quality_score double, off long")
    elig = (d.join(F.broadcast(off), "quality_score")
            .withColumn("bkt", F.expr(f"doc_id DIV {int(width)}L")))
    wb = (W.partitionBy("quality_score").orderBy("bkt")
          .rowsBetween(W.unboundedPreceding, -1))
    boff = (elig.groupBy("quality_score", "bkt")
            .agg(F.sum("n_tokens").alias("btoks"))
            .withColumn("boff", F.coalesce(F.sum("btoks").over(wb),
                                           F.lit(0).cast("long")))
            .select("quality_score", "bkt", "boff"))
    w = (W.partitionBy("quality_score", "bkt").orderBy("doc_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (elig.join(boff, ["quality_score", "bkt"])
            .withColumn("cum_tokens",
                        F.sum("n_tokens").over(w) + F.col("off")
                        + F.col("boff"))
            .where(F.col("cum_tokens") <= F.lit(budget))
            .select("doc_id", "quality_score", "n_tokens", "cum_tokens"))


#: corpus_version_diff's deterministic v0→v1 release edit slices
_VDIFF_MOD, _VDIFF_DROP, _VDIFF_EDIT = 17, 2, 5
_VDIFF_ADD_MOD, _VDIFF_ADD_REM = 23, 1


def corpus_version_diff(spark, sf_dir):
    """Dataset-release CDC — "what changed between corpus v1 and v0",
    the question every curated-dataset version bump asks. Composes the
    verified snapshot-diff core (core/diff.py, the engine the dump-sync
    keys ride) over two corpus versions keyed by doc_id, comparing a
    TEXT HASH instead of raw text: v1 is derived deterministically from
    the documents fixture (doc_id % 17 == 2 dropped, % 17 == 5 edited
    with a rev-2 suffix, % 23 == 1 re-keyed negative as new docs — the
    derive_backup trick, core/snapshots.py:26), and each side is
    projected to (doc_id, digest, lang, n_chars) BEFORE the diff, so
    the full-outer join shuffles 64-byte digests, never document
    bodies. Output: one row per changed doc with change_type
    INSERT/UPDATE/DELETE and the post-image (pre-image for DELETE),
    reference DELETE/post-image semantics included (sync.py:199-215).
    At 100 TB: hash projection at the scan, one PK-partitioned
    full-outer join — the same shape diff_cdc_fullouter proved at
    60 M rows/side."""
    from database_syncer_spark.core.diff import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    mod = F.col("doc_id") % _VDIFF_MOD
    edited = docs.where(mod != _VDIFF_DROP).select(
        "doc_id",
        F.when(mod == _VDIFF_EDIT,
               F.concat(F.col("text"), F.lit(" (rev 2)")))
        .otherwise(F.col("text")).alias("text"),
        "lang")
    added = (docs.where((F.col("doc_id") % _VDIFF_ADD_MOD == _VDIFF_ADD_REM)
                        & (F.col("doc_id") > 0))
             .select((-F.col("doc_id")).alias("doc_id"),
                     F.concat(F.col("text"),
                              F.lit(" (new in v1)")).alias("text"),
                     "lang"))
    v1 = edited.unionByName(added)

    def hashed(df):
        return df.select("doc_id", F.sha2(F.col("text"), 256).alias("digest"),
                         "lang",
                         F.length("text").cast("long").alias("n_chars"))

    # compare on all three projected value columns: digest-equality
    # implies text-equality implies n_chars-equality and lang is never
    # edited, so classification is exactly the digest compare while the
    # output keeps the (digest, lang, n_chars) images the release notes
    # want.
    return snapshot_diff(hashed(v1),
                         hashed(docs.select("doc_id", "text", "lang")),
                         pk_cols=["doc_id"])


#: sample_reshard_seeded parameters: seeded engine-exact Knuth hash
#: (mod-first, overflow-proof — see sample_hash_threshold) over doc_id
_RESHARD_SEED = 77
_RESHARD_M = 1_000_003
_RESHARD_SHARDS = 64


def sample_reshard_seeded(spark, sf_dir):
    """Reproducible training-order reshard — the deterministic global
    (shard, position) assignment a training run replays: shard =
    knuth(seed + doc_id) % S, within-shard order by (hash, doc_id).
    Seeded and engine-exact (the mod-first multiplicative hash both
    engines compute in exact bigint arithmetic — unlike rand(), whose
    stream is engine- and partitioning-specific), so re-running the
    job, changing cluster size, or porting engines yields the SAME
    training order. Zero global sorts: positions come from per-shard
    row_number windows on the shard hash-partitioning — ONE exchange,
    S-way parallel (plan-guarded). S = _RESHARD_SHARDS is fixture-sized here;
    a production reshard sets S so a shard is one task's worth, which
    is exactly how the parallelism scales to 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.pmod(F.pmod(F.col("doc_id") + _RESHARD_SEED, F.lit(_RESHARD_M))
               * F.lit(2654435761), F.lit(_RESHARD_M))
    w = (W.partitionBy("shard").orderBy("h", "doc_id"))
    return (docs.select("doc_id", h.alias("h"))
            .withColumn("shard", F.pmod(F.col("h"), F.lit(_RESHARD_SHARDS))
                        .cast("int"))
            .withColumn("pos", F.row_number().over(w).cast("long"))
            .select("doc_id", "shard", "pos"))


def sample_mix_epochs(spark, sf_dir):
    """Deterministic UPSAMPLING with repetition — the half of training-
    data mixing `sample_temperature_mix` cannot express: when a domain's
    target share exceeds its size, the mix repeats it (epochs), it
    doesn't subsample. Targets here balance every language to the
    largest one's token mass (the standard "equalize domains" mix):
    repeat ratio r = target_tokens / domain_tokens ≥ 1, materialized as
    floor(r) whole epochs per doc plus one extra epoch for the
    deterministic hash-selected frac(r) of docs — so each domain's
    EXPECTED emitted tokens hit the target exactly while every emitted
    row is reproducible across runs, partitionings, and engines
    (same mod-first Knuth hash discipline as sample_hash_threshold;
    ratio in ppm via DECIMAL(38) integer division, no float anywhere).
    Output one row per (doc, epoch) — what a sequence-packing stage
    consumes.

    At 100 TB: the stats side is domain-cardinality-sized (KBs),
    broadcast back onto the corpus; the corpus streams through one
    broadcast join + a map-side sequence/explode — zero corpus
    shuffles, output linear in the POST-mix size (bounded by
    n_domains × the largest domain)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"))
    stats = d.groupBy("lang").agg(F.sum("n_tokens").alias("toks"))
    target = stats.agg(F.max("toks").alias("target"))
    r = (stats.crossJoin(F.broadcast(target))
         .withColumn("r_ppm", F.expr(
             "CAST((CAST(1000000 AS DECIMAL(38,0)) * target) DIV toks"
             " AS BIGINT)"))
         .select("lang", "r_ppm"))
    hash_ppm = (F.pmod(F.col("doc_id"), F.lit(1000000))
                * F.lit(2654435761)) % F.lit(1000000)
    e = (d.join(F.broadcast(r), "lang")
         .withColumn(
             "n_epochs",
             (F.expr("r_ppm DIV 1000000")
              + F.when(hash_ppm < F.col("r_ppm") % F.lit(1000000), 1)
              .otherwise(0)).cast("int")))
    return e.select(
        "doc_id", "lang",
        F.explode(F.sequence(F.lit(0), F.col("n_epochs") - 1)).alias("epoch"),
        "n_epochs")


def corpus_datacard(spark, sf_dir):
    """The dataset-release DATA CARD in one frame: per-language doc/
    token/char totals, corpus share, and exact-duplicate exposure — the
    summary table every corpus release publishes (and the first thing a
    consumer reads). One row per language; integer-exact everywhere
    (share in ppm via DECIMAL DIV) so the oracle matches bit-for-bit.

    Scale shape: doc rows reduce to skinny (lang, counts, sha2 digest)
    projections at the scan; duplicate exposure is a digest-keyed
    frequency aggregate joined back on the digest — two partial-
    aggregable shuffles of digest-sized rows, never a window over raw
    text (the oracle states that naive window). The language rollup is
    group-cardinality-sized and the corpus total is a 1-row
    broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.sha2(F.col("text"), 256).alias("h"))
    freq = d.groupBy("h").agg(F.count("*").alias("freq"))
    per = (d.join(freq, "h")
           .groupBy("lang")
           .agg(F.count("*").alias("n_docs"),
                F.sum("n_tokens").alias("total_tokens"),
                F.sum("n_chars").alias("total_chars"),
                F.sum(F.when(F.col("freq") > 1, 1).otherwise(0))
                .cast("long").alias("n_dup_docs")))
    tot = per.agg(F.sum("n_docs").alias("corpus_docs"))
    return (per.crossJoin(F.broadcast(tot))
            .select("lang", "n_docs", "total_tokens", "total_chars",
                    "n_dup_docs",
                    F.expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * n_docs)"
                           " DIV corpus_docs AS BIGINT)").alias("share_ppm")))


def dedup_paragraph(spark, sf_dir):
    """Sub-document repeated-span scrub (pipeline/dedup.py:
    paragraph_dedup) — the C4/RefinedWeb line-level dedup granularity:
    every 10-word span that repeats anywhere in the corpus is removed
    except its first occurrence (by doc_id, then position), and the
    cleaned documents are re-emitted with per-doc removal stats."""
    return D.paragraph_dedup(load_table(spark, sf_dir, "documents"))


def dedup_soft_keep(spark, sf_dir):
    """Soft dedup (r5): instead of hard-dropping near-dup clusters to
    one survivor, give every doc a duplication weight and keep each
    cluster ONCE IN EXPECTATION — the down-weighting alternative
    modern pipelines prefer when duplicates carry signal (keep_ppm =
    floor(1e6 / cluster_size); selection via the engine-exact Knuth
    hash, so which cluster member survives is random-but-reproducible
    rather than always-min-id). Emits the full per-doc weighting table
    (doc_id, component, cluster_size, keep_ppm, kept): downstream
    either filters `kept` or trains on weight 1/cluster_size.

    Composes the verified stages (banded MinHash-LSH near-dup pairs →
    connected components) and adds one component-keyed size agg + a
    join back — the same shuffle key the components iteration already
    uses. Singletons (docs in no pair) coalesce to their own id with
    cluster_size 1, keep_ppm 1e6: always kept. The candidate generator
    is the banded-LSH join, the 100-TB default (the exact
    inverted-index pairs computed the same edges in 585 s at the
    200×/1 M-doc probe vs minutes for LSH; the oracle stays exact
    because LSH recall is verified total at τ=0.5 on the fixtures —
    same honesty argument as dedup_minhash_lsh's own oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.soft_keep_weights(docs)


def dedup_embedding_cosine(spark, sf_dir):
    """Near-dup pairs over the whole corpus, candidate-blocked by
    hyperplane-LSH buckets (r7: replaces the label block whose
    within-block scan measured quadratic — ~9 h extrapolated at 1 M
    vectors). Oracle is the EXHAUSTIVE pair scan: at the fixture sizes
    the 4-plane/16-table blocking's recall at τ=0.5 is verified total
    (tests/test_pipeline.py pins it on all three fixture SFs), the same
    honesty argument dedup_minhash_lsh's exact oracle rides."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim, n = _emb_dim_n(sf_dir, emb)
    return D.embedding_near_dup(emb, threshold=0.5, dim=dim, corpus_n=n)


# --- similarity ----------------------------------------------------------------
# dim is PROBED AND VALIDATED from the data (multimodal.check_dim_count: one
# size-only aggregate proving the corpus is non-ragged), never
# hardcoded, so a bad corpus fails before any vector kernel runs. It is
# cached per fixture dir (dim is a table property; the read-only
# fixtures never change within a process).

_DIM_CACHE: dict[str, tuple[int, int]] = {}


def _emb_dim_n(sf_dir: str, emb) -> tuple[int, int]:
    if sf_dir not in _DIM_CACHE:
        _DIM_CACHE[sf_dir] = M.check_dim_count(emb)
    return _DIM_CACHE[sf_dir]


def _emb_dim(sf_dir: str, emb) -> int:
    return _emb_dim_n(sf_dir, emb)[0]


def sim_topk_cosine(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, dim=_emb_dim(sf_dir, emb))


def sim_lsh_ann(spark, sf_dir):
    """LSH ANN + recall@10 vs the exact sibling, per query — the ANN
    neighbor lists themselves are engine-specific (hyperplane buckets),
    but the recall rows are deterministic and driver-hashable (see
    S.ann_recall). Oracle pins the measured recall per corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(sf_dir, emb)
    return S.ann_recall(emb, S.lsh_ann_topk(emb, dim=dim), dim=dim)


def sim_ivf_ann(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(sf_dir, emb)
    return S.ann_recall(emb, S.ivf_ann_topk(emb, dim=dim), dim=dim)


def sim_ivf_incremental(spark, sf_dir):
    """IVF index MAINTENANCE under the driver hash — the vector twin of
    dedup_incremental_rolling (pipeline/similarity.py:append_ivf_index):
    the vec_id % 16 == 5 slice plays a new-vector ingest batch, the
    rest the already-indexed corpus. The index is built on the CORPUS
    ONLY (frozen centroids + assigned rows), the batch is appended by
    assigning to the frozen model (O(batch), no retrain, no corpus
    re-assignment), and the standard query set then serves against the
    GROWN index with recall scored against exact truth over the FULL
    vector set — so the pinned per-query hit counts can only match if
    the appended rows are genuinely probed (query 5 IS a batch vector,
    and batch vectors appear among every query's candidates). Oracle:
    pinned rows independently re-derived by the Spark-free numpy
    mirror (tests/ann_reference.py:ivf_incremental_retrieve)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(sf_dir, emb)
    is_batch = F.col("vec_id") % _BATCH_MOD == _BATCH_REM
    index = S.build_ivf_index(emb.where(~is_batch), dim=dim)
    grown = S.append_ivf_index(index, emb.where(is_batch))
    return S.ann_recall(emb, S.ivf_ann_topk(emb, dim=dim, index=grown),
                        dim=dim)


def sim_pq_ann(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(sf_dir, emb)
    return S.ann_recall(emb, S.pq_ann_topk(emb, dim=dim), dim=dim)


def sim_ivfpq_ann(spark, sf_dir):
    """The composed IVF-PQ serving shape (probe cells -> ADC-scan codes
    -> exact re-rank) as a first-class key, same recall-row surface as
    the standalone paths."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(sf_dir, emb)
    return S.ann_recall(emb, S.ivfpq_ann_topk(emb, dim=dim), dim=dim)


# --- text analysis ---------------------------------------------------------------

def text_tokens_tf(spark, sf_dir):
    return T.tokens_tf(load_table(spark, sf_dir, "documents"))


def text_lang_stats(spark, sf_dir):
    return T.lang_stats(load_table(spark, sf_dir, "documents"))


def text_length_histogram(spark, sf_dir):
    """Per-(lang, 100-char bucket) doc counts and char sums — integer-
    exact corpus-audit stats (pipeline/text.py length_histogram)."""
    return T.length_histogram(load_table(spark, sf_dir, "documents"))


def text_quality_score(spark, sf_dir):
    return T.quality_score(load_table(spark, sf_dir, "documents"))


def text_token_count(spark, sf_dir):
    return T.token_count_bpe(load_table(spark, sf_dir, "documents"))


def text_fingerprint(spark, sf_dir):
    return T.fingerprint(load_table(spark, sf_dir, "documents"))


def text_langid(spark, sf_dir):
    return T.langid(spark, load_table(spark, sf_dir, "documents"))


def text_tfidf_topk(spark, sf_dir):
    return T.tfidf_topk(load_table(spark, sf_dir, "documents"))


#: deterministic eval-set slice for the decontamination key (~2.5%)
_EVAL_MOD, _EVAL_REM = 40, 7


def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination over a deterministic eval slice
    (doc_id % 40 == 7): one row per TRAINING doc with its eval 3-gram
    overlap count and contaminated flag."""
    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % _EVAL_MOD == _EVAL_REM
    return T.decontaminate(docs.where(~is_eval), docs.where(is_eval))


def text_ngram_lm_score(spark, sf_dir):
    """Corpus-bigram-LM fluency score per doc (pipeline/text.py:
    ngram_lm_score) — the KenLM-style perplexity filter re-expressed as
    two vocabulary-bounded aggs + one join."""
    return T.ngram_lm_score(load_table(spark, sf_dir, "documents"))


def text_pack_greedy(spark, sf_dir):
    """Shard-parallel greedy sequence packing (pipeline/text.py:
    pack_greedy): 64-token bins, 8 shards, recursive-CTE oracle."""
    return T.pack_greedy(load_table(spark, sf_dir, "documents"))


def text_chunk_split(spark, sf_dir):
    """Context-window chunking (pipeline/text.py:chunk_split): each doc's
    token stream cut into fixed 16-token chunks with offsets + the chunk
    text itself — the pre-packing step of sequence preparation."""
    return T.chunk_split(load_table(spark, sf_dir, "documents"))


def text_repetition(spark, sf_dir):
    return T.repetition_score(load_table(spark, sf_dir, "documents"))


def text_gopher_filters(spark, sf_dir):
    """Gopher-style rule battery: per-rule boolean flags + combined keep
    (pipeline/text.py:gopher_filters) — the auditable complement to the
    blended text_quality_score."""
    return T.gopher_filters(load_table(spark, sf_dir, "documents"))


def text_pii_scrub(spark, sf_dir):
    return T.pii_scrub(load_table(spark, sf_dir, "documents"))


def text_html_strip(spark, sf_dir):
    """Web-crawl boilerplate removal (pipeline/text.py:html_strip):
    every document is wrapped IN-PLAN into deterministic full-page
    markup — head with a script block (whose body contains a bare ``<``
    to derail naive tag stripping), a style block, an entity-bearing
    h1 (``&amp;``, ``&lt;id&gt;``), a multi-line comment, and the
    entity-ESCAPED text split across ``<p>`` blocks at token
    boundaries — then stripped back. The oracle reconstructs the
    expected clean text arithmetically ('Doc & <id> ' + the
    whitespace-collapsed original), so the Spark side can only match by
    correctly removing blocks, tags and comments AND round-tripping the
    entity coding; n_tags is pinned to the constructed tag count
    (12 + 2·spaces)."""
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><title></title>'
              '<script type="text/javascript">var x = 1 < 2;</script>'
              '<style>p { color: #fff; }</style></head><body>'
              '<h1>Doc &amp; &lt;'),
        F.col("doc_id").cast("string"),
        F.lit('&gt;</h1><!-- boilerplate\n nav --><p>'),
        F.regexp_replace(T.html_escape_text("text"), " ", "</p>\n<p>"),
        F.lit("</p></body></html>"))
    return T.html_strip(docs.select("doc_id", html.alias("html")))


# --- multimodal ------------------------------------------------------------------

def multimodal_columns(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return M.multimodal_join(load_table(spark, sf_dir, "documents"), emb,
                             _emb_dim(sf_dir, emb))


def multimodal_decode(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return M.extract_features(M.attach_binary_payload(docs))


def multimodal_frame_sample(spark, sf_dir):
    """Every-3rd-frame sampling over 64-byte frames of the binary
    payload (pipeline/multimodal.py:frame_sample) — the video-sampling
    plumbing with a stubbed codec, Arrow-batched end to end."""
    docs = load_table(spark, sf_dir, "documents")
    return M.frame_sample(M.attach_binary_payload(docs))


def multimodal_image_dims(spark, sf_dir):
    """REAL image decode with zero codec libraries (r10 verdict item 5):
    stage spec-valid PNG / GIF / JPEG files whose dimensions derive
    arithmetically from doc_id, read them back through the binaryFile
    source, and parse (format, width, height) from the CONTAINER BYTES
    in one Arrow-batched pass (pipeline/multimodal.py:map_files,
    parse_image_header — big-endian PNG IHDR with CRC check,
    little-endian GIF screen descriptor, JPEG marker scan to SOF). The
    oracle recomputes the dims from the doc_id
    arithmetic alone, so the Spark side can only match by decoding the
    binary headers correctly — encoder (struct-pack) and decoder
    (scanner) share no code.

    Scale: header decode needs only each file's LEADING bytes; at
    100 TB the binaryFile scan would read footers-to-content lazily per
    file and this stage stays embarrassingly parallel (no shuffle, no
    driver traffic). The video/audio codec stub
    (pipeline/multimodal.py:decode_media) remains for formats whose
    metadata genuinely needs a codec."""
    import os

    from database_syncer_spark.pipeline.multimodal import (
        decode_image_headers, synth_image)

    def write_one(i, tmp):
        fmt = ("png", "gif", "jpeg")[i % 3]
        data = synth_image(fmt, 16 + (i * 7919) % 2000,
                           16 + (i * 104729) % 2000,
                           total_bytes=200 + i % 100)
        with open(os.path.join(tmp, f"img_{i:05d}.{fmt}"), "wb") as fh:
            fh.write(data)

    d = fixture_cache(sf_dir, "imgfiles",
                      _per_doc_files(spark, sf_dir, 60, write_one))
    return decode_image_headers(
        _scan_staged(spark, d, "img_*", r"img_(\d+)\.\w+$"))


def multimodal_pixel_stats(spark, sf_dir):
    """REAL PNG PIXEL decode with stdlib zlib only
    (pipeline/multimodal.py:decode_png_pixels): stage real 8-bit
    truecolor PNGs whose every pixel derives from (x·7 + y·13 + c·31)
    mod 251 and whose rows cycle through ALL FIVE spec filters
    (None/Sub/Up/Average/Paeth — synth filters forward, decoder
    unfilters; inverse ops, no shared path), read them back through
    binaryFile, inflate + unfilter + sum channels in one Arrow-batched
    pass (pipeline/multimodal.py:pixel_stats). The oracle recomputes
    the exact per-channel sums from the pixel formula alone (a generate_series cross join), so only a
    byte-correct full decode — filters included — can match. With
    multimodal_gif_pixels this closes pixel decode for both
    losslessly-coded mainstream image formats; the stub is down to
    Huffman/DCT (JPEG) and MDCT audio/video."""
    import os

    from database_syncer_spark.pipeline.multimodal import (
        decode_png_pixels, pixel_stats, synth_png_rgb)

    def write_one(i, tmp):
        with open(os.path.join(tmp, f"px_{i:05d}.png"), "wb") as fh:
            fh.write(synth_png_rgb(8 + i % 9, 8 + i % 7))

    d = fixture_cache(sf_dir, "pxfiles",
                      _per_doc_files(spark, sf_dir, 40, write_one))
    return pixel_stats(
        _scan_staged(spark, d, "px_*", r"px_(\d+)\.png$"),
        decode_png_pixels)


def multimodal_gif_pixels(spark, sf_dir):
    """REAL GIF PIXEL decode with pure-Python LZW
    (pipeline/multimodal.py:decode_gif_pixels): stage real GIF89a files
    whose pixel index at (x,y) is (5x + 11y) mod 251 behind a 256-entry
    global color table (entry k = (k, 3k mod 256, 7k mod 256)), image
    data produced by an ACTUAL LZW compressor — dictionary build,
    variable 9→12-bit code width, 4096-entry CLEAR reset, 255-byte
    sub-blocks — then decode (de-sub-block, variable-width LZW incl.
    the KwKwK case, palette lookup) and sum channels in one
    Arrow-batched pass (pipeline/multimodal.py:pixel_stats). Sizes up
    to 63×55 force code-width growth past 9 bits. The oracle recomputes the exact per-channel sums from the
    index-formula + palette arithmetic alone, so only a byte-correct
    LZW round trip can match. With PNG (multimodal_pixel_stats) and
    this, both losslessly-coded mainstream image formats decode for
    real; the stub is down to Huffman/DCT (JPEG) and MDCT audio/video."""
    import os

    from database_syncer_spark.pipeline.multimodal import (
        decode_gif_pixels, pixel_stats, synth_gif_lzw)

    def write_one(i, tmp):
        with open(os.path.join(tmp, f"gif_{i:05d}.gif"), "wb") as fh:
            fh.write(synth_gif_lzw(24 + i % 40, 16 + i % 40))

    d = fixture_cache(sf_dir, "giffiles",
                      _per_doc_files(spark, sf_dir, 40, write_one))
    return pixel_stats(
        _scan_staged(spark, d, "gif_*", r"gif_(\d+)\.gif$"),
        decode_gif_pixels)


def multimodal_jpeg_pixels(spark, sf_dir):
    """REAL baseline-JPEG PIXEL decode, pure Python + numpy
    (pipeline/jpeg.py:decode_jpeg_pixels): stage real SOF0 JPEGs —
    generic DQT/DHT tables built two-pass from the emitted symbols,
    Huffman entropy coding with byte stuffing, every third doc
    4:2:0-subsampled, every fourth with restart markers — then decode
    (marker walk, canonical Huffman, dequantize, de-zigzag, float IDCT,
    chroma replication, YCbCr→RGB) and sum channels in one
    Arrow-batched pass (pipeline/multimodal.py:pixel_stats). The
    fixtures place quantized coefficients only at DC/(4,0)/(0,4) with step 8, so the IDCT lands on exact integers and
    the chroma offsets round deterministically — the oracle recomputes
    the exact per-channel sums from the coefficient arithmetic alone,
    so only a byte-correct Huffman+IDCT+color decode can match. JPEG is
    the dominant real-corpus image format; with PNG and GIF this
    leaves only progressive JPEG and MDCT codecs stubbed."""
    import os

    from database_syncer_spark.pipeline.jpeg import (
        decode_jpeg_pixels, synth_jpeg_fixture)
    from database_syncer_spark.pipeline.multimodal import pixel_stats

    def write_one(i, tmp):
        with open(os.path.join(tmp, f"jpg_{i:05d}.jpg"), "wb") as fh:
            fh.write(synth_jpeg_fixture(i))

    d = fixture_cache(sf_dir, "jpgfiles",
                      _per_doc_files(spark, sf_dir, 40, write_one))
    return pixel_stats(
        _scan_staged(spark, d, "jpg_*", r"jpg_(\d+)\.jpg$"),
        decode_jpeg_pixels)


def multimodal_track_meta(spark, sf_dir):
    """Per-track MP4 metadata via the NESTED box walk
    (pipeline/multimodal.py:parse_mp4_tracks — moov → trak → {tkhd,
    mdia → {mdhd, hdlr}}): one row per track with its id, handler type
    (vide/soun — what routes a media corpus), media timescale and
    duration_ms. Same staged MP4 bytes as multimodal_media_meta, one
    level deeper: the flat walk counts traks, this one types and
    meters them. Oracle recomputes every field from the track-index
    arithmetic the synth used, so only a correct recursive box walk
    matches."""
    from database_syncer_spark.pipeline.multimodal import decode_track_meta

    return decode_track_meta(_scan_staged_media(spark, sf_dir, "med_*.mp4"))


def multimodal_media_meta(spark, sf_dir):
    """REAL audio/video container-metadata decode with zero codec
    libraries (the image-dims pattern extended to WAV + MP4): stage
    spec-valid WAV (RIFF fmt/data chunks) and MP4 (ftyp + moov/mvhd +
    trak boxes) files whose parameters derive arithmetically from
    doc_id, read them back through the binaryFile source, and parse
    (container, duration_ms, sample_rate, n_tracks) from the CONTAINER
    BYTES in one Arrow-batched pass (pipeline/multimodal.py:map_files,
    parse_media_header — little-endian RIFF chunk scan with odd-size
    padding, big-endian ISO-BMFF box walk handling mvhd v0/v1 and 64-bit
    largesize). The oracle recomputes
    every field from the doc_id arithmetic alone, so the Spark side can
    only match by decoding the binary structure correctly — encoder
    (struct-pack in synth_wav/synth_mp4) and decoder (scanner) share no
    code. Only pixel/sample decode remains stubbed
    (pipeline/multimodal.py:decode_media).

    Scale: identical posture to multimodal_image_dims — leading-bytes
    metadata, embarrassingly parallel binaryFile scan, no shuffle."""
    from database_syncer_spark.pipeline.multimodal import decode_media_headers

    b = _scan_staged_media(spark, sf_dir, "med_*")
    return decode_media_headers(b)


def _per_doc_files(spark, sf_dir, id_bound: int, write_one):
    """A :func:`fixture_cache` build: ``write_one(doc_id, dir)`` writes
    one file per document with ``doc_id < id_bound``."""
    def build(tmp: str) -> None:
        os.makedirs(tmp)
        for r in (load_table(spark, sf_dir, "documents")
                  .where(F.col("doc_id") < id_bound)
                  .select("doc_id").collect()):
            write_one(int(r.doc_id), tmp)
    return build


def _scan_staged(spark, d: str, glob: str, id_pattern: str):
    return (spark.read.format("binaryFile")
            .option("pathGlobFilter", glob).load(d)
            .select(F.regexp_extract("path", id_pattern, 1)
                    .cast("long").alias("doc_id"), "content"))


def _write_media_file(i: int, tmp: str) -> None:
    import os

    from database_syncer_spark.pipeline.multimodal import synth_mp4, synth_wav

    if i % 2 == 0:
        data = synth_wav(8000 + (i % 5) * 4000,
                         1 + (i // 2) % 2, 1000 + i * 37)
        ext = "wav"
    else:
        data = synth_mp4(600 + (i % 7) * 100, 3000 + i * 53,
                         1 + i % 3, total_bytes=900 + i % 100)
        ext = "mp4"
    with open(os.path.join(tmp, f"med_{i:05d}.{ext}"), "wb") as fh:
        fh.write(data)


def _scan_staged_media(spark, sf_dir, glob: str):
    d = fixture_cache(sf_dir, "mediafiles",
                      _per_doc_files(spark, sf_dir, 60, _write_media_file))
    return _scan_staged(spark, d, glob, r"med_(\d+)\.\w+$")


def multimodal_audio_stats(spark, sf_dir):
    """REAL PCM sample decode (pipeline/multimodal.py:
    decode_wav_samples): the SAME staged WAV bytes multimodal_media_meta
    reads for metadata are here decoded to their int16 samples —
    fmt/data chunk scan, channel de-interleave, numpy per-channel
    reduction in one Arrow-batched pass (pipeline/multimodal.py:
    wav_sample_stats). The oracle recomputes the
    exact channel-0 sum/min/max from the synth byte formula alone
    (sample f's bytes are ((rate + 7·ch) + 26·ch·f + {0,13}) mod 256,
    assembled little-endian signed), so only a byte-correct sample read
    — interleave and sign handling included — can match. PCM is the
    uncompressed-audio case; transform-coded audio (MDCT) remains the
    codec stub's."""
    from database_syncer_spark.pipeline.multimodal import wav_sample_stats

    return wav_sample_stats(_scan_staged_media(spark, sf_dir, "med_*.wav"))


# --- UDF / UDAF / UDTF (B10) ------------------------------------------------------

def udf_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized pandas UDF tokenizer (the dump tokenizer's B10
    generalization, cf. sources/dump.py which uses arrow_map.map_arrow)."""
    @F.pandas_udf("int")
    def n_tokens(s: pd.Series) -> pd.Series:
        return s.str.split(" ").str.len().astype("int32")

    @F.pandas_udf("string")
    def first_token(s: pd.Series) -> pd.Series:
        return s.str.split(" ").str[0]

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        n_tokens("text").alias("n_tokens"),
        first_token("text").alias("first_token"),
    )


def udaf_pandas_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom grouped aggregation via applyInPandas (per-group pandas
    frame in, one summary row out)."""
    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        return pd.DataFrame({
            "lang": [pdf["lang"].iloc[0]],
            "n_docs": [n],
            "avg_chars": [float(int(pdf["n_chars"].sum()) / n)],
            "max_chars": [int(pdf["n_chars"].max())],
        })

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").applyInPandas(
        summarize, "lang string, n_docs bigint, avg_chars double, max_chars bigint")


class _TokenSplit:
    """Python UDTF: one document row -> one row per token (B10
    udtf_statement_split — same shape as exploding dump statements)."""

    def eval(self, doc_id: int, text: str):
        for i, tok in enumerate(text.split(" ")):
            if tok:
                yield doc_id, i, tok


def udtf_statement_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("v_docs_udtf")
    spark.udtf.register(
        "dss_token_split",
        F.udtf(_TokenSplit, returnType="doc_id bigint, pos int, token string"))
    return spark.sql("""
        SELECT s.doc_id, s.pos, s.token
        FROM v_docs_udtf, LATERAL dss_token_split(doc_id, text) s
    """)


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,      # exact-SQL oracle (recall total)
    "dedup_simhash": dedup_simhash,              # pinned-rows oracle
    "dedup_incremental": dedup_incremental,      # exact-SQL oracle
    "dedup_incremental_rolling": dedup_incremental_rolling,
    "dedup_incremental_indexed": dedup_incremental_indexed,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_ngram_containment": dedup_ngram_containment,
    "dedup_cluster_components": dedup_cluster_components,
    "dedup_corpus_keep": dedup_corpus_keep,
    "dedup_soft_keep": dedup_soft_keep,
    "dedup_paragraph": dedup_paragraph,
    "corpus_curate": corpus_curate,
    "corpus_curate_web": corpus_curate_web,
    "corpus_curate_incremental": corpus_curate_incremental,
    "corpus_version_diff": corpus_version_diff,
    "sample_token_budget": sample_token_budget,
    "sample_reshard_seeded": sample_reshard_seeded,
    "sample_mix_epochs": sample_mix_epochs,
    "corpus_datacard": corpus_datacard,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_embedding_incremental": dedup_embedding_incremental,
    "sim_topk_cosine": sim_topk_cosine,
    "sim_lsh_ann": sim_lsh_ann,                  # recall@10 rows, pinned oracle
    "sim_ivf_ann": sim_ivf_ann,                  # recall@10 rows, pinned oracle
    "sim_ivf_incremental": sim_ivf_incremental,  # frozen-model append + serve
    "sim_pq_ann": sim_pq_ann,                    # recall@10 rows, pinned oracle
    "sim_ivfpq_ann": sim_ivfpq_ann,              # composed path, pinned oracle
    "text_tokens_tf": text_tokens_tf,
    "text_lang_stats": text_lang_stats,
    "text_length_histogram": text_length_histogram,
    "text_quality_score": text_quality_score,
    "text_token_count": text_token_count,
    "text_fingerprint": text_fingerprint,
    "text_langid": text_langid,                  # exact-SQL oracle
    "text_tfidf_topk": text_tfidf_topk,
    "text_decontaminate": text_decontaminate,
    "text_repetition": text_repetition,
    "text_gopher_filters": text_gopher_filters,
    "text_chunk_split": text_chunk_split,
    "text_ngram_lm_score": text_ngram_lm_score,
    "text_pack_greedy": text_pack_greedy,
    "text_pii_scrub": text_pii_scrub,
    "text_html_strip": text_html_strip,
    "multimodal_columns": multimodal_columns,
    "multimodal_decode": multimodal_decode,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_image_dims": multimodal_image_dims,
    "multimodal_media_meta": multimodal_media_meta,
    "multimodal_audio_stats": multimodal_audio_stats,
    "multimodal_track_meta": multimodal_track_meta,
    "multimodal_pixel_stats": multimodal_pixel_stats,
    "multimodal_gif_pixels": multimodal_gif_pixels,
    "multimodal_jpeg_pixels": multimodal_jpeg_pixels,
    "udf_tokenizer": udf_tokenizer,
    "udaf_pandas_grouped": udaf_pandas_grouped,
    "udtf_statement_split": udtf_statement_split,
}

def _ngram_sql(threshold: float) -> str:
    return f"""
WITH t AS (SELECT doc_id, {_SHINGLE_SQL} AS shingles FROM documents),
sh AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM t),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
         count(*) AS c
  FROM sh a JOIN sh b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, round(CAST(c AS DOUBLE) / (na + nb - c), 6) AS jaccard
FROM inter WHERE round(CAST(c AS DOUBLE) / (na + nb - c), 6) >= {threshold}
"""


_NGRAM_SQL = _ngram_sql(0.2)


def _ngram_pairs_ctes(threshold: float, rel: str = "documents") -> str:
    """CTE list `t, sh, inter, pairs`: shingle -> inverted index ->
    exact-jaccard pairs ≥ threshold over source relation ``rel``. The
    single source of truth for every recursive-components oracle (an r8
    review found four diverging inline copies — a threshold or rounding
    fix applied to one would silently miss the others)."""
    return f"""t AS (SELECT doc_id, {_SHINGLE_SQL} AS shingles FROM {rel}),
sh AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM t),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
         count(*) AS c
  FROM sh a JOIN sh b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  WHERE round(CAST(c AS DOUBLE) / (na + nb - c), 6) >= {threshold}
)"""


def _curate_scrub_ctes(quality_filtered: bool = True,
                       src: str = "documents") -> str:
    """CTE list `base, q, scrub`: PII planting -> 6-dp quality score ->
    email/phone scrub — the shared front half of the curation oracles
    (corpus_curate, corpus_curate_web and corpus_curate_incremental
    must score and scrub identically or their membership drifts; single
    source of truth per the r8 four-diverging-copies lesson).
    ``quality_filtered``: apply the quality floor inside `scrub`
    (corpus_curate drops fails there; the incremental key keeps batch
    fails for its verdict rows). ``src``: the (doc_id, text) relation
    the chain starts from — corpus_curate_web points it at the
    reconstructed post-strip text."""
    where = (f"WHERE q.quality_score >= {_CURATE_QUALITY_MIN}"
             if quality_filtered else "")
    return f"""base AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_PII_MOD} = {_PII_REM}
              THEN text || ' contact agent' || CAST(doc_id AS VARCHAR)
                   || '@example.com now'
              ELSE text END AS text
  FROM {src}
),
q AS (
  SELECT doc_id,
         round(least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE)
                          / 100.0)
               * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                    t -> list_contains({_STOP_SQL}, t))) AS DOUBLE)
                  / len(string_split(text, ' '))), 6) AS quality_score
  FROM base
),
scrub AS (
  SELECT b.doc_id, q.quality_score,
         (len(regexp_extract_all(b.text, '{T.EMAIL_PATTERN}'))
          + len(regexp_extract_all(b.text, '{T.PHONE_PATTERN}'))) > 0
           AS had_pii,
         regexp_replace(regexp_replace(b.text,
             '{T.EMAIL_PATTERN}', '<EMAIL>', 'g'),
             '{T.PHONE_PATTERN}', '<PHONE>', 'g') AS text
  FROM base b JOIN q USING (doc_id)
  {where}
)"""


def _paragraph_ctes(rel: str = "documents") -> str:
    """CTE list `w, ch, firsts, marked`: 10-word positional chunks ->
    corpus frequency + first occurrence -> per-chunk kept flag over
    source relation ``rel`` — the single source of truth for the
    paragraph-dedup SQL (shared by the dedup_paragraph oracle and the
    corpus_curate composition; the r8 review's diverging-copies lesson
    applies here too)."""
    return f"""w AS (SELECT doc_id,
           string_split(coalesce(text, ''), ' ') AS ws
    FROM {rel}),
ch AS (
  SELECT doc_id, i AS pos,
         array_to_string(ws[i*10+1 : i*10+10], ' ') AS chunk
  FROM w, LATERAL unnest(generate_series(
       0, CAST(ceil(len(ws) / 10.0) AS BIGINT) - 1)) AS t(i)
),
firsts AS (
  SELECT chunk, count(*) AS freq,
         min(struct_pack(doc_id := doc_id, pos := pos)) AS first
  FROM ch GROUP BY chunk
),
marked AS (
  SELECT c.doc_id, c.pos, c.chunk,
         (f.freq = 1 OR (c.doc_id = f.first.doc_id
                         AND c.pos = f.first.pos)) AS kept
  FROM ch c JOIN firsts f USING (chunk)
)"""


#: CTE list `sym, reach, comp`: min-label connected components over a
#: `pairs(doc_a, doc_b)` CTE — shared by every clustering oracle
_COMPONENTS_CTES = """sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a
),
comp AS (
  SELECT src AS doc_id, least(src, min(dst)) AS component
  FROM reach GROUP BY src
)"""

# dedup_minhash_lsh oracle: LSH candidate recall is VERIFIED TOTAL on the
# fixtures (the banded-LSH pair set equals the exact inverted-index pair
# set at the key's 0.5 threshold on sf0.001 AND sf0.01, checked
# 2026-08-14 via scripts/pin_rowsonly_oracles.py), and the key's jaccard
# values come from its exact verify step — so the honest exact SQL is a
# complete value oracle. A future LSH recall miss fails the row count;
# a verify-step bug fails the hash.
_MINHASH_SQL = _ngram_sql(0.5)

# dedup_simhash oracle: hamming distances of xxhash64 fingerprints are
# not SQL-derivable, so the (deterministic, seed-free) measured rows are
# pinned per corpus fingerprint — same pattern as the ANN recall
# oracles. Unknown fixture -> empty result -> loud rows mismatch.
# Regenerate with scripts/pin_rowsonly_oracles.py after any parameter
# or fixture change.
_SIMHASH_PINS = {
    153656: [  # sf0.001
        (0, 82, 0), (8, 12, 2), (8, 120, 2), (8, 360, 1), (12, 360, 1),
        (16, 369, 2), (26, 176, 0), (45, 487, 2), (56, 157, 1),
        (77, 459, 2), (99, 174, 1), (110, 242, 3), (110, 467, 2),
        (119, 425, 3), (120, 360, 3), (144, 161, 2), (197, 246, 3),
        (211, 404, 2), (229, 263, 2), (245, 401, 3), (260, 391, 0),
        (261, 296, 3), (270, 329, 1), (306, 387, 3), (349, 411, 0),
        (387, 457, 3), (474, 498, 3),
    ],
    149674: [  # sf0.01
        (8, 245, 2), (45, 413, 3), (58, 293, 0), (61, 185, 0),
        (70, 447, 1), (76, 102, 2), (98, 290, 2), (107, 387, 1),
        (120, 332, 3), (166, 323, 3), (251, 473, 3), (267, 413, 2),
        (285, 301, 0), (326, 457, 2), (393, 420, 0), (435, 486, 3),
        (458, 462, 2),
    ],
}


def _simhash_sql() -> str:
    branches = []
    for fp, rows in _SIMHASH_PINS.items():
        vals = ", ".join(f"({a}, {b}, {h})" for a, b, h in rows)
        branches.append(f"""
SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
       CAST(hamming AS INT) AS hamming
FROM (VALUES {vals}) v(doc_a, doc_b, hamming)
WHERE (SELECT CAST(count(*) + sum(n_chars) AS BIGINT) FROM documents) = {fp}
""")
    return " UNION ALL ".join(branches)

_CONTAINMENT_SQL = f"""
WITH t AS (SELECT doc_id, {_SHINGLE_SQL} AS shingles FROM documents),
sh AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM t),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS na, b.n_sh AS nb,
         count(*) AS c
  FROM sh a JOIN sh b USING (sh)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
dirs AS (
  SELECT doc_a AS src, doc_b AS dst,
         round(CAST(c AS DOUBLE) / na, 6) AS containment FROM inter
  UNION ALL
  SELECT doc_b, doc_a, round(CAST(c AS DOUBLE) / nb, 6) FROM inter
)
SELECT src, dst, containment FROM dirs WHERE containment >= 0.5
"""

_TFIDF_SQL = """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term <> '' GROUP BY 1, 2),
dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term,
         round(CAST(tf AS DOUBLE) * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
  FROM tf JOIN dfx USING (term) CROSS JOIN n)
SELECT doc_id, term, tfidf, rn FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rn
  FROM scored) WHERE rn <= 3
"""

# τ=0.5 everywhere below: the threshold where the Spark side's LSH
# candidate recall is verified total on the fixtures (same as
# _MINHASH_SQL) — the exact inverted index is the ground truth for
# those LSH edges
_CORPUS_KEEP_SQL = f"""
WITH RECURSIVE ek AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
),
d2 AS (SELECT d.doc_id, d.text FROM documents d JOIN ek USING (doc_id)),
{_ngram_pairs_ctes(0.5, rel="d2")},
{_COMPONENTS_CTES}
SELECT ek.doc_id FROM ek LEFT JOIN comp USING (doc_id)
WHERE comp.doc_id IS NULL OR comp.component = ek.doc_id
"""

# ANN recall oracles: the recall rows are a deterministic function of the
# (seed-free) ANN algorithms and the fixed fixture — verified partition-
# independent (9-dp model rounding, see pipeline/similarity.py) — so the
# oracle pins the measured per-query n_hits. DuckDB cannot re-derive
# LSH/IVF/PQ internals, and the sf0.001 (parity suite) and sf0.01 (driver)
# fixtures both have 500 rows, so the constants are keyed on a corpus
# content fingerprint; an unknown fixture yields NULLs → loud hash fail,
# never a silent pass. Measured 2026-08-14 under local[8]/8 and
# local[32]/32+repartition(7) (identical).
_ANN_FP = """
SELECT round(sum(list_aggregate(list_transform(
         embedding, x -> CAST(x AS DOUBLE)), 'sum')), 0) AS f
FROM embeddings
"""


def _ann_recall_sql(h001: list[int], h01: list[int]) -> str:
    vals = ", ".join(f"({q}, {a}, {b})"
                     for q, (a, b) in enumerate(zip(h001, h01)))
    return f"""
WITH fp AS ({_ANN_FP}),
c(query_id, h001, h01) AS (VALUES {vals})
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(10 AS INT) AS k,
       CAST(CASE WHEN fp.f = -33.0 THEN h001
                 WHEN fp.f = 1.0 THEN h01 END AS INT) AS n_hits,
       CAST(CASE WHEN fp.f = -33.0 THEN h001
                 WHEN fp.f = 1.0 THEN h01 END AS DOUBLE) / 10.0 AS recall
FROM c CROSS JOIN fp
"""


# Per-family pinned n_hits by query_id 0..9, keyed by fixture: first list
# = sf0.001 (fp -33.0), second = sf0.01 (fp 1.0). r6: these exact lists
# are INDEPENDENTLY re-derived — retrieval and all — by the Spark-free
# numpy mirror in tests/ann_reference.py (asserted equal every session in
# tests/test_numpy_reference.py, regenerable via
# scripts/pin_independent_oracles.py), closing the pin-time-bug hole the
# transcribed pins had.
_ANN_PINS: dict[str, tuple[list[int], list[int]]] = {
    "lsh": ([0, 4, 2, 3, 2, 2, 1, 2, 1, 1], [3, 4, 2, 4, 2, 2, 3, 1, 1, 3]),
    "ivf": ([5, 4, 4, 6, 4, 5, 8, 2, 9, 6], [6, 1, 6, 4, 4, 1, 6, 8, 10, 4]),
    "pq": ([7, 8, 9, 9, 7, 8, 8, 9, 9, 7], [9, 8, 6, 9, 9, 6, 8, 8, 8, 7]),
    "ivfpq": ([5, 4, 4, 6, 3, 5, 8, 2, 9, 6], [6, 1, 6, 3, 4, 1, 6, 8, 10, 4]),
    # r12: corpus-trained frozen centroids + appended ingest batch
    # (append_ivf_index), recall over the full set — the maintenance key
    "ivf_incr": ([5, 3, 4, 9, 5, 5, 8, 4, 9, 7],
                 [6, 1, 6, 4, 4, 1, 5, 6, 10, 4]),
}

_LSH_RECALL_SQL = _ann_recall_sql(*_ANN_PINS["lsh"])
_IVF_RECALL_SQL = _ann_recall_sql(*_ANN_PINS["ivf"])
_PQ_RECALL_SQL = _ann_recall_sql(*_ANN_PINS["pq"])
_IVFPQ_RECALL_SQL = _ann_recall_sql(*_ANN_PINS["ivfpq"])
_IVF_INCR_RECALL_SQL = _ann_recall_sql(*_ANN_PINS["ivf_incr"])


# text_langid oracle: the n-gram classifier is EXACT relational algebra
# end to end (distinct char-bigrams of the first 200 chars -> per-lang
# top-40 by document frequency with (df desc, bg) tie-break -> overlap
# argmax with (overlap desc, lang) tie-break), so DuckDB recomputes the
# identical predictions from scratch — a fully honest oracle, no pins.
_LANGID_SQL = """
WITH t AS (SELECT doc_id, lang, substring(text, 1, 200) AS t200
           FROM documents),
bg AS (SELECT doc_id, lang,
         list_distinct(list_transform(
           generate_series(1, greatest(length(t200) - 1, 1)),
           i -> substring(t200, CAST(i AS INT), 2))) AS bgs
       FROM t),
dfx AS (SELECT lang, bg2 AS bg, count(*) AS df
        FROM (SELECT lang, unnest(bgs) AS bg2 FROM bg)
        GROUP BY lang, bg2),
prof AS (SELECT lang AS cand_lang, list(bg) AS profile FROM (
           SELECT lang, bg,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY df DESC, bg) AS rk
           FROM dfx) WHERE rk <= 40 GROUP BY lang),
scored AS (SELECT b.doc_id, b.lang, p.cand_lang,
             len(list_intersect(b.bgs, p.profile)) AS overlap
           FROM bg b CROSS JOIN prof p)
SELECT doc_id, lang AS true_lang, cand_lang AS pred_lang,
       CAST(overlap AS INT) AS overlap
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY overlap DESC, cand_lang) AS rk
      FROM scored) WHERE rk = 1
"""


_DECONTAMINATE_SQL = f"""
WITH ev AS (
  SELECT DISTINCT sh FROM (
    SELECT unnest({_SHINGLE_SQL}) AS sh FROM documents
    WHERE doc_id % 40 = 7)
),
tr AS (SELECT doc_id, {_SHINGLE_SQL} AS shingles FROM documents
       WHERE doc_id % 40 <> 7),
hits AS (
  SELECT doc_id, count(*) AS n
  FROM (SELECT doc_id, unnest(shingles) AS sh FROM tr) d
  JOIN ev USING (sh) GROUP BY doc_id
)
SELECT t.doc_id, CAST(coalesce(h.n, 0) AS INT) AS n_eval_shingles,
       coalesce(h.n, 0) > 0 AS contaminated
FROM tr t LEFT JOIN hits h USING (doc_id)
"""

# Non-distinct k-gram multiset (repetition needs frequencies, unlike the
# dedup shingle SETS).
_RAW_SHINGLE_SQL = (
    "list_transform("
    "generate_series(1, greatest(len(string_split(text,' '))-2, 1)),"
    " i -> array_to_string(string_split(text,' ')[i:i+2], ' '))"
)

_REPETITION_SQL = f"""
WITH per AS (
  SELECT doc_id, sh, count(*) AS c FROM (
    SELECT doc_id, unnest({_RAW_SHINGLE_SQL}) AS sh FROM documents)
  GROUP BY doc_id, sh
),
agg AS (
  SELECT doc_id, sum(c) AS n_ngrams, count(*) AS n_distinct,
         max(c) AS top_c
  FROM per GROUP BY doc_id
)
SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams,
       round(1.0 - CAST(n_distinct AS DOUBLE) / n_ngrams, 6)
         AS dup_ngram_frac,
       round(CAST(top_c AS DOUBLE) / n_ngrams, 6) AS top_ngram_frac,
       n_ngrams >= 5 AND (
         (1.0 - CAST(n_distinct AS DOUBLE) / n_ngrams) >= 0.3
         OR CAST(top_c AS DOUBLE) / n_ngrams >= 0.2) AS repetitive
FROM agg
"""


_PII_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{T.EMAIL_PATTERN}')) AS INT)
         AS n_emails,
       CAST(len(regexp_extract_all(text, '{T.PHONE_PATTERN}')) AS INT)
         AS n_phones,
       len(regexp_extract_all(text, '{T.EMAIL_PATTERN}')) > 0
         OR len(regexp_extract_all(text, '{T.PHONE_PATTERN}')) > 0
         AS has_pii,
       md5(regexp_replace(
             regexp_replace(text, '{T.EMAIL_PATTERN}', '<EMAIL>', 'g'),
             '{T.PHONE_PATTERN}', '<PHONE>', 'g')) AS redacted_md5
FROM documents
"""


def _curate_oracle_sql(pre: str = "", src: str = "documents") -> str:
    """The full corpus_curate oracle, parameterized by the (doc_id,
    text) source relation so corpus_curate_web can prepend a CTE that
    reconstructs the post-strip text arithmetically and re-source the
    IDENTICAL stage chain from it (score -> scrub -> exact dedup ->
    recursive near-dup components -> span dedup -> packing replay)."""
    return f"""
WITH RECURSIVE {pre}{_curate_scrub_ctes(src=src)},
ek AS (SELECT min(doc_id) AS doc_id FROM scrub GROUP BY sha256(text)),
d2 AS (SELECT s.doc_id, s.text FROM scrub s JOIN ek USING (doc_id)),
{_ngram_pairs_ctes(0.5, rel="d2")},
{_COMPONENTS_CTES},
keep AS (
  SELECT ek.doc_id FROM ek LEFT JOIN comp USING (doc_id)
  WHERE comp.doc_id IS NULL OR comp.component = ek.doc_id
),
cur AS (SELECT s.* FROM scrub s JOIN keep USING (doc_id)),
{_paragraph_ctes("cur")},
cleaned AS (
  SELECT doc_id,
         coalesce(string_agg(CASE WHEN kept THEN chunk END, ' '
                             ORDER BY pos), '') AS text
  FROM marked GROUP BY doc_id
),
pd AS (
  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM cleaned WHERE text <> ''
),
pr AS (
  SELECT shard, rn, doc_id, n_tokens, 1 AS bin_local, n_tokens AS fill
  FROM pd WHERE rn = 1
  UNION ALL
  SELECT pd.shard, pd.rn, pd.doc_id, pd.n_tokens,
         CASE WHEN pr.fill + pd.n_tokens <= 64 THEN pr.bin_local
              ELSE pr.bin_local + 1 END,
         CASE WHEN pr.fill + pd.n_tokens <= 64 THEN pr.fill + pd.n_tokens
              ELSE pd.n_tokens END
  FROM pr JOIN pd ON pd.shard = pr.shard AND pd.rn = pr.rn + 1
)
SELECT pr.doc_id, pr.shard,
       CAST(pr.shard AS BIGINT) * 2199023255552 + pr.bin_local AS bin_id,
       pr.n_tokens, c.quality_score, c.had_pii
FROM pr JOIN cur c USING (doc_id)
"""


ORACLES = {
    "text_pii_scrub": _PII_SQL,
    # expected clean text + tag count reconstructed from the key's
    # deterministic page construction — the Spark side can only match by
    # actually stripping blocks/tags/comments and decoding the entities
    "text_html_strip": """
SELECT doc_id,
       rtrim('Doc & <' || CAST(doc_id AS VARCHAR) || '> '
             || trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS clean_text,
       CAST(12 + 2 * (strlen(text) - strlen(replace(text, ' ', '')))
            AS INT) AS n_tags
FROM documents
""",
    "text_decontaminate": _DECONTAMINATE_SQL,
    "text_repetition": _REPETITION_SQL,
    # the oracle REPLAYS the sequential greedy rule with a recursive CTE
    # per shard (join-per-step: iterations = max shard length), so the
    # shard-parallel applyInPandas packing is value-verified
    "text_pack_greedy": """
WITH RECURSIVE d AS (
  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id)
           AS rn
  FROM documents
), r AS (
  SELECT shard, rn, doc_id, n_tokens, 1 AS bin_local, n_tokens AS fill
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
         CASE WHEN r.fill + d.n_tokens <= 64 THEN r.bin_local
              ELSE r.bin_local + 1 END,
         CASE WHEN r.fill + d.n_tokens <= 64 THEN r.fill + d.n_tokens
              ELSE d.n_tokens END
  FROM r JOIN d ON d.shard = r.shard AND d.rn = r.rn + 1
)
SELECT doc_id, shard,
       CAST(shard AS BIGINT) * 2199023255552 + bin_local AS bin_id,
       n_tokens
FROM r
""",
    # integer-arg log2 rounds to 9dp before the mean (ulp-portable),
    # mean to 6dp — the tfidf discipline
    "text_ngram_lm_score": """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
), b0 AS (
  SELECT doc_id, toks,
         CAST(unnest(range(1, n_tokens)) AS INT) AS i
  FROM d
  WHERE n_tokens >= 2
), b AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM b0
), cb AS (
  SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2
), cu AS (
  SELECT w1, count(*) AS c1 FROM b GROUP BY w1
), scored AS (
  SELECT b.doc_id, round(log2(cb.c12) - log2(cu.c1), 9) AS lp
  FROM b JOIN cb USING (w1, w2) JOIN cu USING (w1)
)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(lp), 6) AS lm_score,
       round(avg(lp), 6) < -6.0 AS flagged
FROM scored GROUP BY doc_id
""",
    # 1-based inclusive DuckDB list slice == Spark slice(toks, start+1, len)
    "text_chunk_split": """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
), e AS (
  SELECT doc_id, toks, n_tokens,
         CAST(unnest(range(0, CAST(ceil(n_tokens / 16.0) AS BIGINT)))
              AS INT) AS chunk_id
  FROM d
  WHERE n_tokens > 0
)
SELECT doc_id, chunk_id,
       CAST(chunk_id * 16 AS INT) AS tok_start,
       CAST(least(16, n_tokens - chunk_id * 16) AS INT) AS n_chunk_tokens,
       array_to_string(
         toks[chunk_id * 16 + 1 :
              chunk_id * 16 + least(16, n_tokens - chunk_id * 16)],
         ' ') AS chunk_text
FROM e
""",
    "text_langid": _LANGID_SQL,
    "dedup_minhash_lsh": _MINHASH_SQL,
    # same honesty argument as _MINHASH_SQL: LSH recall is verified total
    # at 0.5 on the fixtures, and batch×corpus pairs are a subset of the
    # self-join pair set, so the exact batch-vs-corpus SQL is a complete
    # value oracle; the LEFT JOIN keeps zero-collision batch docs.
    "dedup_incremental": f"""
WITH t AS (SELECT doc_id, {_SHINGLE_SQL} AS shingles FROM documents),
bt AS (SELECT * FROM t WHERE doc_id % {_BATCH_MOD} = {_BATCH_REM}),
ct AS (SELECT * FROM t WHERE doc_id % {_BATCH_MOD} <> {_BATCH_REM}),
shb AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM bt),
shc AS (SELECT doc_id AS corpus_id, len(shingles) AS n_sh_c,
               unnest(shingles) AS sh FROM ct),
inter AS (
  SELECT b.doc_id, c.corpus_id, b.n_sh AS na, c.n_sh_c AS nb, count(*) AS c
  FROM shb b JOIN shc c USING (sh)
  GROUP BY 1, 2, 3, 4
),
ver AS (
  SELECT doc_id, round(CAST(c AS DOUBLE) / (na + nb - c), 6) AS jaccard
  FROM inter WHERE round(CAST(c AS DOUBLE) / (na + nb - c), 6) >= 0.5
),
agg AS (
  SELECT doc_id, count(*) AS n_dups, max(jaccard) AS max_jaccard
  FROM ver GROUP BY doc_id
)
SELECT bt.doc_id, coalesce(agg.n_dups, 0) AS n_dups, agg.max_jaccard,
       coalesce(agg.n_dups, 0) = 0 AS novel
FROM bt LEFT JOIN agg USING (doc_id)
""",
    # the two-day rolling replay: day-1 verdicts vs the base corpus,
    # day-1 novel docs join the corpus, day-2 verdicts (organic slice +
    # planted derivatives of every day-1 doc) vs the GROWN corpus —
    # complete for the Spark side's LSH candidates by the same
    # recall-is-total premise as dedup_incremental, and the planted
    # near-identical pairs are the easiest recall case by construction
    "dedup_incremental_rolling": f"""
WITH d1 AS (SELECT doc_id, text FROM documents
            WHERE doc_id % {_BATCH_MOD} = {_BATCH_REM}),
c0 AS (SELECT doc_id, text FROM documents
       WHERE doc_id % {_BATCH_MOD} NOT IN ({_BATCH_REM}, {_DAY2_REM})),
d2 AS (SELECT doc_id, text FROM documents
       WHERE doc_id % {_BATCH_MOD} = {_DAY2_REM}
       UNION ALL
       SELECT doc_id + {_PLANT_OFFSET}, text || ' rolling probe' FROM d1),
sd1 AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM d1),
sc0 AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM c0),
sd2 AS (SELECT doc_id, {_SHINGLE_SQL} AS sh FROM d2),
{_jaccard_day_block(1, 'sd1', 'sc0')},
corp1 AS (SELECT * FROM sc0
          UNION ALL
          SELECT sd1.* FROM sd1 JOIN v1 USING (doc_id) WHERE v1.novel),
{_jaccard_day_block(2, 'sd2', 'corp1')}
SELECT 1 AS day, doc_id, n_dups, max_jaccard, novel FROM v1
UNION ALL
SELECT 2 AS day, doc_id, n_dups, max_jaccard, novel FROM v2
""",
    "dedup_simhash": _simhash_sql(),
    "sim_lsh_ann": _LSH_RECALL_SQL,
    "sim_ivfpq_ann": _IVFPQ_RECALL_SQL,
    "sim_ivf_ann": _IVF_RECALL_SQL,
    "sim_ivf_incremental": _IVF_INCR_RECALL_SQL,
    "sim_pq_ann": _PQ_RECALL_SQL,
    "dedup_ngram_containment": _CONTAINMENT_SQL,
    "dedup_corpus_keep": _CORPUS_KEEP_SQL,
    # the composed curation pipeline, every stage recomputed from
    # scratch: plant -> quality (6-dp rounded, boundary-safe filter) ->
    # scrub -> exact+near dedup (recursive CTE over the τ=0.5 exact
    # inverted index — complete for the Spark side's LSH edges, recall
    # verified total) -> greedy packing replayed per shard (recursive
    # CTE, same rule as text_pack_greedy's oracle)
    # ingest-time curation verdict: shared scrub CTEs (scoring/scrub
    # identical to corpus_curate by construction), exact novelty via
    # text equality (the Spark side's digest semi-join, collision-free
    # at fixture scale by sha2 width), near novelty via the exact
    # batch×corpus jaccard pairs — complete for the Spark side's LSH
    # candidates by the same verified-total-recall-at-0.5 argument as
    # dedup_incremental's oracle
    "corpus_curate_incremental": f"""
WITH {_curate_scrub_ctes(quality_filtered=False)},
bat AS (SELECT * FROM scrub WHERE doc_id % {_BATCH_MOD} = {_BATCH_REM}),
corp AS (SELECT * FROM scrub WHERE doc_id % {_BATCH_MOD} <> {_BATCH_REM}
         AND quality_score >= {_CURATE_QUALITY_MIN}),
bq AS (SELECT * FROM bat WHERE quality_score >= {_CURATE_QUALITY_MIN}),
exact_dup AS (
  SELECT DISTINCT b.doc_id FROM bq b JOIN corp c ON b.text = c.text
),
tb AS (SELECT doc_id, {_SHINGLE_SQL} AS shingles FROM bq),
tc AS (SELECT doc_id, {_SHINGLE_SQL} AS shingles FROM corp),
shb AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM tb),
shc AS (SELECT doc_id AS corpus_id, len(shingles) AS n_sh_c,
               unnest(shingles) AS sh FROM tc),
inter AS (
  SELECT b.doc_id, c.corpus_id, b.n_sh AS na, c.n_sh_c AS nb, count(*) AS c
  FROM shb b JOIN shc c USING (sh) GROUP BY 1, 2, 3, 4
),
ver AS (
  SELECT doc_id FROM inter
  WHERE round(CAST(c AS DOUBLE) / (na + nb - c), 6) >= 0.5
),
agg AS (SELECT doc_id, count(*) AS n_dups FROM ver GROUP BY doc_id)
SELECT bat.doc_id, bat.quality_score, bat.had_pii,
       coalesce(bat.quality_score >= {_CURATE_QUALITY_MIN}, FALSE)
         AS passed_quality,
       coalesce(bat.quality_score >= {_CURATE_QUALITY_MIN}, FALSE)
         AND e.doc_id IS NULL AS novel_exact,
       coalesce(bat.quality_score >= {_CURATE_QUALITY_MIN}, FALSE)
         AND coalesce(agg.n_dups, 0) = 0 AS novel_near,
       coalesce(bat.quality_score >= {_CURATE_QUALITY_MIN}, FALSE)
         AND e.doc_id IS NULL AND coalesce(agg.n_dups, 0) = 0 AS admitted
FROM bat LEFT JOIN exact_dup e USING (doc_id) LEFT JOIN agg USING (doc_id)
""",
    "corpus_curate": _curate_oracle_sql(),
    # same oracle re-sourced from the reconstructed post-strip text:
    # constant 'Doc & <corpus> ' header + whitespace-collapsed original
    "corpus_curate_web": _curate_oracle_sql(
        pre="""web AS (
  SELECT doc_id, rtrim('Doc & <corpus> '
         || trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS text
  FROM documents
),
""", src="web"),
    # dataset-release CDC: derive v1 in plain SQL, hash both sides,
    # full-outer classify — DELETE carries the pre-image like the
    # reference (sync.py:199-215)
    "corpus_version_diff": f"""
WITH v1raw AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_VDIFF_MOD} = {_VDIFF_EDIT}
              THEN text || ' (rev 2)' ELSE text END AS text,
         lang
  FROM documents WHERE doc_id % {_VDIFF_MOD} <> {_VDIFF_DROP}
  UNION ALL
  SELECT -doc_id, text || ' (new in v1)', lang
  FROM documents
  WHERE doc_id % {_VDIFF_ADD_MOD} = {_VDIFF_ADD_REM} AND doc_id > 0
),
v1 AS (SELECT doc_id, sha256(text) AS digest, lang,
              len(text) AS n_chars FROM v1raw),
v0 AS (SELECT doc_id, sha256(text) AS digest, lang,
              len(text) AS n_chars FROM documents)
SELECT coalesce(p.doc_id, b.doc_id) AS doc_id,
       CASE WHEN b.doc_id IS NULL THEN 'INSERT'
            WHEN p.doc_id IS NULL THEN 'DELETE'
            ELSE 'UPDATE' END AS change_type,
       CASE WHEN p.doc_id IS NULL THEN b.digest ELSE p.digest END AS digest,
       CASE WHEN p.doc_id IS NULL THEN b.lang ELSE p.lang END AS lang,
       CASE WHEN p.doc_id IS NULL THEN b.n_chars
            ELSE p.n_chars END AS n_chars
FROM v1 p FULL OUTER JOIN v0 b ON p.doc_id = b.doc_id
WHERE b.doc_id IS NULL OR p.doc_id IS NULL
   OR NOT (p.digest IS NOT DISTINCT FROM b.digest
           AND p.lang IS NOT DISTINCT FROM b.lang
           AND p.n_chars IS NOT DISTINCT FROM b.n_chars)
""",
    # seeded reshard: the mod-first Knuth hash is exact bigint
    # arithmetic in both engines; fixture doc_ids are non-negative so
    # DuckDB's sign-of-dividend % equals Spark's pmod
    "sample_reshard_seeded": f"""
WITH h AS (
  SELECT doc_id,
         ((doc_id + {_RESHARD_SEED}) % {_RESHARD_M} * 2654435761)
           % {_RESHARD_M} AS h
  FROM documents
)
SELECT doc_id, CAST(h % {_RESHARD_SHARDS} AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY h % {_RESHARD_SHARDS}
                               ORDER BY h, doc_id) AS BIGINT) AS pos
FROM h
""",
    # the data card's dup exposure stated as the naive window the Spark
    # side avoids (digest-freq aggregate ≡ count() over (partition by
    # text) absent sha2 collisions)
    "corpus_datacard": """
WITH d AS (
  SELECT lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(n_chars AS BIGINT) AS n_chars,
         count(*) OVER (PARTITION BY text) AS freq
  FROM documents
), per AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(sum(CASE WHEN freq > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_docs
  FROM d GROUP BY lang
), tot AS (SELECT sum(n_docs) AS corpus_docs FROM per)
SELECT lang, n_docs, total_tokens, total_chars, n_dup_docs,
       CAST((1000000::HUGEINT * n_docs) // corpus_docs AS BIGINT)
         AS share_ppm
FROM per, tot
""",
    # epoch upsampling: HUGEINT integer division mirrors the Spark
    # DECIMAL(38) DIV bit-for-bit, so membership of the fractional-epoch
    # slice matches row-for-row
    "sample_mix_epochs": """
WITH d AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), stats AS (
  SELECT lang, sum(n_tokens) AS toks FROM d GROUP BY lang
), tgt AS (
  SELECT max(toks) AS target FROM stats
), r AS (
  SELECT lang, CAST((1000000::HUGEINT * target) // toks AS BIGINT) AS r_ppm
  FROM stats, tgt
), e AS (
  SELECT d.doc_id, d.lang,
         CAST(r_ppm // 1000000
              + CASE WHEN (d.doc_id % 1000000 * 2654435761) % 1000000
                          < r_ppm % 1000000 THEN 1 ELSE 0 END
              AS INT) AS n_epochs
  FROM d JOIN r USING (lang)
)
SELECT doc_id, lang,
       CAST(unnest(range(0, n_epochs)) AS INT) AS epoch, n_epochs
FROM e
""",
    # token-budget selection: the oracle states the NAIVE global
    # running-sum window the Spark side deliberately avoids (three-level
    # prefix sum) — identical rows proves the decomposition exact
    "sample_token_budget": f"""
WITH d AS (
  SELECT doc_id,
         round(least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE)
                          / 100.0)
               * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                    t -> list_contains({_STOP_SQL}, t))) AS DOUBLE)
                  / len(string_split(text, ' '))), 6) AS quality_score,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
tot AS (SELECT CAST(sum(n_tokens) // 20 AS BIGINT) AS budget FROM d),
r AS (
  SELECT doc_id, quality_score, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id)
              AS BIGINT) AS cum_tokens
  FROM d
)
SELECT r.doc_id, r.quality_score, r.n_tokens, r.cum_tokens
FROM r, tot WHERE r.cum_tokens <= tot.budget
""",
    # repeated-span scrub: 10-word positional chunks, keep-first by
    # (doc_id, pos) — pure relational algebra, recomputed from scratch
    "dedup_paragraph": f"""
WITH {_paragraph_ctes("documents")}
SELECT doc_id,
       coalesce(string_agg(CASE WHEN kept THEN chunk END, ' '
                           ORDER BY pos), '') AS clean_text,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
FROM marked GROUP BY doc_id
""",
    "text_tfidf_topk": _TFIDF_SQL,
    "dedup_exact": """
SELECT sha256(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY sha256(text)
""",
    "dedup_ngram_jaccard": _NGRAM_SQL,
    # recursive-CTE components over the τ=0.5 pair set — the exact
    # inverted-index SQL is a complete oracle for the key's LSH edges
    # (recall verified total at 0.5; same argument as dedup_minhash_lsh)
    "dedup_cluster_components": f"""
WITH RECURSIVE {_ngram_pairs_ctes(0.5)},
{_COMPONENTS_CTES}
SELECT doc_id, component FROM comp
""",
    # recursive-CTE components over the τ=0.5 pair set (the exact
    # inverted-index SQL — a complete oracle for the LSH edges, same
    # argument as dedup_minhash_lsh), then the soft-dedup weighting:
    # integer keep_ppm + Knuth-hash membership, engine-exact
    "dedup_soft_keep": f"""
WITH RECURSIVE {_ngram_pairs_ctes(0.5)},
{_COMPONENTS_CTES},
allc AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
sizes AS (
  SELECT component, count(*) AS cluster_size FROM allc GROUP BY component
)
SELECT a.doc_id, a.component, s.cluster_size,
       CAST(1000000 // s.cluster_size AS BIGINT) AS keep_ppm,
       (a.doc_id % 1000000 * 2654435761) % 1000000
         < CAST(1000000 // s.cluster_size AS BIGINT) AS kept
FROM allc a JOIN sizes s USING (component)
""",
    # EXHAUSTIVE pair scan (no blocking): complete ground truth for the
    # LSH-bucket-blocked Spark plan — recall of the fixture-regime
    # 4-plane/16-table blocking is verified total at τ=0.5 on all three
    # fixture SFs (tests/test_pipeline.py), so equality here proves the
    # blocking loses nothing, the same argument dedup_minhash_lsh makes.
    "dedup_embedding_cosine": """
WITH e AS (
  SELECT vec_id, embedding,
         sqrt(list_aggregate(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
  FROM embeddings
)
SELECT * FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_aggregate(list_transform(generate_series(1, len(a.embedding)),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
               'sum') / (a.nrm * b.nrm), 6) AS cosine
  FROM e a JOIN e b ON a.vec_id < b.vec_id
) WHERE cosine >= 0.5
""",
    # exhaustive batch×corpus scan — complete oracle for the LSH-blocked
    # incremental path by the same recall-is-total argument; every output
    # aggregate depends only on pairs >= τ, so it is blocking-independent
    "dedup_embedding_incremental": """
WITH e AS (
  SELECT vec_id, embedding,
         sqrt(list_aggregate(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
  FROM embeddings
),
b AS (SELECT * FROM e WHERE vec_id % 16 = 5),
c AS (SELECT * FROM e WHERE vec_id % 16 <> 5),
p AS (
  SELECT b.vec_id,
         round(list_aggregate(list_transform(generate_series(1, len(b.embedding)),
               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
               'sum') / (b.nrm * c.nrm), 6) AS cosine
  FROM b, c
),
h AS (
  SELECT vec_id, count(*) AS n_dups, max(cosine) AS max_cosine
  FROM p WHERE cosine >= 0.5 GROUP BY vec_id
)
SELECT b.vec_id, coalesce(h.n_dups, 0) AS n_dups, h.max_cosine,
       coalesce(h.n_dups, 0) = 0 AS novel
FROM b LEFT JOIN h USING (vec_id)
""",
    "sim_topk_cosine": """
WITH e AS (
  SELECT vec_id, embedding,
         sqrt(list_aggregate(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nrm
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
  FROM e WHERE vec_id < 10
), p AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_aggregate(list_transform(generate_series(1, len(e.embedding)),
               i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
               'sum') / (q.q_nrm * e.nrm), 6) AS cosine
  FROM q CROSS JOIN e WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM p
) WHERE rank <= 10
""",
    "text_tokens_tf": """
SELECT token, count(*) AS tf FROM (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
) WHERE token <> '' GROUP BY token
""",
    "text_lang_stats": """
SELECT lang, count(*) AS n_docs, avg(n_chars) AS avg_chars,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
""",
    "text_length_histogram": """
SELECT lang, CAST(n_chars // 100 AS INT) AS bucket,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(min(n_chars) AS INT) AS min_chars,
       CAST(max(n_chars) AS INT) AS max_chars
FROM documents GROUP BY lang, bucket
""",
    "text_quality_score": f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
              t -> list_contains({_STOP_SQL}, t))) AS DOUBLE) AS stop_hits,
         CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_nonspace,
         CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS INT)
           AS punct_count
  FROM documents
)
SELECT doc_id, n_tokens,
       round(n_nonspace / n_tokens, 6) AS avg_token_len,
       round(stop_hits / n_tokens, 6) AS stopword_ratio,
       punct_count,
       round(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
             * (1.0 - stop_hits / n_tokens), 6) AS quality_score
FROM t
""",
    # flags compare the 6-dp ROUNDED features, so the boolean columns are
    # engine-exact wherever the features are (same discipline as
    # text_quality_score's rounded ratios)
    "text_gopher_filters": f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INT) AS n_words,
         round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')), 6) AS mean_word_len,
         round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')), 6) AS distinct_frac,
         CAST(len(list_filter({_STOP_SQL},
              s -> list_contains(string_split(text, ' '), s))) AS INT)
           AS n_stop_distinct
  FROM documents
)
SELECT doc_id, n_words, mean_word_len, distinct_frac, n_stop_distinct,
       (n_words >= 30 AND n_words <= 1000) AS flag_word_count,
       (mean_word_len >= 4.0 AND mean_word_len <= 5.0) AS flag_mean_len,
       (distinct_frac >= 0.4) AS flag_distinct,
       (n_stop_distinct >= 2) AS flag_stopwords,
       ((n_words >= 30 AND n_words <= 1000)
        AND (mean_word_len >= 4.0 AND mean_word_len <= 5.0)
        AND distinct_frac >= 0.4 AND n_stop_distinct >= 2) AS keep
FROM t
""",
    "text_token_count": f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{T.TOKEN_PATTERN}')) AS INT) AS n_bpe_tokens,
       CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
       round(CAST(length(text) AS DOUBLE)
             / len(regexp_extract_all(text, '{T.TOKEN_PATTERN}')), 6) AS chars_per_token
FROM documents
""",
    "text_fingerprint": """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
         AS fingerprint
FROM documents
""",
    "multimodal_columns": """
SELECT d.doc_id, d.lang, e.label,
       CAST(length(d.text) AS INT) AS text_len,
       CAST(len(e.embedding) AS INT) AS dim,
       round(sqrt(list_aggregate(list_transform(e.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 6) AS l2_norm
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
""",
    "multimodal_decode": """
SELECT doc_id,
       CAST(strlen(text) AS INT) AS n_bytes,
       md5(text) AS payload_md5,
       lower(hex(substr(text, 1, 4))) AS header_hex
FROM documents
""",
    # dims recomputed from the doc_id arithmetic the staged-file writer
    # used — the Spark side can only match by actually parsing the
    # PNG/GIF/JPEG container bytes
    "multimodal_image_dims": """
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
            ELSE 'jpeg' END AS format,
       CAST(16 + (doc_id * 7919) % 2000 AS INT) AS width,
       CAST(16 + (doc_id * 104729) % 2000 AS INT) AS height,
       CAST(200 + doc_id % 100 AS INT) AS n_bytes
FROM documents WHERE doc_id < 60
""",
    # exact per-channel sums recomputed from the COEFFICIENT arithmetic
    # alone (decoded luma = 128 + a + b*sx + c*sy, chroma offsets from
    # the pinned rounding table) — only a byte-correct Huffman entropy
    # decode + dequantize + IDCT + YCbCr->RGB can match
    "multimodal_jpeg_pixels": """
WITH d AS (
  SELECT doc_id,
         CAST(CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 8 END
              * (1 + doc_id % 4) AS INT) AS width,
         CAST(CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 8 END
              * (1 + doc_id % 3) AS INT) AS height,
         2 * ((doc_id % 5) - 2) AS cd
  FROM documents WHERE doc_id < 40
), o AS (
  SELECT *,
         CASE cd WHEN -4 THEN -6 WHEN -2 THEN -3 WHEN 0 THEN 0
                 WHEN 2 THEN 3 ELSE 6 END AS ro,
         CASE cd WHEN -4 THEN 4 WHEN -2 THEN 2 WHEN 0 THEN 0
                 WHEN 2 THEN -2 ELSE -4 END AS go,
         CASE cd WHEN -4 THEN -7 WHEN -2 THEN -4 WHEN 0 THEN 0
                 WHEN 2 THEN 4 ELSE 7 END AS bo
  FROM d
), px AS (
  SELECT o.doc_id, o.width, o.height, o.ro, o.go, o.bo,
         128 + ((o.doc_id * 7 + (xs.x // 8) * 3 + (ys.y // 8) * 5) % 121 - 60)
             + ((o.doc_id + (xs.x // 8) * 11 + (ys.y // 8)) % 41 - 20)
               * (CASE WHEN ((xs.x % 8 + 1) // 2) % 2 = 0 THEN 1 ELSE -1 END)
             + ((o.doc_id * 13 + (xs.x // 8) + (ys.y // 8) * 17) % 41 - 20)
               * (CASE WHEN ((ys.y % 8 + 1) // 2) % 2 = 0 THEN 1 ELSE -1 END)
         AS yv
  FROM o,
       LATERAL (SELECT unnest(generate_series(0, o.width - 1)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(0, o.height - 1)) AS y) ys
)
SELECT doc_id, width, height,
       CAST(sum(yv + ro) AS BIGINT) AS sum_r,
       CAST(sum(yv + go) AS BIGINT) AS sum_g,
       CAST(sum(yv + bo) AS BIGINT) AS sum_b,
       CAST(count(*) AS BIGINT) AS n_px
FROM px GROUP BY doc_id, width, height
""",
    # exact per-channel sums recomputed from the index-formula + palette
    # arithmetic alone — only a byte-correct variable-width LZW round
    # trip (incl. sub-block reassembly and palette lookup) can match
    "multimodal_gif_pixels": """
WITH d AS (SELECT doc_id, CAST(24 + doc_id % 40 AS INT) AS width,
                  CAST(16 + doc_id % 40 AS INT) AS height
           FROM documents WHERE doc_id < 40),
px AS (
  SELECT d.doc_id, d.width, d.height,
         (5 * xs.x + 11 * ys.y) % 251 AS idx
  FROM d,
       LATERAL (SELECT unnest(generate_series(0, d.width - 1)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(0, d.height - 1)) AS y) ys
)
SELECT doc_id, width, height,
       CAST(sum(idx) AS BIGINT) AS sum_r,
       CAST(sum((3 * idx) % 256) AS BIGINT) AS sum_g,
       CAST(sum((7 * idx) % 256) AS BIGINT) AS sum_b,
       CAST(count(*) AS BIGINT) AS n_px
FROM px GROUP BY doc_id, width, height
""",
    # exact per-channel sums recomputed from the pixel formula alone —
    # only a byte-correct inflate + unfilter of all five PNG filters
    # can reproduce them
    "multimodal_pixel_stats": """
WITH d AS (SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS width,
                  CAST(8 + doc_id % 7 AS INT) AS height
           FROM documents WHERE doc_id < 40),
px AS (
  SELECT d.doc_id, d.width, d.height, (7 * xs.x + 13 * ys.y) AS base
  FROM d,
       LATERAL (SELECT unnest(generate_series(0, d.width - 1)) AS x) xs,
       LATERAL (SELECT unnest(generate_series(0, d.height - 1)) AS y) ys
)
SELECT doc_id, width, height,
       CAST(sum(base % 251) AS BIGINT) AS sum_r,
       CAST(sum((base + 31) % 251) AS BIGINT) AS sum_g,
       CAST(sum((base + 62) % 251) AS BIGINT) AS sum_b,
       CAST(count(*) AS BIGINT) AS n_px
FROM px GROUP BY doc_id, width, height
""",
    # every per-track field recomputed from the track-index arithmetic —
    # only a correct recursive moov/trak/mdia walk matches
    "multimodal_track_meta": """
WITH d AS (SELECT doc_id, CAST(1 + doc_id % 3 AS INT) AS n_traks,
                  CAST(3000 + doc_id * 53 AS BIGINT) AS dur
           FROM documents WHERE doc_id < 60 AND doc_id % 2 = 1)
SELECT d.doc_id, CAST(ts.t + 1 AS INT) AS track_id,
       CASE WHEN ts.t % 2 = 0 THEN 'vide' ELSE 'soun' END AS handler,
       CAST(1000 + 500 * ts.t AS BIGINT) AS media_timescale,
       CAST((d.dur * (ts.t + 1) * 1000) // (1000 + 500 * ts.t)
            AS BIGINT) AS duration_ms
FROM d, LATERAL (SELECT unnest(generate_series(0, d.n_traks - 1)) AS t) ts
""",
    # exact channel-0 sample stats recomputed from the synth byte
    # formula — only a byte-correct PCM read (interleave + sign) matches
    "multimodal_audio_stats": """
WITH d AS (
  SELECT doc_id,
         CAST(8000 + (doc_id % 5) * 4000 AS INT) AS rate,
         CAST(1 + (doc_id // 2) % 2 AS INT) AS ch,
         CAST(1000 + doc_id * 37 AS BIGINT) AS n
  FROM documents WHERE doc_id < 60 AND doc_id % 2 = 0
), s AS (
  SELECT d.doc_id, d.rate, d.ch, d.n,
         ((d.rate + 7 * d.ch) + 26 * d.ch * fs.f) % 256 AS lo,
         ((d.rate + 7 * d.ch) + 26 * d.ch * fs.f + 13) % 256 AS hi
  FROM d, LATERAL (SELECT unnest(generate_series(0, d.n - 1)) AS f) fs
), v AS (
  SELECT doc_id, rate, ch, n,
         lo + 256 * hi - CASE WHEN hi >= 128 THEN 65536 ELSE 0 END AS val
  FROM s
)
SELECT doc_id, rate AS sample_rate, ch AS n_channels,
       CAST(n AS BIGINT) AS n_samples,
       CAST(sum(val) AS BIGINT) AS sum_ch0,
       CAST(min(val) AS INT) AS min_ch0,
       CAST(max(val) AS INT) AS max_ch0
FROM v GROUP BY doc_id, rate, ch, n
""",
    # every field recomputed from the doc_id arithmetic the staged-file
    # writer used — the Spark side can only match by actually walking
    # the RIFF chunks / ISO-BMFF boxes
    "multimodal_media_meta": """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp4' END AS container,
       CAST(CASE WHEN doc_id % 2 = 0
            THEN ((1000 + doc_id * 37) * 1000) // (8000 + (doc_id % 5) * 4000)
            ELSE ((3000 + doc_id * 53) * 1000) // (600 + (doc_id % 7) * 100)
            END AS BIGINT) AS duration_ms,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 8000 + (doc_id % 5) * 4000
            ELSE 600 + (doc_id % 7) * 100 END AS BIGINT) AS sample_rate,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id // 2) % 2
            ELSE 1 + doc_id % 3 END AS INT) AS n_tracks,
       CAST(CASE WHEN doc_id % 2 = 0
            THEN 44 + (1000 + doc_id * 37) * (1 + (doc_id // 2) % 2) * 2
            ELSE 900 + doc_id % 100 END AS INT) AS n_bytes
FROM documents WHERE doc_id < 60
""",
    # frames recomputed from the text the payload encodes — byte-exact
    # because fixture text is ASCII (1 byte/char); non-ASCII would fail
    # parity loudly
    "multimodal_frame_sample": """
WITH d AS (
  SELECT doc_id, text, strlen(text) AS n FROM documents WHERE strlen(text) > 0
), f AS (
  SELECT doc_id, text, n,
         CAST(unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS INT)
           AS frame_id
  FROM d
)
SELECT doc_id, frame_id,
       CAST(frame_id * 64 AS INT) AS byte_offset,
       CAST(least(64, n - frame_id * 64) AS INT) AS n_frame_bytes,
       md5(substr(text, frame_id * 64 + 1, 64)) AS frame_md5
FROM f WHERE frame_id % 3 = 0
""",
    "udf_tokenizer": """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       string_split(text, ' ')[1] AS first_token
FROM documents
""",
    "udaf_pandas_grouped": """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY lang
""",
    "udtf_statement_split": """
SELECT doc_id, CAST(g - 1 AS INT) AS pos, parts[g] AS token
FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents) t,
     LATERAL (SELECT unnest(generate_series(1, len(t.parts))) AS g) u
WHERE parts[g] <> ''
""",
}

# The at-rest-indexed ingest path is value-identical to the inline path
# BY CONTRACT (same bands, same verify); giving it the SAME oracle makes
# the driver hash certify that contract every round.
ORACLES["dedup_incremental_indexed"] = ORACLES["dedup_incremental"]
