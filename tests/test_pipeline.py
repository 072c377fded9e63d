"""Semantic checks for pipeline keys the oracle can't cover
(hash-family-specific LSH/simhash/ANN, learned langid)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from database_syncer_spark.catalog import load_table
from database_syncer_spark.pipeline.dedup import (
    embedding_incremental_near_dup, minhash_lsh_dedup, ngram_jaccard_pairs,
    simhash_dedup,
)
from database_syncer_spark.pipeline.multimodal import multimodal_join
from database_syncer_spark.pipeline.similarity import (
    _adc_scan, _with_cell_and_codes, _with_pq_codes, _with_probe_cells,
    brute_force_topk, lsh_ann_topk,
)
from database_syncer_spark.pipeline.text import classify_lang, train_lang_profiles


@pytest.fixture(scope="module")
def near_dup_corpus(spark, sf_dir):
    """50 fixture docs + for each of the first 10: an exact copy and a
    1-token-edited copy, with fresh doc_ids."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    exact = docs.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text", "lang", "source", "n_chars")
    edited = docs.where(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 2000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzedit")).alias("text"),
        "lang", "source", "n_chars")
    return docs.unionByName(exact).unionByName(edited)


def _py_trigram_jaccard(t1: str, t2: str) -> float:
    def sh(t):
        w = t.split(" ")
        if len(w) < 3:
            return {" ".join(w)}
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    a, b = sh(t1), sh(t2)
    return len(a & b) / len(a | b)


def test_minhash_lsh_finds_planted_dups(spark, near_dup_corpus):
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in minhash_lsh_dedup(near_dup_corpus, threshold=0.5).collect()}
    # every exact copy must be found with jaccard 1.0 (LSH cannot miss
    # identical signatures)
    for i in range(10):
        assert pairs.get((i, i + 1000)) == 1.0, (i, pairs.get((i, i + 1000)))
    # reported jaccards are exact (verified against a python reimpl)
    texts = {r.doc_id: r.text for r in near_dup_corpus.collect()}
    for (a, b), j in pairs.items():
        assert abs(_py_trigram_jaccard(texts[a], texts[b]) - j) < 1e-6


def test_minhash_lsh_duplicate_doc_id_rows_union(spark):
    """A corpus with the SAME doc_id on multiple rows (a re-ingested doc
    with revised text) must behave as ONE logical doc whose shingle set
    is the union of its copies — one output row per pair, jaccard
    computed on the union (the pre-r6 collect_set semantics; the r6
    skinny rewrite initially fanned the verify join out per copy,
    caught in review)."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (1, "alpha beta gamma delta epsilon eta"),      # same id, revised
        (2, "alpha beta gamma delta epsilon zeta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_lsh_dedup(docs, threshold=0.1).collect()
    assert [(r.doc_a, r.doc_b) for r in out] == [(1, 2)], out
    # doc 1 = union of its two copies' shingle sets, doc 2 = one copy's
    # set; expected jaccard recomputed from scratch below
    sh = lambda t: {" ".join(t.split()[i:i + 3])
                    for i in range(len(t.split()) - 2)}
    u1 = sh(rows[0][1]) | sh(rows[1][1])
    u2 = sh(rows[2][1])
    want = round(len(u1 & u2) / len(u1 | u2), 6)
    assert abs(out[0].jaccard - want) < 1e-9, (out[0].jaccard, want)


def test_paragraph_dedup_keep_first_semantics(spark):
    """Repeated 10-word spans are scrubbed everywhere except their FIRST
    occurrence by (doc_id, pos): a verbatim late duplicate comes back
    fully empty, a doc repeating a span internally keeps only the first
    copy, unique text is untouched, and n_chunks/n_removed count spans
    (ceil(words/10)), not words."""
    from database_syncer_spark.pipeline.dedup import paragraph_dedup

    span = "one two three four five six seven eight nine ten"
    uniq = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, span + " " + uniq),     # first occurrence of both spans
        (2, span),                  # late exact duplicate -> scrubbed
        (3, span + " " + span),     # internal repeat: pos 1 removed too
        (4, "lone tail words"),     # short doc = 1 chunk, untouched
        (5, None),                  # NULL text must still emit its row
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_chunks, r.n_removed)
           for r in paragraph_dedup(docs).collect()}
    assert got[1] == (span + " " + uniq, 2, 0)
    assert got[2] == ("", 1, 1)
    assert got[3] == ("", 2, 2)     # doc 1 owns the first occurrence
    assert got[4] == ("lone tail words", 1, 0)
    assert got[5] == ("", 1, 0)     # one-row-per-input-doc contract


def test_paragraph_dedup_matches_python_reference(spark):
    """Randomized (seeded) corpus vs a from-scratch pure-Python
    reference: 300 docs over a tiny vocabulary with planted exact
    duplicates and shared prefixes, exact row equality on
    (clean_text, n_chunks, n_removed). One Spark job — the reference
    is the per-example oracle a property test would use, amortized."""
    import math
    import random
    from collections import Counter, defaultdict

    from database_syncer_spark.pipeline.dedup import paragraph_dedup

    rng = random.Random(42)
    vocab = "red blue green lake stone river cloud iron moon salt".split()
    rows = []
    for d in range(1, 301):
        if d % 17 == 0 and rows:          # planted exact duplicate
            rows.append((d, rows[rng.randrange(len(rows))][1]))
        else:
            n = rng.randint(1, 35)
            rows.append((d, " ".join(rng.choice(vocab) for _ in range(n))))

    def reference(rows, k=10):
        chunks = []
        for doc_id, text in rows:
            ws = text.split(" ")
            for i in range(math.ceil(len(ws) / k)):
                chunks.append((doc_id, i, " ".join(ws[i * k:(i + 1) * k])))
        freq = Counter(c for _, _, c in chunks)
        first = {}
        for d, p, c in sorted(chunks):
            first.setdefault(c, (d, p))
        per_doc = defaultdict(list)
        for d, p, c in chunks:
            per_doc[d].append((p, c))
        return {d: (" ".join(c for p, c in sorted(lst)
                             if freq[c] == 1 or first[c] == (d, p)),
                    len(lst),
                    sum(1 for p, c in lst
                        if freq[c] > 1 and first[c] != (d, p)))
                for d, lst in per_doc.items()}

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_chunks, r.n_removed)
           for r in paragraph_dedup(docs).collect()}
    want = reference(rows)
    assert got == want
    assert sum(v[2] for v in want.values()) > 0  # non-vacuous


def test_corpus_curate_stage_semantics(spark, tmp_path):
    """The composed pipeline's stage ordering on a planted corpus:
    low-quality docs never reach packing, the PII slice is scrubbed
    (had_pii=True and n_tokens reflects the SCRUBBED text), exact
    duplicates collapse to the min doc_id AFTER scrubbing."""
    from database_syncer_spark.queries.pipeline import corpus_curate

    # disjoint vocabularies per doc — shared words would (correctly)
    # make them near-dups and collapse them, which is not this test
    rows = [(1, " ".join(f"w{i}" for i in range(40))),   # score 0.40
            (2, " ".join(f"v{i}" for i in range(30))),   # 0.30 < 0.35
            (3, " ".join(f"x{i}" for i in range(41))),   # planted-PII slice
            (21, " ".join(f"y{i}" for i in range(42))),  # exact dups...
            (41, " ".join(f"y{i}" for i in range(42)))]  # ...of each other
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(f"{sf}/documents.parquet")
    got = {r.doc_id: r for r in corpus_curate(spark, sf).collect()}
    assert 2 not in got                      # quality-filtered out
    assert 41 not in got and 21 in got       # exact dedup keeps min id
    assert got[3].had_pii and not got[1].had_pii
    assert got[1].n_tokens == 40 and got[21].n_tokens == 42
    # planted " contact agentN@example.com now" scrubs to
    # " contact <EMAIL> now": 41 base tokens + 3 scrubbed-suffix tokens
    assert got[3].n_tokens == 44


def test_token_budget_selection_semantics(spark, tmp_path):
    """Selection is the exact prefix of the (quality DESC, doc_id)
    ordering under cum_tokens <= total//20: a boundary-score group is
    split mid-group by doc_id order, and cum_tokens carries the exact
    global running total across score groups."""
    from database_syncer_spark.queries.pipeline import sample_token_budget

    # 20 high-quality docs of 50 tokens (score 0.5), 20 low (25 tokens,
    # score 0.25): total = 1500, budget = 75 -> the first high doc
    # (50) fits, the second (cum 100) does not.
    hi = " ".join(f"h{i}" for i in range(50))
    lo = " ".join(f"l{i}" for i in range(25))
    rows = ([(i, hi) for i in range(1, 21)]
            + [(100 + i, lo) for i in range(1, 21)])
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(f"{sf}/documents.parquet")
    got = {r.doc_id: r.cum_tokens
           for r in sample_token_budget(spark, sf).collect()}
    assert got == {1: 50}


def test_corpus_curate_incremental_semantics(spark, tmp_path):
    """Hand-checkable admission verdicts: exact copy of a corpus doc is
    caught by the digest gate, a one-token edit by the near gate, a
    novel doc is admitted, and a quality-fail short-circuits every gate
    to FALSE (non-null booleans throughout)."""
    from database_syncer_spark.queries.pipeline import (
        corpus_curate_incremental)

    a = " ".join(f"alpha{i}" for i in range(60))
    a_edit = a.replace("alpha30", "edited30")
    b = " ".join(f"beta{i}" for i in range(60))
    rows = [
        (1, a),            # corpus (1 % 16 != 5), quality-passing
        (5, a),            # batch: exact dup of corpus doc 1
        (21, a_edit),      # batch: near-dup (jaccard >> 0.5)
        (37, b),           # batch: novel
        (53, "the the the the"),  # batch: quality-fail (all stopwords)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(f"{sf}/documents.parquet")
    got = {r.doc_id: r for r in
           corpus_curate_incremental(spark, sf).collect()}
    assert set(got) == {5, 21, 37, 53}
    assert not got[5].novel_exact and not got[5].novel_near
    assert got[21].novel_exact and not got[21].novel_near
    assert got[37].admitted and got[37].novel_exact and got[37].novel_near
    assert not got[53].passed_quality
    for r in got.values():  # admission gates are never NULL
        assert None not in (r.passed_quality, r.novel_exact,
                            r.novel_near, r.admitted)
    assert [r.admitted for r in got.values()].count(True) == 1


def test_token_budget_score_cardinality_guard(spark):
    """A score column violating the 6-dp-rounded contract (continuous,
    corpus-cardinality distinct values) must fail LOUD before the
    driver collect, not silently pull the corpus onto the driver
    (r9 verdict item: the collect is O(distinct scores) and nothing
    else guards the bound)."""
    import database_syncer_spark.queries.pipeline as qp

    # 200 docs with 200 distinct scores, cap patched down to 100 so
    # the guard trips at test scale.
    d = spark.range(1, 201).select(
        F.col("id").alias("doc_id"),
        (F.col("id") / 1000.0).alias("quality_score"),
        F.lit(10).cast("long").alias("n_tokens"))
    orig = qp._BUDGET_SCORE_CARDINALITY_CAP
    qp._BUDGET_SCORE_CARDINALITY_CAP = 100
    try:
        with pytest.raises(ValueError, match="distinct quality_score"):
            qp._token_budget_select(spark, d)
    finally:
        qp._BUDGET_SCORE_CARDINALITY_CAP = orig
    # within the cap the limited collect is the COMPLETE table: same
    # rows as an uncapped selection
    assert qp._token_budget_select(spark, d).count() > 0


def test_soft_keep_counts_duplicate_instances(spark):
    """cluster_size counts corpus ROWS (duplicate instances), never
    component nodes: 3 rows of one doc_id with no near-dup partner form
    a size-3 cluster (keep_ppm 333333, one expected survivor) — the
    down-weighting soft dedup exists for. An r6 node-count 'optimization'
    broke exactly this and passed every unique-id fixture (review
    catch); also pins that two near-dup docs where one is duplicated
    count 2+1=3 instances."""
    from database_syncer_spark.pipeline.dedup import soft_keep_weights

    rows = [
        (7, "solo doc repeated verbatim entry one two three"),
        (7, "solo doc repeated verbatim entry one two three"),
        (7, "solo doc repeated verbatim entry one two three"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (9, "completely unrelated text about something else entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = soft_keep_weights(docs).collect()
    got = {(r.doc_id): (r.component, r.cluster_size, r.keep_ppm)
           for r in out}
    assert got[7] == (7, 3, 333333)          # 3 instances, no partners
    assert got[1] == (1, 3, 333333)          # 2 instances + doc 2
    assert got[2] == (1, 3, 333333)
    assert got[9] == (9, 1, 1000000)         # true singleton
    # every instance row is emitted (weights are per corpus row)
    assert len(out) == len(rows)


def test_ngram_jaccard_exact_vs_python(spark, near_dup_corpus):
    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in ngram_jaccard_pairs(near_dup_corpus, threshold=0.5).collect()}
    texts = {r.doc_id: r.text for r in near_dup_corpus.collect()}
    expect = {}
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            j = _py_trigram_jaccard(texts[a], texts[b])
            if round(j, 6) >= 0.5:
                expect[(a, b)] = round(j, 6)
    assert set(got) == set(expect)
    for k in got:
        assert abs(got[k] - expect[k]) < 1e-6


def test_minhash_families_are_independent(spark, sf_dir):
    """Regression: a 2-arg transform lambda once bound the family seed to
    the array index, collapsing all K families into one. For real
    multi-shingle docs the K minhashes must not all coincide."""
    from database_syncer_spark.pipeline.dedup import N_HASHES, minhash_signatures

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    sigs = minhash_signatures(docs).collect()
    assert sigs
    degenerate = sum(
        1 for r in sigs
        if len({r[f"mh_{i}"] for i in range(N_HASHES)}) == 1)
    assert degenerate <= len(sigs) // 10, (
        f"{degenerate}/{len(sigs)} docs have identical minhashes across "
        f"all {N_HASHES} families")


def test_minhash_recall_vs_exact(spark, near_dup_corpus):
    """LSH (16 hashes, 4 bands) must recover most true >=0.5 pairs."""
    exact = {(r.doc_a, r.doc_b)
             for r in ngram_jaccard_pairs(near_dup_corpus, threshold=0.5).collect()}
    lsh = {(r.doc_a, r.doc_b)
           for r in minhash_lsh_dedup(near_dup_corpus, threshold=0.5).collect()}
    assert lsh <= exact  # verify step guarantees no false positives
    assert len(lsh) >= 0.8 * len(exact)


def test_simhash_consistency(spark, near_dup_corpus):
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in simhash_dedup(near_dup_corpus, max_hamming=3).collect()}
    # identical token multisets -> identical fingerprints -> hamming 0
    for i in range(10):
        assert pairs.get((i, i + 1000)) == 0
    assert all(0 <= h <= 3 for h in pairs.values())


def test_simhash_pigeonhole_exact_recall(spark, near_dup_corpus):
    """The block-permutation candidate scheme is EXACT for recall: every
    pair within the hamming budget agrees on at least one full block
    triple, so simhash_dedup's output must equal a brute-force hamming
    scan over the fingerprints (no pigeonhole miss)."""
    from database_syncer_spark.pipeline.dedup import simhash_chunks

    fps = {r.doc_id: (r.chunk_0, r.chunk_1, r.chunk_2, r.chunk_3)
           for r in simhash_chunks(near_dup_corpus).collect()}
    ids = sorted(fps)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(bin(x ^ y).count("1") for x, y in zip(fps[a], fps[b]))
            if h <= 3:
                expect[(a, b)] = h
    got = {(r.doc_a, r.doc_b): r.hamming
           for r in simhash_dedup(near_dup_corpus, max_hamming=3).collect()}
    assert got == expect


def test_simhash_bucket_cap_bounds_candidates(spark):
    """Adversarial skew: 300 identical docs collapse every candidate
    bucket to one fingerprint. The bucket cap must drop the oversized
    buckets (o(N²) candidate work) instead of emitting ~N²/2 pairs."""
    n = 300
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("same boilerplate text repeated everywhere forever").alias("text"))
    capped = simhash_dedup(docs, max_hamming=3, bucket_cap=50)
    assert capped.count() == 0
    # sanity: with the cap above N the quadratic pair set comes back
    assert simhash_dedup(docs.where(F.col("doc_id") < 20),
                         bucket_cap=1000).count() == 20 * 19 // 2


def test_ngram_jaccard_df_cap_one_sided(spark, near_dup_corpus):
    """A tiny DF cap may only LOWER jaccard scores (drop recall), never
    raise them — capping removes intersection counts but keeps full
    set sizes."""
    full = {(r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(near_dup_corpus, threshold=0.2).collect()}
    capped = {(r.doc_a, r.doc_b): r.jaccard
              for r in ngram_jaccard_pairs(
                  near_dup_corpus, threshold=0.2, df_cap=2).collect()}
    assert set(capped) <= set(full)
    for k, j in capped.items():
        assert j <= full[k] + 1e-9


def test_ngram_jaccard_df_cap_drops_boilerplate_bucket(spark):
    """One shingle shared by every doc would make the inverted-index
    self-join quadratic; with DF capping the shared-boilerplate pairs
    disappear while genuinely-similar pairs survive."""
    n = 200
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("common boiler plate "),  # one shared 3-shingle
                 F.col("id").cast("string"), F.lit(" unique words here x"),
                 F.col("id").cast("string")).alias("text"))
    # two planted near-identical docs
    twin = spark.createDataFrame(
        [(9001, "common boiler plate 7 unique words here x7"),
         (9002, "common boiler plate 7 unique words here x7")],
        "doc_id long, text string")
    docs = base.unionByName(twin)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, df_cap=10).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    assert (7, 9001) in found or (9001, 9002) in found
    # nothing pairs on the boilerplate shingle alone (df = 202 > cap)
    assert all(a in (7, 9001, 9002) and b in (7, 9001, 9002)
               for a, b in found)


def test_lsh_ann_recall(spark, sf_dir):
    exact = brute_force_topk(load_table(spark, sf_dir, "embeddings"))
    approx = lsh_ann_topk(load_table(spark, sf_dir, "embeddings"))
    true_sets = {}
    for r in exact.collect():
        true_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    got_sets = {}
    for r in approx.collect():
        got_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(true_sets[q] & got_sets.get(q, set())) / len(true_sets[q])
        for q in true_sets
    ]
    # fully deterministic path on a fixed fixture: measured 0.18 exactly
    # (r4), so the bound is tight — a real recall bug fails, noise can't
    assert sum(recalls) / len(recalls) >= 0.17
    # every ANN cosine must match the exact cosine for that pair
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
    for r in approx.collect():
        if (r.query_id, r.neighbor_id) in exact_cos:
            assert abs(r.cosine - exact_cos[(r.query_id, r.neighbor_id)]) < 1e-9


def test_ivf_ann_recall(spark, sf_dir):
    from database_syncer_spark.pipeline.similarity import ivf_ann_topk

    corpus = load_table(spark, sf_dir, "embeddings")
    exact = brute_force_topk(corpus)
    approx = ivf_ann_topk(corpus)
    rows = approx.collect()
    # schema parity with the exact path
    assert approx.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    # each query returns at most k candidates, each from a probed cell
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) <= 10 for v in per_q.values())
    true_sets = {}
    for r in exact.collect():
        true_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    got_sets = {}
    for r in rows:
        got_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(true_sets[q] & got_sets.get(q, set())) / len(true_sets[q])
        for q in true_sets
    ]
    # probing 4/16 cells on random data: recall well above the 25% mass
    # scanned; deterministic path, measured 0.53 exactly (r4) — tight bound
    assert sum(recalls) / len(recalls) >= 0.5
    # ANN cosines are exact for retrieved pairs (re-rank is exact)
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
    for r in rows:
        if (r.query_id, r.neighbor_id) in exact_cos:
            assert abs(r.cosine - exact_cos[(r.query_id, r.neighbor_id)]) < 1e-9


def test_ivf_centroids_deterministic(spark, sf_dir):
    from database_syncer_spark.pipeline.similarity import train_ivf_centroids

    corpus = load_table(spark, sf_dir, "embeddings")
    a = train_ivf_centroids(corpus, n_cells=8)
    b = train_ivf_centroids(corpus, n_cells=8)
    assert a == b
    # unit-normalized centroids (to within the 9-dp model rounding that
    # makes the Lloyd update partition-independent)
    for c in a:
        assert abs(sum(v * v for v in c) - 1.0) < 1e-7


def test_langid_on_separable_corpus(spark):
    """The fixture's lang labels are random w.r.t. text, so accuracy is
    tested on a corpus whose languages genuinely differ in character
    distribution."""
    rows = []
    vocab = {
        "aa": ["alpha", "apple", "banana", "cascade", "band", "canal"],
        "zz": ["zigzag", "fuzzy", "quartz", "pizzazz", "buzz", "jazz"],
        "mm": ["murmur", "mammal", "hammer", "summer", "memo", "mime"],
    }
    for lang, words in vocab.items():
        for d in range(30):
            text = " ".join(words[(d + i) % len(words)] for i in range(20))
            rows.append((len(rows), text, lang, "synthetic", len(text)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    out = classify_lang(docs, train_lang_profiles(docs)).collect()
    acc = sum(r.pred_lang == r.true_lang for r in out) / len(out)
    assert acc >= 0.9


def test_multimodal_decode_stub_gate():
    from database_syncer_spark.pipeline.multimodal import decode_media

    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG")


def test_image_header_parser_roundtrip_and_externally_encoded():
    """parse_image_header decodes (format, width, height) from real
    container bytes: every synth_image round-trips across the dim
    range, AND hand-built headers NOT produced by synth_image parse
    too — a JPEG whose SOF is progressive (SOF2) and preceded by
    multi-segment metadata, a GIF87a, a 1x1 PNG — so the parser is a
    real scanner, not an inverse of the fixture writer."""
    from database_syncer_spark.pipeline.multimodal import (
        parse_image_header, synth_image)

    for fmt in ("png", "gif", "jpeg"):
        for w, h in [(1, 1), (16, 2015), (65535, 1), (640, 480)]:
            data = synth_image(fmt, w, h, total_bytes=300)
            assert len(data) == 300
            assert parse_image_header(data) == (fmt, w, h)

    # externally-shaped JPEG: EXIF APP1 + two COM segments + SOF2
    # (progressive), dims 1234x567
    jpeg = (b"\xff\xd8"
            + b"\xff\xe1\x00\x0aExif\x00\x00\x01\x02"
            + b"\xff\xfe\x00\x04ab" + b"\xff\xfe\x00\x03z"
            + b"\xff\xc2\x00\x0b\x08" + (567).to_bytes(2, "big")
            + (1234).to_bytes(2, "big") + b"\x01\x01\x11\x00")
    assert parse_image_header(jpeg) == ("jpeg", 1234, 567)
    # GIF87a little-endian screen descriptor
    gif = b"GIF87a" + (320).to_bytes(2, "little") \
        + (200).to_bytes(2, "little") + b"\x00\x00\x00\x3b"
    assert parse_image_header(gif) == ("gif", 320, 200)
    # real-world minimal PNG shape: signature + IHDR for 1x1 grayscale
    import struct
    import zlib
    ihdr = b"IHDR" + struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + ihdr
           + struct.pack(">I", zlib.crc32(ihdr)))
    assert parse_image_header(png) == ("png", 1, 1)


def test_image_header_parser_rejects_corrupt():
    """Corrupt containers QUARANTINE (ValueError), never mis-size:
    flipped PNG CRC, JPEG with no SOF, unknown magic, truncated GIF."""
    from database_syncer_spark.pipeline.multimodal import (
        parse_image_header, synth_image)

    good = bytearray(synth_image("png", 10, 10, total_bytes=200))
    good[30] ^= 0xFF  # corrupt the IHDR CRC
    with pytest.raises(ValueError, match="CRC"):
        parse_image_header(bytes(good))
    with pytest.raises(ValueError, match="no SOF"):
        parse_image_header(b"\xff\xd8\xff\xfe\x00\x04ab\xff\xd9")
    with pytest.raises(ValueError, match="unrecognized"):
        parse_image_header(b"BM0123456789")
    with pytest.raises(ValueError, match="truncated"):
        parse_image_header(b"GIF89a\x01\x00")


def test_media_header_parser_roundtrip_and_externally_encoded():
    """parse_media_header decodes (container, duration_ms, sample_rate,
    n_tracks) from real container bytes: every synth_wav / synth_mp4
    round-trips across the param grid, AND hand-built containers NOT
    produced by the synths parse too — a WAV with a LIST chunk and an
    odd-sized (padded) chunk before fmt, an MP4 with an mvhd v1
    (64-bit times) and a largesize box — so the parser is a real
    scanner, not an inverse of the fixture writer."""
    from database_syncer_spark.pipeline.multimodal import (
        parse_media_header, synth_mp4, synth_wav)

    for rate in (8000, 44100, 48000):
        for ch in (1, 2, 6):
            for n in (1, 999, 48000):
                got = parse_media_header(synth_wav(rate, ch, n))
                assert got == ("wav", n * 1000 // rate, rate, ch)
    for ts in (600, 90000):
        for dur in (0, 3001, 123456):
            for traks in (0, 1, 3):
                data = synth_mp4(ts, dur, traks, total_bytes=700)
                assert len(data) == 700
                got = parse_media_header(data)
                assert got == ("mp4", dur * 1000 // ts, ts, traks)

    # externally-shaped WAV: LIST chunk + odd-size (padded) junk chunk
    # BEFORE fmt, 24 kHz stereo, 6000 samples
    import struct
    fmt = (b"fmt " + (16).to_bytes(4, "little")
           + struct.pack("<HHIIHH", 1, 2, 24000, 24000 * 4, 4, 16))
    wav = (b"RIFF" + (0).to_bytes(4, "little") + b"WAVE"
           + b"LIST" + (4).to_bytes(4, "little") + b"INFO"
           + b"junk" + (5).to_bytes(4, "little") + b"abcde\x00"  # pad
           + fmt
           + b"data" + (6000 * 4).to_bytes(4, "little") + bytes(6000 * 4))
    assert parse_media_header(wav) == ("wav", 250, 24000, 2)

    # truncated data chunk (declares bytes that are not present) must
    # QUARANTINE, matching decode_wav_samples — not report a confident
    # duration computed from the declared size
    trunc = (b"RIFF" + (0).to_bytes(4, "little") + b"WAVE" + fmt
             + b"data" + (6000 * 4).to_bytes(4, "little") + bytes(8))
    with pytest.raises(ValueError, match="data chunk declares"):
        parse_media_header(trunc)

    # externally-shaped MP4: largesize skip box, then moov with mvhd v1
    mvhd_v1 = (b"\x01\x00\x00\x00" + bytes(16)      # v1, ctime/mtime u64
               + (1000).to_bytes(4, "big")           # timescale
               + (7500).to_bytes(8, "big") + bytes(80))
    moov_body = ((8 + len(mvhd_v1)).to_bytes(4, "big") + b"mvhd" + mvhd_v1
                 + (8).to_bytes(4, "big") + b"trak")
    mp4 = ((24).to_bytes(4, "big") + b"ftyp" + b"isom" + bytes(4)
           + b"isommp42"
           + (1).to_bytes(4, "big") + b"skip" + (20).to_bytes(8, "big")
           + bytes(4)                                # largesize payload
           + (8 + len(moov_body)).to_bytes(4, "big") + b"moov" + moov_body)
    assert parse_media_header(mp4) == ("mp4", 7500, 1000, 1)


def test_media_header_parser_rejects_corrupt():
    """Corrupt containers QUARANTINE (ValueError), never mis-meter:
    WAV missing fmt/data, zero-rate fmt, MP4 with no mvhd, zero
    timescale, bad box size, unknown magic."""
    import struct

    from database_syncer_spark.pipeline.multimodal import (
        parse_media_header, synth_mp4, synth_wav)

    with pytest.raises(ValueError, match="missing fmt/data"):
        parse_media_header(b"RIFF\x00\x00\x00\x00WAVE"
                           b"data\x04\x00\x00\x00abcd")
    zero_rate = (b"RIFF" + bytes(4) + b"WAVE"
                 + b"fmt " + (16).to_bytes(4, "little")
                 + struct.pack("<HHIIHH", 1, 1, 0, 0, 0, 16)
                 + b"data" + (4).to_bytes(4, "little") + bytes(4))
    with pytest.raises(ValueError, match="zero rate"):
        parse_media_header(zero_rate)
    no_mvhd = ((24).to_bytes(4, "big") + b"ftyp" + b"isom" + bytes(4)
               + b"isommp42" + (16).to_bytes(4, "big") + b"moov"
               + (8).to_bytes(4, "big") + b"trak")
    with pytest.raises(ValueError, match="no moov/mvhd"):
        parse_media_header(no_mvhd)
    zero_ts = bytearray(synth_mp4(600, 100, 1, total_bytes=700))
    i = zero_ts.index(b"mvhd") + 4 + 12
    zero_ts[i:i + 4] = bytes(4)  # timescale := 0
    with pytest.raises(ValueError, match="timescale"):
        parse_media_header(bytes(zero_ts))
    bad_box = bytearray(synth_mp4(600, 100, 1, total_bytes=700))
    bad_box[0:4] = (3).to_bytes(4, "big")  # box size < 8
    with pytest.raises(ValueError, match="bad box size"):
        parse_media_header(bytes(bad_box))
    with pytest.raises(ValueError, match="unrecognized"):
        parse_media_header(b"OggS0123456789abcdef")
    # sanity: a good synth still parses after the mutations above
    assert parse_media_header(synth_wav(8000, 1, 8000))[1] == 1000


def test_connected_components_chain_and_islands(spark):
    """Chains link transitively (a-b-c-d one component); islands stay
    separate; component id = min doc_id in the cluster."""
    from database_syncer_spark.pipeline.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 7)],
        "doc_a bigint, doc_b bigint")
    got = {(r.doc_id, r.component)
           for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10), (7, 7), (20, 7)}


def test_connected_components_deep_chains_converge(spark):
    """r13: the loop keeps ONE reference to the cached label map per
    iteration (self-edge min + monotone-sum convergence). The previous
    shape referenced it twice, so iteration i's logical tree held ~2^i
    fragments — a depth-14 chain was effectively unrunnable (plan
    analysis + event stringification; the 1 M-edge probe melted the
    driver for >21 min). This pins both convergence and correctness at
    a depth the old shape could not reach inside a test budget."""
    from database_syncer_spark.pipeline.dedup import connected_components

    depth, chains = 14, 50
    edges = spark.range(chains * depth).select(
        ((F.col("id") % chains) * 1000
         + (F.col("id") / chains).cast("long")).alias("doc_a"),
        ((F.col("id") % chains) * 1000
         + (F.col("id") / chains).cast("long") + 1).alias("doc_b"))
    got = {r.doc_id: r.component
           for r in connected_components(edges).collect()}
    assert len(got) == chains * (depth + 1)
    for c in range(chains):
        head = c * 1000
        for pos in range(depth + 1):
            assert got[head + pos] == head


def test_connected_components_drops_null_endpoints(spark):
    """An edge with a NULL endpoint links nothing: the labels equal the
    same graph's without those edges — no NULL node, and no node that
    only a NULL edge touched. A graph of NULL edges alone is empty."""
    from database_syncer_spark.pipeline.dedup import connected_components

    def labels(edges):
        return {(r.doc_id, r.component) for r in connected_components(
            spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
        ).collect()}

    edges = [(1, 2), (2, 3), (10, 11)]
    nulls = [(None, 4), (3, None), (None, None), (None, 11)]
    assert labels(edges + nulls) == labels(edges) == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert labels(nulls) == set()


def test_ngram_containment_catches_subdocument(spark, sf_dir):
    """A short doc embedded verbatim inside a much longer one:
    containment(short→long) = 1.0 while Jaccard ≈ |A|/|B| is far below
    any useful threshold — the case the asymmetric measure exists for."""
    from database_syncer_spark.pipeline.dedup import (
        ngram_containment_pairs, ngram_jaccard_pairs)

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    long_doc = docs.where(F.col("doc_id") == 0).select(
        F.lit(9000).alias("doc_id"),
        F.concat_ws(" ", *[F.col("text")] * 1).alias("base"))
    # doc 9001 = first 12 tokens of doc 0; doc 9000 = all of doc 0
    sub = long_doc.select(
        F.lit(9001).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split("base", " "), 1, 12)).alias("text"))
    full = long_doc.select("doc_id", F.col("base").alias("text"))
    corpus = (
        docs.select("doc_id", "text")
        .unionByName(full).unionByName(sub)
    )
    cont = {(r.src, r.dst): r.containment
            for r in ngram_containment_pairs(corpus, threshold=0.9).collect()}
    assert cont.get((9001, 9000)) == pytest.approx(1.0), cont
    jac = {(r.doc_a, r.doc_b): r.jaccard
           for r in ngram_jaccard_pairs(corpus, threshold=0.0).collect()
           if {r.doc_a, r.doc_b} == {9000, 9001}}
    assert all(v < 0.5 for v in jac.values()), jac


def test_shingle_intersections_equals_array_form(spark, sf_dir):
    """r13: _shingle_intersections' shingle stage moved from exploding
    the with_shingles HOF array (interpreted per element) to the
    codegen posexplode + collect_set shape. Pin value equality against
    the old array form on a corpus with repeated in-doc shingles,
    sub-k-token docs, empty strings, and NULL text — the edge classes
    where the two shapes could diverge."""
    from pyspark.sql import Window as W

    from database_syncer_spark.pipeline.dedup import (
        _shingle_intersections, with_shingles)

    extras = spark.createDataFrame(
        [(9100, "repeat me repeat me repeat me repeat me"),
         (9101, "repeat me repeat me repeat me repeat me again"),
         (9102, "tiny"),
         (9103, "two tokens"),
         (9104, ""),
         (9105, None)],
        "doc_id long, text string")
    docs = (load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 40).select("doc_id", "text")
            .unionByName(extras))

    def old_form(documents, k=3, df_cap=10_000):
        sh = with_shingles(documents, k).select(
            "doc_id", F.explode("shingles").alias("sh"),
            F.size("shingles").alias("n_sh"))
        sh = sh.withColumn(
            "__df", F.count("*").over(W.partitionBy("sh"))
        ).where(F.col("__df") <= df_cap).drop("__df")
        a, b = sh.alias("a"), sh.alias("b")
        return (a.join(b, "sh")
                .where(F.col("a.doc_id") < F.col("b.doc_id"))
                .groupBy(F.col("a.doc_id").alias("doc_a"),
                         F.col("b.doc_id").alias("doc_b"),
                         F.col("a.n_sh").alias("na"),
                         F.col("b.n_sh").alias("nb"))
                .agg(F.count("*").alias("c")))

    got = sorted(map(tuple, _shingle_intersections(docs, 3, 10_000).collect()))
    ref = sorted(map(tuple, old_form(docs).collect()))
    assert got == ref
    # tiny df_cap too (the prefix-filter path)
    got2 = sorted(map(tuple, _shingle_intersections(docs, 3, 2).collect()))
    ref2 = sorted(map(tuple, old_form(docs, df_cap=2).collect()))
    assert got2 == ref2


def test_tfidf_topk_ranks_rare_terms(spark, sf_dir):
    """A term unique to one doc must outrank corpus-wide terms there."""
    from database_syncer_spark.pipeline.text import tfidf_topk

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 30)
    tagged = docs.select(
        "doc_id",
        F.when(F.col("doc_id") == 5,
               F.concat(F.lit("zzuniq zzuniq zzuniq "), F.col("text")))
        .otherwise(F.col("text")).alias("text"))
    top = tfidf_topk(tagged, top_n=3).where(F.col("doc_id") == 5).collect()
    assert top[0].term == "zzuniq", top


def test_pq_ann_recall_and_compression(spark, sf_dir):
    """PQ-ADC top-k must recover most of the exact top-k (recall bound
    pinned from a measured 0.78 on this fixture), and the code table
    must actually be m small ints per vector (the 32x compression)."""
    from database_syncer_spark.pipeline.similarity import (
        brute_force_topk, pq_ann_topk, train_pq_codebooks, _with_pq_codes)

    emb = load_table(spark, sf_dir, "embeddings")
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb).collect()}
    pq = {(r.query_id, r.neighbor_id) for r in pq_ann_topk(emb).collect()}
    # deterministic path on the fixed fixture: measured 0.81 exactly (r4)
    assert len(bf & pq) / len(bf) >= 0.75, f"recall {len(bf & pq)/len(bf)}"

    books = train_pq_codebooks(emb, m=8, dim=64, k_sub=16)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    row = _with_pq_codes(emb.select("embedding").limit(4), books, 8, 64).first()
    assert len(row.pq_codes) == 8
    assert all(0 <= c < 16 for c in row.pq_codes)


def test_dim_probed_not_hardcoded_and_ragged_fails_loudly(spark):
    """A non-64-dim corpus must WORK (dim is probed+validated from the
    data, multimodal.check_dim_count), and a ragged corpus must FAIL LOUDLY at
    plan-build time — silent NULL norms from out-of-range GetArrayItem
    were a landmine for any real corpus (ADVICE r2)."""
    import pytest as _pytest

    from database_syncer_spark.pipeline.multimodal import check_dim_count
    from database_syncer_spark.pipeline.similarity import brute_force_topk

    # dim=4 corpus: e1 is closest to q=vec 0, e3 orthogonal.
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0, 0.0]),
            (2, [0.5, 0.5, 0.0, 0.0]), (3, [0.0, 0.0, 1.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    dim, n = check_dim_count(emb)
    assert (dim, n) == (4, 4)
    top = brute_force_topk(emb, n_queries=1, k=3, dim=dim).collect()
    assert [r.neighbor_id for r in top] == [1, 2, 3]
    assert top[0].cosine > 0.99

    ragged = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.0])],
        "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="ragged"):
        check_dim_count(ragged)


def test_ivfpq_composition(spark, sf_dir):
    """The composed IVF-PQ path: retrieved cosines are EXACT (re-rank),
    recall is in the IVF-bounded ballpark (it can only see probed
    cells), and the output schema matches the other ANN paths."""
    from database_syncer_spark.pipeline.similarity import (
        brute_force_topk, ivfpq_ann_topk)

    emb = load_table(spark, sf_dir, "embeddings")
    got = ivfpq_ann_topk(emb).collect()
    assert got and got[0].__fields__ == ["query_id", "neighbor_id",
                                         "cosine", "rank"]
    exact = {(r.query_id, r.neighbor_id): r.cosine
             for r in brute_force_topk(emb, k=100).collect()}
    hits = total = 0
    for r in got:
        total += 1
        if (r.query_id, r.neighbor_id) in exact:
            hits += 1
            assert abs(r.cosine - exact[(r.query_id, r.neighbor_id)]) < 1e-9
    # probing 4/16 cells: recall well above the 25% mass scanned
    thr = {r.query_id for r in got}
    per_q = {q: sum(1 for r in got if r.query_id == q) for q in thr}
    assert all(n <= 10 for n in per_q.values())
    # deterministic: every retrieved pair sat in the exact top-100 on
    # the fixture (measured 1.0, r4); 0.9 leaves margin for fixture regen
    assert hits / total >= 0.9


def test_decontaminate_flags_planted_overlap(spark):
    """A training doc sharing a 3-gram with the eval set is contaminated;
    disjoint docs are clean; counts are exact."""
    from database_syncer_spark.pipeline.text import decontaminate

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps high"),       # shares "quick brown fox"
         (2, "completely different words entirely here"),
         (3, "quick brown fox quick brown fox pads")],  # two hits, same gram
        "doc_id long, text string")
    evals = spark.createDataFrame(
        [(100, "a quick brown fox appeared")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_eval_shingles, r.contaminated)
           for r in decontaminate(train, evals).collect()}
    assert got[1] == (1, True)
    assert got[2] == (0, False)
    # doc 3: with_shingles is DISTINCT per doc -> one matching shingle
    assert got[3] == (1, True)


def test_repetition_score_flags_degenerate_docs(spark):
    """A degenerate repeated-phrase doc is flagged; a varied doc is not;
    fractions are exact."""
    from database_syncer_spark.pipeline.text import repetition_score

    docs = spark.createDataFrame(
        [(1, "spam ham eggs " * 40),        # one 3-gram ~1/3 of the doc
         (2, "one two three four five six seven eight nine ten")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_score(docs).collect()}
    assert got[1].repetitive and got[1].dup_ngram_frac > 0.9
    assert not got[2].repetitive and got[2].dup_ngram_frac == 0.0
    assert got[2].n_ngrams == 8  # 10 tokens -> 8 tri-grams


def test_repetition_min_length_gate(spark):
    """Docs below the min_ngrams gate are never flagged — a one-gram doc
    trivially has top_frac 1.0 and must not count as repetitive."""
    from database_syncer_spark.pipeline.text import repetition_score

    docs = spark.createDataFrame(
        [(1, "short text"), (2, "spam ham eggs spam ham eggs spam ham eggs spam")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_score(docs).collect()}
    assert got[1].top_ngram_frac == 1.0 and not got[1].repetitive
    assert got[2].repetitive


def test_pii_scrub_detects_and_redacts(spark):
    """Planted emails/phones are counted and redacted; clean docs hash to
    their own text (identity redaction)."""
    import hashlib

    from database_syncer_spark.pipeline.text import pii_scrub

    docs = spark.createDataFrame(
        [(1, "contact bob.smith+x@example.co.uk or 555-123-4567 today"),
         (2, "no personal data in this sentence at all")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert got[1].n_emails == 1 and got[1].n_phones == 1 and got[1].has_pii
    expect1 = hashlib.md5(
        b"contact <EMAIL> or <PHONE> today").hexdigest()
    assert got[1].redacted_md5 == expect1
    assert not got[2].has_pii
    assert got[2].redacted_md5 == hashlib.md5(
        b"no personal data in this sentence at all").hexdigest()


def test_prebuilt_index_serving_identical(spark, sf_dir):
    """Train-once/serve-many: serving against a prebuilt (persisted)
    index must return EXACTLY the rows the inline-build path returns,
    for every ANN family — the at-rest artifact is a pure
    factoring-out of the build, not a different algorithm."""
    from database_syncer_spark.pipeline import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    cases = [
        (S.build_lsh_index, S.lsh_ann_topk, "bucketed"),
        (S.build_ivf_index, S.ivf_ann_topk, "assigned"),
        (S.build_pq_index, S.pq_ann_topk, "coded"),
        (S.build_ivfpq_index, S.ivfpq_ann_topk, "coded"),
    ]
    for build, serve, corpus_key in cases:
        idx = build(emb)
        idx[corpus_key].persist().count()
        try:
            got = sorted(map(tuple, serve(emb, index=idx).collect()))
            inline = sorted(map(tuple, serve(emb).collect()))
            assert got == inline, serve.__name__
        finally:
            idx[corpus_key].unpersist()


def test_prebuilt_index_serves_the_argument_queries(spark, sf_dir):
    """r4 review fix (similarity.py): with a prebuilt index, the query
    set must come from the EMBEDDINGS argument, not the index's corpus
    rows — LSH used to reuse index['bucketed'] and would silently serve
    the wrong queries for a caller-supplied frame. Serve each family
    with the full-corpus index but an argument missing queries 0-4: the
    result must contain exactly query_ids 5-9."""
    import pyspark.sql.functions as F

    from database_syncer_spark.pipeline import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    subset = emb.where(F.col("vec_id") >= 5)
    cases = [
        (S.build_lsh_index, S.lsh_ann_topk, "bucketed"),
        (S.build_ivf_index, S.ivf_ann_topk, "assigned"),
        (S.build_pq_index, S.pq_ann_topk, "coded"),
        (S.build_ivfpq_index, S.ivfpq_ann_topk, "coded"),
    ]
    for build, serve, corpus_key in cases:
        idx = build(emb)
        idx[corpus_key].persist().count()
        try:
            served = {int(r.query_id) for r in serve(subset, index=idx)
                      .select("query_id").distinct().collect()}
            assert served == {5, 6, 7, 8, 9}, (serve.__name__, served)
        finally:
            idx[corpus_key].unpersist()


def test_embedding_lsh_blocking_recall_total(spark):
    """The r7 default blocking for embedding_near_dup is hyperplane-LSH
    buckets (label blocking measured quadratic-within-block, ~9 h
    extrapolated at 1 M vectors). Its EXHAUSTIVE-scan oracle is only
    honest if the fixture-regime blocking (4 planes / 16 tables) has
    total recall at the registered τ=0.5 — pin that on both driver
    fixtures AND the bench fixture. The exhaustive truth is the same
    function with a constant block (one block == all pairs)."""
    from conftest import sf_path
    from database_syncer_spark.pipeline.dedup import embedding_near_dup

    # sf0.001 legitimately has ZERO pairs at τ=0.5 (exhaustive-verified);
    # the driver fixture and the bench fixture must be non-vacuous or the
    # recall pin proves nothing there. At sf0.1 the exhaustive truth
    # comes from the engine-exact Spark-free numpy mirror (the Spark
    # all-pairs unrolled-dot join there cost ~30 s of suite wall, r7
    # advice); the mirror itself is cross-checked against the Spark
    # exhaustive scan at the two small SFs below.
    from ann_reference import exhaustive_cosine_pairs, load_embeddings

    min_pairs = {"sf0.001": 0, "sf0.01": 1, "sf0.1": 1}
    for name in ["sf0.001", "sf0.01", "sf0.1"]:
        emb = load_table(spark, sf_path(name), "embeddings") \
            .withColumn("allblk", F.lit(1))
        lsh = {(r.vec_a, r.vec_b, r.cosine)
               for r in embedding_near_dup(
                   emb, threshold=0.5, corpus_n=emb.count()).collect()}
        exhaustive = exhaustive_cosine_pairs(
            *load_embeddings(sf_path(name)), threshold=0.5)
        if name != "sf0.1":  # keep the mirror honest where Spark is cheap
            spark_exhaustive = {(r.vec_a, r.vec_b, r.cosine)
                                for r in embedding_near_dup(
                                    emb, threshold=0.5,
                                    block_col="allblk").collect()}
            assert exhaustive == spark_exhaustive, name
        assert lsh <= exhaustive, name  # cosine verify: no false positives
        assert lsh == exhaustive, (name, exhaustive - lsh)
        assert len(exhaustive) >= min_pairs[name], name


@pytest.mark.parametrize("dim", [1, 5, 63, 64])
def test_tree_sum_matches_sql_kernels(spark, dim):
    """The package's vector arithmetic must reproduce the unrolled SQL
    kernels it replaced bit for bit, or every rounded cosine and pinned
    recall row built on them drifts. tests/sql_vector_golden.json holds
    the SQL dot, norm and cosine (dot / (norm(a) * norm(b))) of these
    vectors, captured before the SQL kernels were deleted, as float.hex
    strings. Magnitudes span 6 decades so a different pairing would
    show."""
    import json
    import os

    import numpy as np

    from database_syncer_spark.pipeline import vector as V

    with open(os.path.join(os.path.dirname(__file__),
                           "sql_vector_golden.json")) as fh:
        golden = {k: [float.fromhex(v) for v in vals]
                  for k, vals in json.load(fh)[str(dim)].items()}
    rng = np.random.default_rng(dim)
    a, b = ((rng.standard_normal((40, dim))
             * 10.0 ** rng.uniform(-3, 3, (40, dim))).astype(np.float32)
            for _ in range(2))
    frame = spark.createDataFrame(
        [(i, x.tolist(), y.tolist()) for i, (x, y) in enumerate(zip(a, b))],
        "i int, a array<float>, b array<float>")
    nrm = V.with_norm(frame, "a", dim, "nrm").drop("a", "b")
    got = (V.cosine(frame, "a", "b", dim).join(nrm, "i")
           .orderBy("i").collect())
    a, b = a.astype(np.float64), b.astype(np.float64)
    assert V.tree_sum(a * b).tolist() == golden["dot"]
    assert [r.nrm for r in got] == golden["nrm"]
    assert [r.cosine for r in got] == golden["cos"]


def test_list_matrix_rejects_null_and_ragged_rows():
    """The Arrow kernels view an embedding column as one n×dim matrix.
    A NULL row, a NULL element or a wrong-length row must raise, not
    shift every later row — including a ragged column whose total
    length still equals n×dim. A sliced column views only its rows."""
    import pyarrow as pa

    from database_syncer_spark.pipeline.vector import _list_matrix

    f32 = pa.list_(pa.float32())
    ok = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]], f32)
    assert _list_matrix(ok, 2).tolist() == [[1, 2], [3, 4], [5, 6]]
    assert _list_matrix(ok.slice(1, 1), 2).tolist() == [[3, 4]]
    for bad in ([[1.0, 2.0], None], [[1.0, None], [3.0, 4.0]],
                [[1.0, 2.0], [3.0]], [[1.0], [2.0, 3.0, 4.0]]):
        with pytest.raises(ValueError, match="exactly 2"):
            _list_matrix(pa.array(bad, f32), 2)


def _bad_row_frames(spark, bad: str):
    """(documents, embeddings): 40 dim-8 vectors with row 3 replaced by
    a NULL embedding ("null"), a 9-value one ("long") or zeros
    ("zero")."""
    import numpy as np

    mat = np.random.default_rng(5).standard_normal((40, 8)).tolist()
    mat[3] = {"null": None, "long": mat[3] + [100.0], "zero": [0.0] * 8}[bad]
    emb = spark.createDataFrame(list(enumerate(mat)),
                                "vec_id bigint, embedding array<float>")
    docs = spark.createDataFrame(
        [(i, "en", "x", "t" * i) for i in range(40)],
        "doc_id bigint, lang string, label string, text string")
    return docs, emb


#: fixed dim-8 IVF/PQ model state (4 centroids; 8 one-dim subspaces of
#: 3 sub-centroids each), so the IVF/PQ kernels run without a training
#: collect that would read the bad row first
_CENTS = [[float(i == j) for j in range(8)] for i in range(4)]
_BOOKS = [[[-1.0], [0.0], [1.0]]] * 8

_VECTOR_PATHS = {
    "brute_force_topk": lambda docs, e: brute_force_topk(e, 5, 5, 8),
    "lsh_ann_topk": lambda docs, e: lsh_ann_topk(e, 5, 5, dim=8),
    "embedding_incremental_near_dup":
        lambda docs, e: embedding_incremental_near_dup(
            e.where("vec_id % 2 = 1"), e.where("vec_id % 2 = 0"), dim=8),
    "multimodal_join": lambda docs, e: multimodal_join(docs, e, dim=8),
    "_with_probe_cells": lambda docs, e: _with_probe_cells(e, _CENTS, 2),
    "_with_pq_codes": lambda docs, e: _with_pq_codes(e, _BOOKS, 8, 8),
    "_with_cell_and_codes":
        lambda docs, e: _with_cell_and_codes(e, _CENTS, _BOOKS, 8, 8),
    # the scanned vectors are the 8 PQ codes, NULL or 9 wide like the row
    "_adc_scan": lambda docs, e: _adc_scan(
        e.selectExpr("vec_id", "transform(embedding, x -> 0) AS pq_codes"),
        np.arange(2), np.eye(8)[:2], _BOOKS, 8, 5, None),
}


@pytest.mark.parametrize("bad", ["null", "long"])
@pytest.mark.parametrize("path", sorted(_VECTOR_PATHS))
def test_vector_paths_reject_null_and_wrong_width_rows(spark, path, bad):
    """Every vector kernel views its input through _list_matrix, so a
    NULL embedding or one with dim+1 values fails the query with
    _list_matrix's ValueError. The SQL kernels they replaced scored a
    NULL row as a NULL cosine and read only the first dim values of a
    long row."""
    docs, emb = _bad_row_frames(spark, bad)
    with pytest.raises(Exception, match="ValueError: expected non-NULL "
                                        "rows of exactly 8 non-NULL"):
        _VECTOR_PATHS[path](docs, emb).collect()


def test_cosine_of_zero_vector_raises(spark):
    """A zero vector has no cosine: the kernel raises, as the SQL
    division by zero did under ANSI mode."""
    _, emb = _bad_row_frames(spark, "zero")
    with pytest.raises(Exception, match="ValueError: cosine of a zero"):
        brute_force_topk(emb, 5, 5, 8).collect()


def _near_dup_corpus(spark, n_base: int = 60, dim: int = 64):
    """(frame, ids, mat): clusters of 1-5 noisy copies around random
    base vectors — ~180 vectors, a few hundred pairs far above τ=0.5
    inside clusters, cross-cluster cosines near 0."""
    import numpy as np

    rng = np.random.default_rng(11)
    mat = np.repeat(rng.standard_normal((n_base, dim)),
                    rng.integers(1, 6, n_base), axis=0)
    mat = (mat + 0.2 * rng.standard_normal(mat.shape)).astype(np.float32)
    ids = np.arange(len(mat), dtype=np.int64)
    frame = spark.createDataFrame(
        [(int(i), row.tolist()) for i, row in zip(ids, mat)],
        "vec_id bigint, embedding array<float>")
    return frame, ids, mat.astype(np.float64)


def test_embedding_near_dup_exact_across_arrow_batches(spark):
    """The verify kernel carries a (tbl, bucket) block that crosses an
    Arrow batch boundary into the next batch. At 7 records per batch
    every block spans several batches; the LSH output must still equal
    the exhaustive engine-exact pair set."""
    from ann_reference import exhaustive_cosine_pairs
    from database_syncer_spark.pipeline.dedup import embedding_near_dup

    emb, ids, mat = _near_dup_corpus(spark)
    truth = exhaustive_cosine_pairs(ids, mat, threshold=0.5)
    assert len(truth) > 100
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = sorted((r.vec_a, r.vec_b, r.cosine) for r in
                     embedding_near_dup(emb, threshold=0.5,
                                        corpus_n=len(ids)).collect())
    finally:
        spark.conf.set(key, prev)
    assert got == sorted(truth)  # a list: a pair emitted twice fails


def test_embedding_near_dup_block_larger_than_pair_tile(spark, monkeypatch):
    """One constant block_col block of ~180 vectors holds ~16k pairs;
    with the pair tile cut to 97, one row's partners split across
    tiles. The exact block variant must still equal the exhaustive
    pair set."""
    from ann_reference import exhaustive_cosine_pairs
    from database_syncer_spark.pipeline import dedup

    monkeypatch.setattr(dedup, "_PAIR_TILE", 97)
    emb, ids, mat = _near_dup_corpus(spark)
    assert len(ids) - 1 > 97  # the first row's partners alone span tiles
    got = sorted((r.vec_a, r.vec_b, r.cosine) for r in
                 dedup.embedding_near_dup(
                     emb.withColumn("blk", F.lit("all")), threshold=0.5,
                     block_col="blk").collect())
    assert got == sorted(exhaustive_cosine_pairs(ids, mat, threshold=0.5))


def test_embedding_lsh_scale_params_widen_buckets(spark, sf_dir):
    """At >=50k vectors the plane-count policy must track log2(N) so the
    per-band noise-collision term N²/2**planes stays ~N — the property
    that makes the blocking scale where the label block could not."""
    from database_syncer_spark.pipeline.dedup import _lsh_block_planes

    assert _lsh_block_planes(500) == 4
    assert _lsh_block_planes(2_000) == 4
    assert _lsh_block_planes(50_000) == 16
    assert _lsh_block_planes(1_000_000) == 20
    assert _lsh_block_planes(10_000_000) == 24
    assert _lsh_block_planes(10**9) == 24  # capped: recall floor


def test_lsh_bucket_vectors_partition_independent(spark, sf_dir):
    """The bucket kernel claims partition-count-independent buckets:
    each projection is a tree_sum over one row's fixed-length vector
    axis, so its bits do not depend on the Arrow batch or row tile the
    row lands in. Pin it: same corpus, 1 vs 8 partitions, byte-equal
    bucket vectors."""
    from database_syncer_spark.pipeline.vector import _lsh_bucket_vectors

    emb = load_table(spark, sf_dir, "embeddings")
    one = {r.vec_id: list(r.buckets) for r in
           _lsh_bucket_vectors(emb.repartition(1), 4, 16, 64).collect()}
    eight = {r.vec_id: list(r.buckets) for r in
             _lsh_bucket_vectors(emb.repartition(8), 4, 16, 64).collect()}
    assert one == eight and len(one) == emb.count()


def test_incremental_near_dups_at_rest_index_identical(spark, sf_dir):
    """The at-rest band index path (build_corpus_band_index +
    corpus_bands=) must return EXACTLY the inline path's verdicts —
    same candidates, same jaccards, same novelty — and its probe plan
    must not re-shingle the corpus (the stored table replaces the
    corpus-side minhash entirely)."""
    from database_syncer_spark.core.bucketing import drop_snapshot
    from database_syncer_spark.pipeline.dedup import (
        build_corpus_band_index, incremental_near_dups)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.where(F.col("doc_id") % 16 == 5)
    corpus = docs.where(F.col("doc_id") % 16 != 5)

    inline = incremental_near_dups(batch, corpus)
    bands = build_corpus_band_index(corpus, "dss_test_band_idx")
    try:
        indexed = incremental_near_dups(batch, corpus, corpus_bands=bands)
        key = lambda r: (r.doc_id, r.n_dups, r.max_jaccard, r.novel)
        assert sorted(map(key, inline.collect())) == \
            sorted(map(key, indexed.collect()))
        # the indexed plan's band probe reads the stored table: no
        # second shingle/minhash pass over the corpus text (one split()
        # from the batch signatures + one from candidate verification)
        plan = indexed._jdf.queryExecution().executedPlan().toString()
        assert plan.count("xxhash64") <= 200  # sanity: plan materialized
    finally:
        drop_snapshot(spark, "dss_test_band_idx")


def test_append_ivf_index_serves_batch_vectors(spark, sf_dir):
    """append_ivf_index: batch vectors assigned to FROZEN corpus-trained
    centroids must (a) grow the assigned set by exactly the batch,
    (b) keep the corpus rows' cells untouched (no re-assignment), and
    (c) be retrievable — batch vec_ids appear as neighbors in the
    served top-k against the grown index."""
    from pyspark.sql import functions as F

    from database_syncer_spark.catalog import load_table
    from database_syncer_spark.pipeline.similarity import (
        append_ivf_index, build_ivf_index, ivf_ann_topk)
    from database_syncer_spark.queries.pipeline import _emb_dim

    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(sf_dir, emb)
    is_batch = F.col("vec_id") % 16 == 5
    corpus = emb.where(~is_batch)
    index = build_ivf_index(corpus, dim=dim)
    before = {r.vec_id: r.cell for r in
              index["assigned"].select("vec_id", "cell").collect()}
    grown = append_ivf_index(index, emb.where(is_batch))
    after = {r.vec_id: r.cell for r in
             grown["assigned"].select("vec_id", "cell").collect()}
    batch_ids = {r.vec_id for r in
                 emb.where(is_batch).select("vec_id").collect()}
    assert set(after) == set(before) | batch_ids
    assert all(after[v] == c for v, c in before.items())  # frozen

    served = ivf_ann_topk(emb, dim=dim, index=grown)
    got_neighbors = {r.neighbor_id for r in
                     served.select("neighbor_id").distinct().collect()}
    assert got_neighbors & batch_ids, (
        "no appended vector retrieved — the grown index is not probed")


def test_append_band_index_rolling_admissions_visible(spark, sf_dir):
    """The append-only index maintenance loop: after day-1 novel docs'
    bands are APPENDED to the at-rest table (append_band_index), a
    day-2 probe of the grown table must (a) flag near-derivatives of
    every day-1 admission as dups, and (b) return verdicts identical
    to an inline probe of the grown corpus — so the appended files
    land in the right buckets and the bucket-pruned scan reads them."""
    from database_syncer_spark.core.bucketing import drop_snapshot
    from database_syncer_spark.pipeline.dedup import (
        append_band_index, build_corpus_band_index, incremental_near_dups)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    day1 = docs.where(F.col("doc_id") % 16 == 5)
    corpus0 = docs.where(~(F.col("doc_id") % 16).isin(5, 9))
    planted = day1.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat("text", F.lit(" rolling probe")).alias("text"))
    day2 = docs.where(F.col("doc_id") % 16 == 9).unionByName(planted)

    table = "dss_test_rolling_idx"
    try:
        bands0 = build_corpus_band_index(corpus0, table)
        v1 = incremental_near_dups(day1, corpus0, corpus_bands=bands0)
        admitted = day1.join(v1.where(F.col("novel")).select("doc_id"),
                             "doc_id", "left_semi")
        n_admitted = admitted.count()
        assert n_admitted > 0
        before = bands0.count()
        bands1 = append_band_index(admitted, table)
        assert bands1.count() > before  # the append physically landed

        corpus1 = corpus0.unionByName(admitted)
        v2 = incremental_near_dups(day2, corpus1, corpus_bands=bands1)
        rows = {r.doc_id: r for r in v2.collect()}
        # every planted derivative of an ADMITTED day-1 doc must be
        # seen as a dup — only possible if the probe reads the append
        for r in admitted.select("doc_id").collect():
            pr = rows[r.doc_id + 10_000_000]
            assert not pr.novel and pr.n_dups >= 1, pr

        # indexed ≡ inline on the grown corpus
        inline = incremental_near_dups(day2, corpus1)
        key = lambda r: (r.doc_id, r.n_dups, r.max_jaccard, r.novel)
        assert sorted(map(key, inline.collect())) == \
            sorted(map(key, v2.collect()))
    finally:
        drop_snapshot(spark, table)


def test_html_strip_external_shapes(spark):
    """html_strip on markup NOT built by the driver key: uppercase
    SCRIPT with a '<' in its body, style with braces, attribute-laden
    tags, all five entities plus &amp; double-coding, whitespace runs
    across newlines — a real stripper, not an inverse of the fixture
    builder."""
    from database_syncer_spark.pipeline.text import html_strip

    rows = [
        (1, '<DIV class="x" data-y=\'1\'>a  b</DIV>\n\t<p>c</p>'),
        (2, '<SCRIPT>if (1 < 2) { x("</p>"); }</SCRIPT>kept'),
        (3, '<style media="all">h1 { font: 12px; }</style>body text'),
        (4, 'AT&amp;T says &lt;hi&gt; &quot;ok&quot; &#39;y&#39;&nbsp;!'),
        (5, '&amp;lt; stays literal'),      # decoded once, not twice
        (6, 'pre <!-- multi\nline\ncomment --> post'),
        (7, '<p>body</p><br/>'),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, html string")
    got = {r.doc_id: (r.clean_text, r.n_tags)
           for r in html_strip(docs).collect()}
    assert got[1] == ("a b c", 4)
    assert got[2] == ("kept", 0)
    assert got[3] == ("body text", 0)
    assert got[4] == ('AT&T says <hi> "ok" \'y\' !', 0)
    assert got[5] == ("&lt; stays literal", 0)
    assert got[6] == ("pre post", 0)
    assert got[7] == ("body", 3)


def test_media_and_image_parsers_property():
    """Property tests (hypothesis): (a) synth->parse round-trips over
    the whole parameter space for all five containers; (b) PREFIX
    truncation of a valid file either parses to the SAME values or
    raises ValueError — never a silently different answer (the
    quarantine contract under partial reads/corruption)."""
    from hypothesis import given, settings, strategies as st

    from database_syncer_spark.pipeline.multimodal import (
        parse_image_header, parse_media_header, synth_image, synth_mp4,
        synth_wav)

    @settings(max_examples=60, deadline=None)
    @given(st.sampled_from(["png", "gif", "jpeg"]),
           st.integers(1, 65535), st.integers(1, 65535),
           st.integers(0, 150))
    def img_roundtrip(fmt, w, h, pad):
        data = synth_image(fmt, w, h, total_bytes=200 + pad)
        assert parse_image_header(data) == (fmt, w, h)

    @settings(max_examples=60, deadline=None)
    @given(st.integers(1, 192000), st.integers(1, 32),
           st.integers(0, 100000))
    def wav_roundtrip(rate, ch, n):
        got = parse_media_header(synth_wav(rate, ch, n))
        assert got == ("wav", n * 1000 // rate, rate, ch)

    @settings(max_examples=60, deadline=None)
    @given(st.integers(1, 2**31 - 1), st.integers(0, 2**31 - 1),
           st.integers(0, 8), st.integers(0, 200))
    def mp4_roundtrip(ts, dur, traks, pad):
        data = synth_mp4(ts, dur, traks, total_bytes=2600 + pad)
        got = parse_media_header(data)
        assert got == ("mp4", dur * 1000 // ts, ts, traks)

    @settings(max_examples=80, deadline=None)
    @given(st.sampled_from(["wav", "mp4"]), st.integers(0, 400),
           st.integers(1, 97))
    def truncation_never_lies(kind, cut, seed):
        if kind == "wav":
            full = synth_wav(8000 + seed * 100, 1 + seed % 3, 500 + seed)
        else:
            full = synth_mp4(600 + seed, 1000 + seed, seed % 4,
                             total_bytes=800)
        want = parse_media_header(full)
        try:
            got = parse_media_header(full[:min(cut, len(full))])
        except ValueError:
            return
        # a prefix that cuts into the data chunk raises (declared-size
        # truncation check); any successful parse must agree with the
        # full file
        assert got == want

    @settings(max_examples=60, deadline=None)
    @given(st.binary(min_size=1, max_size=1200))
    def gif_lzw_roundtrip(raw):
        from database_syncer_spark.pipeline.multimodal import (
            decode_gif_pixels, synth_gif_lzw)

        w = min(30, len(raw))
        h = len(raw) // w
        idx = raw[:w * h]
        _, _, px = decode_gif_pixels(synth_gif_lzw(w, h, idx))
        assert px == b"".join(bytes((k, (3 * k) % 256, (7 * k) % 256))
                              for k in idx)

    img_roundtrip()
    wav_roundtrip()
    mp4_roundtrip()
    truncation_never_lies()
    gif_lzw_roundtrip()


def test_png_pixel_decoder_roundtrip_multi_idat_and_corrupt():
    """decode_png_pixels reconstructs the exact pixel bytes across all
    five filter types (synth cycles them per row), handles IDAT split
    across multiple chunks (real encoders emit 8-32k chunks), and
    quarantines corrupt streams: truncated inflate, wrong pixel count,
    non-truecolor IHDR."""
    import struct
    import zlib

    from database_syncer_spark.pipeline.multimodal import (
        decode_png_pixels, synth_png_rgb)

    for w, h in [(1, 1), (3, 5), (8, 8), (16, 14), (5, 11)]:
        gw, gh, px = decode_png_pixels(synth_png_rgb(w, h))
        assert (gw, gh) == (w, h) and len(px) == w * h * 3
        want = bytes((x * 7 + y * 13 + c * 31) % 251
                     for y in range(h) for x in range(w) for c in range(3))
        assert px == want, (w, h)

    # split the IDAT of a valid file into 7-byte chunks — same pixels
    full = synth_png_rgb(6, 7)
    ihdr_end = 8 + 12 + 13  # sig + IHDR chunk
    clen = int.from_bytes(full[ihdr_end:ihdr_end + 4], "big")
    payload = full[ihdr_end + 8:ihdr_end + 8 + clen]
    iend = full[ihdr_end + 12 + clen:]
    def chunk(ctype, p):
        return (struct.pack(">I", len(p)) + ctype + p
                + struct.pack(">I", zlib.crc32(ctype + p)))
    split = full[:ihdr_end] + b"".join(
        chunk(b"IDAT", payload[i:i + 7])
        for i in range(0, len(payload), 7)) + iend
    assert decode_png_pixels(split) == decode_png_pixels(full)

    bad = bytearray(synth_png_rgb(6, 7))
    bad[-20] ^= 0xFF  # corrupt inside IDAT payload
    with pytest.raises(ValueError):
        decode_png_pixels(bytes(bad))
    # CRC-valid grayscale PNG (color type 0): structurally fine,
    # outside this decoder's declared coverage -> loud refusal
    ihdr = b"IHDR" + struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    gray = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + ihdr
            + struct.pack(">I", zlib.crc32(ihdr))
            + chunk(b"IDAT", zlib.compress(bytes(5 * 4)))
            + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="truecolor"):
        decode_png_pixels(gray)


def test_gif_lzw_decoder_roundtrip_and_corrupt():
    """decode_gif_pixels round-trips the real-LZW synth across sizes
    that force 9->12-bit code-width growth and the 4096-entry CLEAR
    reset, plus adversarial index patterns (constant runs = the KwKwK
    case; short cycles = deep dictionary chains), and quarantines
    corrupt streams: truncated code stream, out-of-GCT index, unknown
    block tag."""
    from database_syncer_spark.pipeline.multimodal import (
        decode_gif_pixels, synth_gif_lzw)

    def expect(indices):
        return b"".join(bytes((k, (3 * k) % 256, (7 * k) % 256))
                        for k in indices)

    for w, h in [(1, 1), (7, 5), (63, 55), (120, 120)]:
        idx = bytes((5 * x + 11 * y) % 251
                    for y in range(h) for x in range(w))
        gw, gh, px = decode_gif_pixels(synth_gif_lzw(w, h))
        assert (gw, gh, px) == (w, h, expect(idx)), (w, h)
    for pat in [bytes([7]) * 900, bytes([3, 3, 3, 5, 5, 5] * 150),
                bytes(range(250)) * 4]:
        w = 30
        h = len(pat) // w
        pat = pat[:w * h]
        assert decode_gif_pixels(synth_gif_lzw(w, h, pat))[2] == expect(pat)

    good = synth_gif_lzw(20, 20)
    with pytest.raises(ValueError, match="ran out|beyond table|not literal"):
        # keep header + GCT + image descriptor + min-code byte, then a
        # garbage 2-byte code stream: must quarantine, never mis-decode
        decode_gif_pixels(bytes(good[:13 + 768 + 11]) + b"\x02AB\x00\x3b")
    bad_block = bytearray(good)
    bad_block[13 + 768] = 0x99  # neither extension/image/trailer
    with pytest.raises(ValueError, match="unknown block"):
        decode_gif_pixels(bytes(bad_block))


def test_jpeg_baseline_decoder_roundtrip_crop_and_corrupt():
    """decode_jpeg_pixels round-trips the real two-pass-Huffman encoder
    byte-exactly across the whole fixture family (4:4:4, 4:2:0
    subsampled, restart intervals, every chroma offset), crops
    non-multiple-of-8 SOF dimensions to the exact top-left window,
    rejects progressive (SOF2) streams, and quarantines corruption —
    2000 random bitflips per variant either decode or raise ValueError,
    never crash."""
    import random

    from database_syncer_spark.pipeline.jpeg import (
        CHROMA_OFFSETS, basis_sign, decode_jpeg_pixels,
        encode_jpeg_baseline, fixture_coefs, synth_jpeg_fixture)

    def expected(doc_id):
        sub = doc_id % 3 == 0
        w = (16 if sub else 8) * (1 + doc_id % 4)
        h = (16 if sub else 8) * (1 + doc_id % 3)
        ro, go, bo = CHROMA_OFFSETS[2 * ((doc_id % 5) - 2)]
        out = bytearray()
        for y in range(h):
            for x in range(w):
                a, b, c = fixture_coefs(doc_id, x // 8, y // 8)
                yv = 128 + a + b * basis_sign(x % 8) + c * basis_sign(y % 8)
                out += bytes((yv + ro, yv + go, yv + bo))
        return w, h, bytes(out)

    # doc grid covers: 4:4:4 / 4:2:0, restart-interval on/off, all five
    # chroma offsets, all dim combinations
    for doc_id in range(24):
        w, h, px = decode_jpeg_pixels(synth_jpeg_fixture(doc_id))
        assert (w, h, px) == expected(doc_id), doc_id

    # crop: declare 13x11 in SOF over a 16x16 coded grid — decoded
    # pixels must be the exact top-left window of the full decode
    full = encode_jpeg_baseline(
        16, 16, lambda bx, by: fixture_coefs(5, bx, by))
    i = full.find(b"\xff\xc0")
    patched = bytearray(full)
    patched[i + 5:i + 7] = (11).to_bytes(2, "big")
    patched[i + 7:i + 9] = (13).to_bytes(2, "big")
    w, h, px = decode_jpeg_pixels(bytes(patched))
    _, _, fpx = decode_jpeg_pixels(full)
    assert (w, h) == (13, 11)
    for y in range(11):
        for x in range(13):
            p = (y * 13 + x) * 3
            f = (y * 16 + x) * 3
            assert px[p:p + 3] == fpx[f:f + 3]

    # progressive must quarantine, not mis-decode
    sof2 = bytearray(full)
    sof2[i + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        decode_jpeg_pixels(bytes(sof2))

    # adversarial dims: a structurally-valid header declaring 65535^2
    # must QUARANTINE (ValueError) before allocating ~34 GB of planes,
    # not OOM the executor
    huge = bytearray(full)
    huge[i + 5:i + 7] = (65535).to_bytes(2, "big")
    huge[i + 7:i + 9] = (65535).to_bytes(2, "big")
    with pytest.raises(ValueError, match="decode limit"):
        decode_jpeg_pixels(bytes(huge))

    # corruption: random bitflips either decode or raise ValueError
    for doc_id in (0, 1, 4, 12):  # 4:4:4 / 4:2:0 / restart / both
        data = synth_jpeg_fixture(doc_id)
        rnd = random.Random(doc_id)
        for _ in range(2000):
            b = bytearray(data)
            b[rnd.randrange(2, len(b) - 2)] ^= 1 << rnd.randrange(8)
            try:
                decode_jpeg_pixels(bytes(b))
            except ValueError:
                pass


def test_wav_sample_decoder_deinterleave_and_refusals():
    """decode_wav_samples de-interleaves channels correctly (hand-built
    stereo frames with distinct per-channel values), matches
    numpy-computed stats on synth output, and refuses non-16-bit /
    non-PCM / truncated-data files."""
    import struct

    import numpy as np

    from database_syncer_spark.pipeline.multimodal import (
        decode_wav_samples, synth_wav)

    # hand-built stereo: frames (100, -200), (300, -400), (500, -600)
    frames = [(100, -200), (300, -400), (500, -600)]
    body = b"".join(struct.pack("<hh", a, b) for a, b in frames)
    wav = (b"RIFF" + (36 + len(body)).to_bytes(4, "little") + b"WAVE"
           + b"fmt " + (16).to_bytes(4, "little")
           + struct.pack("<HHIIHH", 1, 2, 8000, 8000 * 4, 4, 16)
           + b"data" + len(body).to_bytes(4, "little") + body)
    rate, n, chans = decode_wav_samples(wav)
    assert (rate, n, len(chans)) == (8000, 3, 2)
    assert np.frombuffer(chans[0], "<i2").tolist() == [100, 300, 500]
    assert np.frombuffer(chans[1], "<i2").tolist() == [-200, -400, -600]

    # synth round-trip: stats equal a from-scratch byte-formula replay
    data = synth_wav(16000, 2, 777)
    rate, n, chans = decode_wav_samples(data)
    a = 16000 + 7 * 2
    want = [(a + 26 * 2 * f) % 256 + 256 * ((a + 26 * 2 * f + 13) % 256)
            for f in range(777)]
    want = [v - 65536 if v >= 32768 else v for v in want]
    assert np.frombuffer(chans[0], "<i2").tolist() == want

    bad_bits = bytearray(synth_wav(8000, 1, 4))
    bad_bits[34] = 8  # fmt bits-per-sample -> 8
    with pytest.raises(ValueError, match="16-bit PCM"):
        decode_wav_samples(bytes(bad_bits))
    trunc = synth_wav(8000, 1, 100)[:60]  # data chunk declares more
    with pytest.raises(ValueError, match="declares"):
        decode_wav_samples(trunc)


def test_mp4_track_walk_roundtrip_and_corrupt():
    """parse_mp4_tracks recovers every track's (id, handler, timescale,
    duration) via the nested moov/trak/mdia walk across the synth
    param grid, and quarantines a trak missing its mdia."""
    from database_syncer_spark.pipeline.multimodal import (
        parse_mp4_tracks, synth_mp4)

    for dur in (0, 3001, 999999):
        for traks in (1, 2, 3, 7):
            got = parse_mp4_tracks(synth_mp4(600, dur, traks,
                                             total_bytes=2600))
            want = [(t + 1, "vide" if t % 2 == 0 else "soun",
                     1000 + 500 * t, dur * (t + 1))
                    for t in range(traks)]
            assert got == want, (dur, traks)

    # a trak with tkhd only (no mdia) must refuse, not emit garbage
    import struct
    def box(btype, p):
        return struct.pack(">I", 8 + len(p)) + btype + p
    mvhd = box(b"mvhd", bytes(4) + bytes(8) + (600).to_bytes(4, "big")
               + (100).to_bytes(4, "big") + bytes(80))
    tkhd = box(b"tkhd", bytes(4) + bytes(8) + (1).to_bytes(4, "big")
               + bytes(4) + (100).to_bytes(4, "big") + bytes(60))
    mp4 = (box(b"ftyp", b"isomxxxxisommp42")
           + box(b"moov", mvhd + box(b"trak", tkhd)))
    with pytest.raises(ValueError, match="missing tkhd/mdhd/hdlr"):
        parse_mp4_tracks(mp4)


def test_container_parsers_quarantine_not_garbage():
    """r11 review regressions: undersized/truncated containers must
    raise ValueError (quarantine) — never a silently-wrong value and
    never a bare IndexError/ZeroDivisionError that fails the whole
    Spark stage unclassified."""
    import struct

    from database_syncer_spark.pipeline.multimodal import (
        decode_gif_pixels, decode_wav_samples, parse_media_header,
        parse_mp4_tracks, synth_gif_lzw, synth_mp4)

    def box(btype, p):
        return struct.pack(">I", 8 + len(p)) + btype + p

    ftyp = box(b"ftyp", b"isomxxxxisommp42")
    # 16-byte mvhd (8-byte body): previously parsed the SIBLING trak's
    # ASCII bytes as the timescale — the silent-wrong-value case
    tiny_mvhd = box(b"mvhd", bytes(8))
    trak = box(b"trak", bytes(92))
    with pytest.raises(ValueError, match="mvhd .* too small"):
        parse_media_header(ftyp + box(b"moov", tiny_mvhd + trak))
    # empty-body mvhd: previously IndexError at the version read
    with pytest.raises(ValueError, match="truncated mvhd"):
        parse_media_header(ftyp + box(b"moov", box(b"mvhd", b"")))
    # undersized mdhd inside a trak: same class, nested walk
    bad_trak = box(b"trak", box(b"tkhd", bytes(84))
                   + box(b"mdia", box(b"mdhd", bytes(8))
                         + box(b"hdlr", bytes(13))))
    good_mvhd = box(b"mvhd", bytes(12) + (600).to_bytes(4, "big")
                    + (100).to_bytes(4, "big") + bytes(80))
    with pytest.raises(ValueError, match="mdhd .* too small"):
        parse_mp4_tracks(ftyp + box(b"moov", good_mvhd + bad_trak))
    # truncated largesize
    with pytest.raises(ValueError, match="largesize|bad box"):
        parse_media_header(ftyp + (1).to_bytes(4, "big") + b"skip")

    # GIF prefix truncation at every interesting boundary: ValueError
    # only, never IndexError
    full = synth_gif_lzw(10, 10)
    for cut in (9, 11, 13, 200, 786, 790, 793, 800, len(full) - 2):
        try:
            decode_gif_pixels(full[:cut])
        except ValueError:
            pass  # the quarantine contract

    # channels=0 WAV: previously ZeroDivisionError in decode_wav_samples
    zero_ch = (b"RIFF" + bytes(4) + b"WAVE"
               + b"fmt " + (16).to_bytes(4, "little")
               + struct.pack("<HHIIHH", 1, 0, 8000, 0, 4, 16)
               + b"data" + (8).to_bytes(4, "little") + bytes(8))
    with pytest.raises(ValueError, match="zero channel"):
        parse_media_header(zero_ch)
    with pytest.raises(ValueError, match="zero channel"):
        decode_wav_samples(zero_ch)


def test_track_meta_u32_track_id_overflow_raises(spark):
    """A legal u32 tkhd track_ID of 2^31 + 5 does not fit the int
    track_id column: decode_track_meta must fail naming the column,
    never return the wrapped value -2147483643."""
    from database_syncer_spark.pipeline.multimodal import (
        decode_track_meta, parse_mp4_tracks, synth_mp4)

    data = bytearray(synth_mp4(600, 3000, 1, total_bytes=900))
    at = data.index(b"tkhd") + 4 + 4 + 8  # version/flags, ctime, mtime
    data[at:at + 4] = (2**31 + 5).to_bytes(4, "big")
    assert parse_mp4_tracks(bytes(data))[0][0] == 2**31 + 5
    files = spark.createDataFrame([(7, bytes(data))],
                                  "doc_id long, content binary")
    with pytest.raises(Exception, match="column 'track_id'"):
        decode_track_meta(files).collect()


def _empty_map_files(spark, tmp_path):
    """map_files over zero input rows, and over rows whose decoder
    emits nothing."""
    from database_syncer_spark.pipeline.multimodal import (
        IMAGE_DIMS_SCHEMA, map_files)

    files = spark.createDataFrame([(1, b"x"), (2, b"yz")],
                                  "doc_id long, content binary")
    return [(map_files(src, "content", IMAGE_DIMS_SCHEMA, lambda data: []),
             IMAGE_DIMS_SCHEMA) for src in (files.where("doc_id < 0"), files)]


def _empty_dump_parse(spark, tmp_path):
    """The dump tokenizer over a batch whose only INSERT fails the
    arity check."""
    from database_syncer_spark.arrow_map import map_arrow
    from database_syncer_spark.sources.dump import (
        _parse_insert_batches, parse_create_table)

    schema = "table string, vals array<string>, seq_hi long, seq_lo long"
    ts = parse_create_table("CREATE TABLE t (a text, b text, PRIMARY KEY (a))")
    stmts = spark.createDataFrame(
        [("INSERT INTO t VALUES ('only', 'two', 'three')", 0, 0)],
        "stmt string, seq_hi long, seq_lo long")
    return [(map_arrow(stmts, schema, _parse_insert_batches({"t": ts})),
             schema)]


def _empty_sql_dump(spark, tmp_path):
    """write_sql_dump of an empty frame, read back."""
    from database_syncer_spark.sources.dump import read_sql_dump, write_sql_dump

    path = str(tmp_path / "empty.sql")
    write_sql_dump(spark.createDataFrame([], "a int, b string"), "t", ["a"],
                   path)
    assert "INSERT" not in open(path).read()
    return [(read_sql_dump(spark, path)["t"], "a int, b string")]


@pytest.mark.parametrize("case", [_empty_map_files, _empty_dump_parse,
                                  _empty_sql_dump],
                         ids=["map_files", "dump_parse", "write_sql_dump"])
def test_map_files_empty_result_has_declared_schema(spark, tmp_path, case):
    """A map_arrow kernel that emits no row returns an empty frame typed
    exactly as declared."""
    from pyspark.sql.types import StructType

    for out, schema in case(spark, tmp_path):
        assert out.schema == StructType.fromDDL(schema)
        assert out.collect() == []


def test_package_python_crossings_go_through_map_arrow():
    """Every Python map over a frame's rows goes through
    arrow_map.map_arrow: ``.mapInArrow(`` appears once in the package,
    in the helper, and ``.mapInPandas(`` nowhere."""
    import pathlib

    import database_syncer_spark

    root = pathlib.Path(database_syncer_spark.__file__).parent
    hits = {call: [p.relative_to(root).as_posix()
                   for p in sorted(root.rglob("*.py"))
                   for line in p.read_text().splitlines() if call in line]
            for call in (".mapInArrow(", ".mapInPandas(")}
    assert hits == {".mapInArrow(": ["arrow_map.py"], ".mapInPandas(": []}


def test_wav_sample_stats_empty_data_chunk(spark):
    """A valid 16-bit WAV with an empty data chunk has a channel-0 sum
    of 0 and no min/max: NULL, not a failed task."""
    from database_syncer_spark.pipeline.multimodal import (
        synth_wav, wav_sample_stats)

    files = spark.createDataFrame([(3, synth_wav(8000, 1, 0))],
                                  "doc_id long, content binary")
    assert [tuple(r) for r in wav_sample_stats(files).collect()] == [
        (3, 8000, 1, 0, 0, None, None)]


def test_frame_sample_independent_of_partitioning(spark):
    """frame_sample over a frame with more partitions than rows (so
    some partitions are empty) returns the one-partition result."""
    from database_syncer_spark.pipeline.multimodal import frame_sample

    rows = [(i, bytes((i * 7 + j) % 256 for j in range(n)))
            for i, n in enumerate((0, 1, 63, 64, 65, 200, 500))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    want = sorted(frame_sample(df.coalesce(1)).collect())
    assert len(want) == 1 + 1 + 1 + 1 + 2 + 3  # ceil(len/64/3) per doc
    assert sorted(frame_sample(df.repartition(16)).collect()) == want


def test_quality_score_carry_equals_join_back(spark, sf_dir):
    """r12 optimization contract: quality_score(df, carry=('text',))
    must equal the old shape — score a skinny frame, join text back on
    doc_id — value-for-value (the curate pipelines now rely on the
    carried projection instead of the join)."""
    from database_syncer_spark.pipeline.text import quality_score

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    carried = {r.doc_id: (r.quality_score, r.text)
               for r in quality_score(docs, carry=("text",)).collect()}
    joined = {r.doc_id: (r.quality_score, r.text)
              for r in quality_score(docs).select("doc_id", "quality_score")
              .join(docs.select("doc_id", "text"), "doc_id").collect()}
    assert carried == joined and len(carried) > 0


def test_probe_partitions_scale_ladder(spark):
    """r12: the embedding band join's probe-side partition count derives
    from the expected collision volume (guide §2.5 — AQE sizes from
    input bytes and cannot see the join's output multiplication),
    floored at defaultParallelism and capped at 4096."""
    from database_syncer_spark.pipeline.dedup import _probe_partitions

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    dp = spark.sparkContext.defaultParallelism
    # unknown corpus size -> fill the machine
    assert _probe_partitions(emb, 4, 16, None) == dp
    # estimate below the floor -> defaultParallelism (500 vectors:
    # est//200k == 0 on any host, so the floor always binds)
    assert _probe_partitions(emb, 4, 16, 500) == dp
    # fixture regime (2000 vectors): est//200k == 20 — floor binds on
    # wide hosts, the estimate on narrow ones (machine-independent form)
    assert _probe_partitions(emb, 4, 16, 2_000) == max(dp, 20)
    # scale regime: 1M vectors / 20 planes / 8 tables -> est/200k tasks
    est = 8 * 1_000_000 * 1_000_000 // (2 ** 20)
    assert _probe_partitions(emb, 20, 8, 1_000_000) == min(
        4096, max(dp, est // 200_000))
    # cap binds eventually
    assert _probe_partitions(emb, 4, 16, 50_000_000) == 4096


def test_append_band_index_refreshes_other_sessions(spark, sf_dir):
    """r12 regression pin: append_band_index must make the appended
    bands visible to readers that resolved the table through a
    DIFFERENT SparkSession — foreachBatch hands per-epoch sessions, and
    each session caches its own table file listing, so a refresh on
    only the writing frame's session left the default session's probe
    on the pre-append listing (the stream_dedup_rolling day-3 probe
    silently missed day-1 admissions; caught by the value oracle)."""
    from database_syncer_spark.pipeline.dedup import (
        append_band_index, build_corpus_band_index)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    table = "dss_test_xsession_bands"
    build_corpus_band_index(docs.where(F.col("doc_id") < 100), table)
    base = spark.table(table).count()  # populate THIS session's cache
    clone = spark.newSession()  # stands in for the per-epoch session
    batch = clone.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text").where(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 120))
    append_band_index(batch, table)
    grown = spark.table(table).count()  # must see the clone's append
    assert grown > base, (base, grown)
