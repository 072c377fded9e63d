"""Text-analysis operators over the documents table (SURVEY.md §2 B11).

All hot-path logic is built-in expressions (split/explode/regexp/aggregate
— JVM codegen); Python appears only in the language-ID profile *training*
(driver-side, tiny) — classification itself is a broadcast join + array
intersection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "in")

# The one setting each operator runs with (the registry keys and their
# DuckDB oracles use exactly these values).
_NGRAM_K = 3                      # decontaminate, repetition_score grams
_HIST_BUCKET_CHARS = 100          # length_histogram bucket width
_LM_FLAG_BELOW = -6.0             # ngram_lm_score: flag a lower mean log2 P
_PACK_CAPACITY, _PACK_SHARDS = 64, 8   # pack_greedy bin tokens, shards
_CHUNK_TOKENS = 16                # chunk_split chunk length
_LANG_PROFILE_TOP_N = 40          # bigrams per language profile
# repetition_score flags a doc with >= _REP_MIN_NGRAMS grams whose
# duplicate-gram fraction >= _REP_DUP or top-gram share >= _REP_TOP
_REP_DUP, _REP_TOP, _REP_MIN_NGRAMS = 0.3, 0.2, 5

#: BPE-ish token pattern: letter runs, digit runs, single non-alnum marks.
TOKEN_PATTERN = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def tokens(col) -> F.Column:
    return F.split(col, " ")


def tokens_tf(documents: DataFrame) -> DataFrame:
    """Corpus term frequencies: tokenize -> explode -> count."""
    return (
        documents.select(F.explode(tokens(F.col("text"))).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("tf"))
    )


def lang_stats(documents: DataFrame) -> DataFrame:
    return documents.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.avg("n_chars").alias("avg_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


def length_histogram(documents: DataFrame) -> DataFrame:
    """Per-domain document-length histogram — the corpus-audit / data-
    card staple (what share of each language is short snippets vs long
    documents, and where truncation thresholds would bite).

    Buckets are INTEGER division (`n_chars DIV 100`), not
    float log buckets: exact in every engine, so the oracle matches
    bit-for-bit. At 100 TB this is one partial-aggregated groupBy whose
    key space is (languages × buckets) — a few hundred groups; the
    map-side combine reduces the shuffle to group-count rows per
    partition regardless of corpus size."""
    bucket = F.expr(f"n_chars DIV {_HIST_BUCKET_CHARS}").cast("int")
    return documents.groupBy("lang", bucket.alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("n_chars").cast("int").alias("min_chars"),
        F.max("n_chars").cast("int").alias("max_chars"),
    )


#: stopword-token counter as a single anchored-alternation regex: the
#: leading group consumes the preceding delimiter, the trailing
#: LOOKAHEAD doesn't — so adjacent stopwords ("of the a") all match.
#: Counts tokens WITH multiplicity, exactly like filtering the split
#: array. Exists because the natural higher-order form
#: ``F.filter(toks, isin(STOPWORDS))`` is a lambda expression — those
#: evaluate interpreted (no codegen), and the r9 2.5 M-doc A/B measured
#: the whole key 30.7 s (lambda) vs 13.0 s (regex) on a cold JVM with
#: ZERO value mismatches (warm runs converge, but registry sweeps and
#: one-shot curation jobs pay the cold cost).
_STOP_COUNT_PATTERN = "(^| )(" + "|".join(STOPWORDS) + ")(?=( |$))"


def quality_score(documents: DataFrame,
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """Heuristic quality features + score (length / stopword / punct
    ratios — the standard pre-training corpus filters).

    ``carry``: extra input columns threaded through unchanged, appended
    AFTER the feature columns (r12 optimization: the curate pipelines
    previously scored a skinny (doc_id, score) frame and joined it back
    on doc_id just to recover ``text`` — one whole join/Exchange per
    pipeline for a column this projection already had in hand)."""
    # translate() is a plain per-char map; the equivalent negated-class
    # regex ([^a-z0-9 ]) measured 41 s vs 1.2 s at the 1 M-doc probe
    # (bit-identical counts verified on the full fixture, r5)
    base = documents.select(
        "doc_id", *carry,
        tokens(F.col("text")).alias("__toks"),
        F.regexp_count("text", F.lit(_STOP_COUNT_PATTERN)).alias("__stop"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .alias("__nonsp"),
        F.length(F.translate(
            F.col("text"), "abcdefghijklmnopqrstuvwxyz0123456789 ", ""))
        .alias("__punct"),
    )
    n_tokens = F.size(F.col("__toks"))
    stop_ratio = F.col("__stop").cast("double") / n_tokens
    score = F.round(
        F.least(F.lit(1.0), n_tokens.cast("double") / 100.0)
        * (1.0 - stop_ratio), 6)
    return base.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(F.col("__nonsp").cast("double") / n_tokens, 6)
        .alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.col("__punct").alias("punct_count"),
        score.alias("quality_score"),
        *carry,
    )


def gopher_filters(documents: DataFrame) -> DataFrame:
    """Gopher-style heuristic rule battery (the document-level quality
    rules of Rae et al. 2021 §A1.1, thresholds adapted to the fixture's
    value ranges): per-document feature columns, one boolean flag PER
    RULE, and the combined keep decision — so a curation run can audit
    WHICH rule rejected a document, which the single blended
    quality_score cannot.

    Rules: word-count bounds, mean-word-length bounds, distinct-word
    fraction (repetition proxy), and minimum distinct-stopword count
    (the "contains ≥2 of a tiny stopword list" gibberish screen).

    Scale shape: zero shuffles, corpus-linear — one scan, layered
    projections. The layering is deliberate: building every flag
    inline would repeat the split() a dozen times per row in one
    collapsed Project; aliasing the token array and the rounded
    features in their own selects makes Catalyst's CollapseProject
    keep them (non-cheap aliases referenced more than once don't
    inline), so the plan tokenizes each document ONCE (plan-guarded:
    a single split() in the whole plan). Flags compare the 6-dp
    ROUNDED values so the DuckDB oracle's IEEE round matches
    bit-for-bit."""
    toks = F.col("__toks")
    n_words = F.size(toks)
    base = documents.select("doc_id", tokens(F.col("text")).alias("__toks"),
                            F.length(F.replace(F.col("text"), F.lit(" "),
                                               F.lit(""))).alias("__nonsp"))
    # count how many of the 6 stopwords occur: array_intersect with the
    # DISTINCT literal stopword array on the LEFT — the result is then
    # distinct-by-construction whatever either engine's dedup semantics
    # for the right side, so the count equals the oracle's "stopwords s
    # where s ∈ tokens". Deliberately NOT a higher-order
    # F.filter(..., lambda): lambda expressions evaluate interpreted
    # (no codegen) and measured 43× slower at the 2.5 M-doc probe
    # (94.7 s vs 2.2 s, SCALE.md r9).
    feats = base.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        F.round(F.col("__nonsp").cast("double") / n_words, 6)
        .alias("mean_word_len"),
        F.round(F.size(F.array_distinct(toks)).cast("double") / n_words, 6)
        .alias("distinct_frac"),
        F.size(F.array_intersect(
            F.array(*[F.lit(s) for s in STOPWORDS]), toks))
        .cast("int").alias("n_stop_distinct"),
    )
    flag_word_count = (F.col("n_words") >= 30) & (F.col("n_words") <= 1000)
    flag_mean_len = ((F.col("mean_word_len") >= 4.0)
                     & (F.col("mean_word_len") <= 5.0))
    flag_distinct = F.col("distinct_frac") >= 0.4
    flag_stopwords = F.col("n_stop_distinct") >= 2
    return feats.select(
        "doc_id", "n_words", "mean_word_len", "distinct_frac",
        "n_stop_distinct",
        flag_word_count.alias("flag_word_count"),
        flag_mean_len.alias("flag_mean_len"),
        flag_distinct.alias("flag_distinct"),
        flag_stopwords.alias("flag_stopwords"),
        (flag_word_count & flag_mean_len & flag_distinct
         & flag_stopwords).alias("keep"),
    )


def token_count_bpe(documents: DataFrame) -> DataFrame:
    """Regex token counting (BPE-ish segmentation), whitespace count, and
    chars-per-token — the budget metric of every training pipeline."""
    n_re = F.size(F.regexp_extract_all("text", F.lit(TOKEN_PATTERN), 0))
    n_ws = F.size(tokens(F.col("text")))
    return documents.select(
        "doc_id",
        n_re.alias("n_bpe_tokens"),
        n_ws.alias("n_ws_tokens"),
        F.round(F.length("text").cast("double") / n_re, 6).alias("chars_per_token"),
    )


def ngram_lm_score(documents: DataFrame) -> DataFrame:
    """Corpus-LM fluency scoring: train a bigram MLE model ON the corpus
    itself and score each doc by its mean log2 P(w2|w1) — the in-engine
    analog of the KenLM-perplexity filters every pre-training pipeline
    runs (docs whose word transitions are atypical for the corpus score
    low). Output: (doc_id, n_bigrams, lm_score, flagged).

    Shape: one bigram explode over the corpus (zip_with of two slices,
    pure codegen), two hash aggregations for the model counts — both
    VOCABULARY²-bounded, i.e. sublinear in corpus size by Heaps' law —
    then a model⋈bigrams join that is broadcast/AQE territory at scale
    (same argument as tfidf_topk's df join), and one per-doc mean.
    Docs with <2 tokens have no bigrams and are excluded (no LM
    evidence either way). Determinism: per-bigram log2(c12)-log2(c1)
    rounds to 9 dp (integer-arg log2 may differ in the last ulp between
    engines), the per-doc mean to 6 dp — the tfidf discipline."""
    toks = tokens(F.col("text"))
    d = (documents.select("doc_id", toks.alias("t"))
         .withColumn("n", F.size("t"))
         .where(F.col("n") >= 2))
    pair = F.zip_with(
        F.slice("t", 1, F.col("n") - 1),
        F.slice("t", 2, F.col("n") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    big = d.select("doc_id", F.explode(pair).alias("bg")).select(
        "doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("c1"))
    lp = F.round(F.log2("c12") - F.log2("c1"), 9)
    scored = (big.join(c12, ["w1", "w2"]).join(c1, "w1")
              .select("doc_id", lp.alias("lp")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.round(F.avg("lp"), 6).alias("lm_score"))
            .withColumn("flagged", F.col("lm_score") < _LM_FLAG_BELOW))


PACK_SCHEMA = "doc_id long, shard int, bin_id long, n_tokens int"


def pack_greedy(documents: DataFrame) -> DataFrame:
    """Greedy sequence packing: assign docs to fixed-capacity token bins
    (the batching step after chunking — packing short sequences together
    is what keeps training batches dense). Packing is inherently
    SEQUENTIAL (each bin decision depends on the previous fill), which
    is exactly why the distributed design matters: docs hash into
    _PACK_SHARDS independent shards (doc_id % _PACK_SHARDS), each shard
    packs greedily in doc_id order inside ONE applyInPandas group, and
    bin ids are globalized as shard·2⁴¹ + local index. At 100 TB the
    shard count is sized so a shard's doc METADATA fits one task —
    parallelism × determinism, no global sequence.

    Greedy rule: a doc joins the current bin iff fill + n ≤ _PACK_CAPACITY,
    else it opens a new bin (an oversized doc owns its bin). The DuckDB
    oracle replays the same rule with a recursive CTE per shard, so the
    assignment is value-verified, not just shape-checked."""
    import pandas as pd

    d = (documents
         .select("doc_id",
                 (F.col("doc_id") % _PACK_SHARDS).cast("int").alias("shard"),
                 F.size(tokens(F.col("text"))).cast("int").alias("n_tokens")))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, fill, local = [], 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if local == 0 or fill + n > _PACK_CAPACITY:
                local += 1
                fill = n
            else:
                fill += n
            bins.append(local)
        # shard << 41 (not a decimal multiplier): a shard can exceed
        # 1M bins long before 2^41, so a narrow base would collide bin
        # ids ACROSS shards at exactly the scale this op exists for
        pdf["bin_id"] = (pdf["shard"].astype("int64") * (1 << 41)
                         + pd.Series(bins, dtype="int64"))
        return pdf[["doc_id", "shard", "bin_id", "n_tokens"]]

    return d.groupBy("shard").applyInPandas(pack, PACK_SCHEMA)


def chunk_split(documents: DataFrame) -> DataFrame:
    """Context-window chunking: split each document's token stream into
    fixed-size non-overlapping chunks (the sequence-slicing step every
    training pipeline runs before packing/batching). Chunk i of a doc
    with n tokens covers token positions [i*C, min((i+1)*C, n)) —
    n_chunks = ceil(n/C), the tail chunk may be short.

    Scale: doc-local (tokenize → sequence-explode → slice), zero
    shuffles; output volume is ~n/C rows per doc, each carrying only its
    own slice — no duplication of the full text. All codegen built-ins
    (split/sequence/explode/slice/concat_ws), no Python."""
    d = (documents
         .select("doc_id", tokens(F.col("text")).alias("toks"))
         .withColumn("n_tokens", F.size("toks"))
         .where(F.col("n_tokens") > 0))
    n_chunks = F.ceil(F.col("n_tokens") / F.lit(_CHUNK_TOKENS)).cast("int")
    d = d.withColumn(
        "chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))))
    start = (F.col("chunk_id") * _CHUNK_TOKENS).cast("int")
    length = F.least(F.lit(_CHUNK_TOKENS),
                     F.col("n_tokens") - start).cast("int")
    return d.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        start.alias("tok_start"),
        length.alias("n_chunk_tokens"),
        F.concat_ws(" ", F.slice("toks", start + F.lit(1), length))
         .alias("chunk_text"),
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set — near-free dedup key for bag-of-words-identical docs."""
    fp = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(F.col("text")))))
    )
    return documents.select("doc_id", fp.alias("fingerprint"))


def tfidf_topk(documents: DataFrame, top_n: int = 3) -> DataFrame:
    """Per-document top-N terms by TF-IDF (idf = ln((N+1)/(df+1))) — the
    keyword-extraction primitive of retrieval/labeling pipelines.

    Shape: one groupBy(doc, term) with map-side partial combine, one
    vocabulary-sized groupBy(term) for document frequency, then a
    vocab⋈tf join — vocabulary ≪ corpus (Heaps' law), so at scale the
    df side is broadcast-or-AQE territory, never a corpus-sized
    shuffle; the corpus count rides in as a 1-row broadcast cross join
    (a scalar subquery, not a driver collect). Ranking happens on the
    ROUNDED score with the term as tiebreak, so the top-N set is
    deterministic and engine-independent (ln() may differ in the last
    ulp between engines; round-6 absorbs it)."""
    tok = (
        documents.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .where(F.col("term") != "")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = documents.agg(F.count("*").alias("__n"))
    scored = (
        tf.join(dfreq, "term").crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term",
            F.round(
                F.col("tf").cast("double")
                * F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)),
                6).alias("tfidf"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where(F.col("rn") <= top_n)
    )


# --- language ID -------------------------------------------------------------

#: distinct character bigrams over a PRE-SLICED 200-char prefix column
#: ``__p``: the lambda body of a higher-order transform is evaluated per
#: element, so inlining substring(text,1,200) re-sliced the prefix once
#: per bigram position — materializing it as its own projection first
#: (the same O(len²) fix with_shingles applies to its token split)
#: measured 1.76 s -> 0.81 s for the bigram pass at sf0.1, identical
#: arrays (r12; callers project _LANG_PREFIX before this expr).
_LANG_PREFIX = "substring(text, 1, 200)"
_BIGRAMS_EXPR = (
    "array_distinct(transform("
    "sequence(1, greatest(length(__p)-1, 1)),"
    " i -> substring(__p, CAST(i AS INT), 2)))"
)


def train_lang_profiles(documents: DataFrame) -> DataFrame:
    """Per-language top-N character bigrams by document frequency.

    Profiles are tiny (n_langs x _LANG_PROFILE_TOP_N) — they broadcast
    to classification.
    """
    from pyspark.sql import Window as W

    bigrams = documents.select(
        "lang", F.expr(_LANG_PREFIX).alias("__p"),
    ).select(
        "lang", F.explode(F.expr(_BIGRAMS_EXPR)).alias("bg"),
    ).groupBy("lang", "bg").agg(F.count("*").alias("df"))
    w = W.partitionBy("lang").orderBy(F.col("df").desc(), F.col("bg"))
    return (
        bigrams.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _LANG_PROFILE_TOP_N)
        .groupBy("lang")
        .agg(F.array_sort(F.collect_set("bg")).alias("profile"))
    )


def classify_lang(documents: DataFrame, profiles: DataFrame) -> DataFrame:
    """Score = |doc bigrams ∩ lang profile|; argmax lang (ties -> lang asc).

    Broadcast the profiles; one pass over documents, no shuffle of the
    corpus itself."""
    from pyspark.sql import Window as W

    doc_bg = documents.select(
        "doc_id", "lang", F.expr(_LANG_PREFIX).alias("__p"),
    ).select(
        "doc_id", "lang", F.expr(_BIGRAMS_EXPR).alias("bg"),
    )
    scored = doc_bg.crossJoin(
        F.broadcast(profiles.select(F.col("lang").alias("cand_lang"), "profile"))
    ).select(
        "doc_id", "lang", "cand_lang",
        F.size(F.array_intersect("bg", "profile")).alias("overlap"),
    )
    w = W.partitionBy("doc_id").orderBy(
        F.col("overlap").desc(), F.col("cand_lang").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", F.col("lang").alias("true_lang"),
                F.col("cand_lang").alias("pred_lang"), "overlap")
    )


def langid(spark: SparkSession, documents: DataFrame) -> DataFrame:
    return classify_lang(documents, train_lang_profiles(documents))


def decontaminate(documents: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word 3-gram with an evaluation set (the standard pre-training hygiene
    step — eval n-grams leaking into the corpus inflate benchmarks).

    Plan shape: the eval set's distinct shingles BROADCAST (eval sets are
    KB-MB scale against a 100-TB corpus — broadcasting them is the whole
    design; the corpus is never shuffled), the corpus streams through one
    explode -> broadcast-hash semi-join -> per-doc count. Output one row
    per training doc: overlap count + contaminated flag, so the clean
    subset is a `WHERE NOT contaminated` away."""
    from database_syncer_spark.pipeline.dedup import with_shingles

    k = _NGRAM_K
    eval_sh = (with_shingles(eval_docs, k)
               .select(F.explode("shingles").alias("sh")).distinct())
    # Corpus side: positional explode + codegen'd slice/concat_ws (the
    # minhash_signatures shape), NOT explode(with_shingles(...)) — a
    # higher-order transform's lambda is interpreted per element and
    # measured 4x slower for the same rows (2.2 s -> 0.55 s at sf0.1,
    # r12; values identical). The per-doc DISTINCT that the array form
    # gave for free moves into countDistinct below, whose partial
    # distinct agg runs on eval-set HITS only (broadcast-join-pruned),
    # never the corpus shingle volume.
    toks = documents.select("doc_id", F.split("text", " ").alias("__toks"))
    pos = toks.select(
        "doc_id", "__toks",
        F.explode(F.sequence(
            F.lit(1), F.greatest(F.size("__toks") - (k - 1), F.lit(1)))
        ).alias("__i"))
    doc_sh = pos.select(
        "doc_id",
        F.concat_ws(" ", F.slice("__toks", F.col("__i"), k)).alias("sh"))
    hits = (doc_sh.join(F.broadcast(eval_sh), "sh")
            .groupBy("doc_id").agg(F.countDistinct("sh").alias("__n")))
    n = F.coalesce(F.col("__n"), F.lit(0))
    return (documents.select("doc_id").join(hits, "doc_id", "left")
            .select("doc_id",
                    n.cast("int").alias("n_eval_shingles"),
                    (n > 0).alias("contaminated")))


def repetition_score(documents: DataFrame) -> DataFrame:
    """Gopher-style within-document repetition filter: the fraction of
    duplicate word 3-grams and the share of the single most frequent
    3-gram. Highly repetitive documents (boilerplate, scraped spam,
    degenerate generations) are the classic pre-training removal class.

    One explode -> two-level hash aggregation (per-(doc, gram) counts,
    then per-doc rollup) — all map-side-combining codegen, no windows,
    no Python; cost is corpus-linear. The corpus is repartitioned by
    doc_id FIRST: hash-partitioning on doc_id satisfies the clustered
    distribution of BOTH aggregations (doc_id is a prefix-subset of
    (doc_id, gram)), so the exploded ~40×-corpus gram rows never cross
    the network — the one exchange carries document text, not k-gram
    pairs. The r7 quiet-host probe measured the old plan's two
    gram-sized exchanges (explode output ~100 M (doc, gram-text) rows,
    then the distinct-gram counts again) at 4.0× wall for 2.5× data
    (102.4 s at 2.5 M docs, shuffle-spill superlinearity); this shape
    is 1 corpus-sized exchange + partition-local aggs. The repetitive
    flag compares UNROUNDED doubles (the reported fractions round to
    6 dp for display/hashing only). Documents with fewer than
    _REP_MIN_NGRAMS k-grams are never flagged — a one-gram doc trivially
    has top_frac 1.0, and repetition statistics on a handful of grams
    are noise, not signal (length gates are standard in the
    Gopher-family filters)."""
    k = _NGRAM_K
    toks = (documents.select("doc_id", F.split("text", " ").alias("__toks"))
            .repartition("doc_id"))
    raw = F.expr(
        f"transform(sequence(1, greatest(size(__toks) - {k - 1}, 1)),"
        f" i -> concat_ws(' ', slice(__toks, CAST(i AS INT), {k})))")
    per = (toks.select("doc_id", F.explode(raw).alias("sh"))
           .groupBy("doc_id", "sh").agg(F.count("*").alias("c")))
    agg = per.groupBy("doc_id").agg(
        F.sum("c").alias("n_ngrams"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_c"))
    n = F.col("n_ngrams").cast("double")
    dup_frac = 1.0 - F.col("n_distinct").cast("double") / n
    top_frac = F.col("top_c").cast("double") / n
    return agg.select(
        "doc_id", "n_ngrams",
        F.round(dup_frac, 6).alias("dup_ngram_frac"),
        F.round(top_frac, 6).alias("top_ngram_frac"),
        ((F.col("n_ngrams") >= _REP_MIN_NGRAMS)
         & ((dup_frac >= _REP_DUP) | (top_frac >= _REP_TOP)))
        .alias("repetitive"))


#: Dialect-portable PII patterns (same semantics in Java regex and
#: DuckDB's RE2: plain char classes, no lookaround, no backrefs).
EMAIL_PATTERN = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PHONE_PATTERN = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"


def pii_scrub(documents: DataFrame) -> DataFrame:
    """PII detection + redaction: count emails/phones per doc and emit
    the md5 of the redacted text (emails -> <EMAIL>, phones -> <PHONE>),
    so the driver hash verifies the REDACTION itself, not just counts —
    on clean docs the md5 is the identity, on dirty docs any wrong
    replacement changes it. All built-in regexp expressions, one codegen
    pass, corpus-linear; the patterns are deliberately conservative and
    portable (a production scrubber would add locale-specific families
    the same way)."""
    redacted = F.regexp_replace(
        F.regexp_replace("text", EMAIL_PATTERN, "<EMAIL>"),
        PHONE_PATTERN, "<PHONE>")
    n_emails = F.regexp_count("text", F.lit(EMAIL_PATTERN))
    n_phones = F.regexp_count("text", F.lit(PHONE_PATTERN))
    return documents.select(
        "doc_id",
        n_emails.cast("int").alias("n_emails"),
        n_phones.cast("int").alias("n_phones"),
        ((n_emails > 0) | (n_phones > 0)).alias("has_pii"),
        F.md5(redacted).alias("redacted_md5"))


#: The five core named/numeric entities a minimal HTML unescape handles;
#: ``&amp;`` must decode LAST (so already-decoded ``&lt;`` text can't be
#: double-decoded on the way through).
_HTML_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                  ("&#39;", "'"), ("&nbsp;", " ")]


def html_strip(documents: DataFrame) -> DataFrame:
    """HTML boilerplate removal — the first stage of a web-crawl
    curation pipeline (reference scope: the corpus-curation family;
    cf. trafilatura/jusText's extraction problem reduced to its
    deterministic core): drop ``<script>``/``<style>`` blocks WITH
    their content (a script's body is code, not prose — and may contain
    ``<`` that would derail naive tag stripping), drop ``<!-- comments
    -->``, drop every remaining tag, decode the core entities
    (``&amp;`` last), collapse whitespace runs, trim. Returns (doc_id,
    clean_text, n_tags) where n_tags counts the real markup tags (after
    block/comment removal, so script-internal ``<`` is not a tag).

    Scale: one codegen projection, corpus-linear, zero shuffles, zero
    Python — regexp_replace/replace are JVM built-ins, so this runs at
    scan speed on a 100-TB crawl. The markup is the ``html`` column."""
    s = F.regexp_replace(F.col("html"),
                         "(?is)<script[^>]*>.*?</script>", " ")
    s = F.regexp_replace(s, "(?is)<style[^>]*>.*?</style>", " ")
    s = F.regexp_replace(s, "(?s)<!--.*?-->", " ")
    n_tags = F.regexp_count(s, F.lit("<[^>]+>"))
    s = F.regexp_replace(s, "(?s)<[^>]+>", " ")
    for ent, ch in _HTML_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    s = F.replace(s, F.lit("&amp;"), F.lit("&"))
    s = F.trim(F.regexp_replace(s, "\\s+", " "))
    return documents.select(
        "doc_id", s.alias("clean_text"), n_tags.cast("int").alias("n_tags"))


def html_escape_text(col) -> F.Column:
    """Entity-encode raw text for embedding in HTML (& first so entity
    markers never double-encode) — the inverse path html_strip decodes;
    used by the driver key to build its fixture markup in-plan."""
    s = F.replace(col if not isinstance(col, str) else F.col(col),
                  F.lit("&"), F.lit("&amp;"))
    s = F.replace(s, F.lit("<"), F.lit("&lt;"))
    return F.replace(s, F.lit(">"), F.lit("&gt;"))
