"""Physical-plan regression guards.

SCALE.md's claims are enforceable: dims broadcast, filters and projections
reach the parquet scan, aggregations partial-combine map-side, and the
core diff stays a single-shuffle-per-side sort-merge join. A refactor
that silently degrades any of these fails here, not at 100 TB.
"""

from __future__ import annotations

import re

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_star_join_broadcasts_dims(spark, sf_dir):
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["join_multiway_star"](spark, sf_dir))
    assert "SortMergeJoin" not in plan, "star dims must broadcast, not shuffle"
    assert plan.count("BroadcastHashJoin") >= 3


def test_scan_pushes_filter_and_prunes_columns(spark, sf_dir):
    from pyspark.sql import functions as F
    from database_syncer_spark.catalog import load_table

    df = (load_table(spark, sf_dir, "lineitem")
          .where(F.col("l_quantity") > 30)
          .select("l_orderkey", "l_quantity"))
    plan = _plan(df)
    assert re.search(r"PushedFilters: \[.*GreaterThan\(l_quantity", plan)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_orderkey", "l_quantity"}, "scan must read only projected columns"


def test_partitioned_scan_prunes_at_listing(spark, sf_dir):
    """scan_partition_pruned's filter must be a PartitionFilter (resolved
    at file listing — other partitions' files never open), not a data
    filter evaluated per row."""
    from database_syncer_spark.queries.extended import scan_partition_pruned

    plan = _plan(scan_partition_pruned(spark, sf_dir))
    assert re.search(r"PartitionFilters: \[.*event_type.*click", plan), plan
    # and the partition column is NOT in the read schema (it comes from
    # the directory layout, not the files)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "event_type" not in m.group(1)


def test_stats_moments_single_shuffle(spark, sf_dir):
    """Exact-accumulator moments must stay one partial+final hash
    aggregate around a single exchange — the map-side-combine shape."""
    from database_syncer_spark.queries.extended import agg_stats_moments

    plan = _plan(agg_stats_moments(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_agg_partial_combines_map_side(spark, sf_dir):
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["agg_multi_measures"](spark, sf_dir))
    # partial + final HashAggregate pair around a single exchange
    assert plan.count("HashAggregate") >= 2
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_diff_is_single_join_no_extra_exchanges(spark, sf_dir):
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["diff_cdc_fullouter"](spark, sf_dir))
    assert plan.count("SortMergeJoin") == 1
    # one shuffle per side, none after the join
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2


def test_bucketed_snapshots_make_diff_shuffle_free(spark, sf_dir):
    """SCALE.md's headline claim, proven on the actual plan: with both
    snapshots stored bucketed by PK, the full CDC diff contains ZERO
    Exchange nodes — the full-outer join reads co-located buckets.
    (Requires plain-equality join keys; eqNullSafe keys disqualify
    bucketed co-location — measured 2 exchanges.)"""
    from database_syncer_spark.catalog import load_table
    from database_syncer_spark.core.bucketing import (
        drop_snapshot, write_bucketed_snapshot)
    from database_syncer_spark.core.diff import snapshot_diff
    from database_syncer_spark.core.snapshots import derive_backup

    prod = load_table(spark, sf_dir, "orders")
    backup = derive_backup(prod, "o_orderkey", "o_totalprice")
    try:
        bp = write_bucketed_snapshot(prod, "t_bkt_prod", ["o_orderkey"], 4)
        bb = write_bucketed_snapshot(backup, "t_bkt_backup", ["o_orderkey"], 4)
        changes = snapshot_diff(bp, bb, pk_cols=["o_orderkey"])
        plan = _plan(changes)
        assert "Exchange" not in plan, plan
        # and it still computes the right thing
        n_unbucketed = snapshot_diff(
            prod, backup, pk_cols=["o_orderkey"]).count()
        assert changes.count() == n_unbucketed
    finally:
        drop_snapshot(spark, "t_bkt_prod")
        drop_snapshot(spark, "t_bkt_backup")


def test_banded_range_join_is_equi_not_nested_loop(spark, sf_dir):
    """The banded rewrite must actually buy the equi-join plan: no
    BroadcastNestedLoopJoin / CartesianProduct anywhere."""
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["join_range_banded"](spark, sf_dir))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Join" in plan


def test_cosine_kernels_stay_in_codegen(spark, sf_dir):
    """The vector math runs in pipeline/vector.py's Arrow kernels:
    higher-order functions are interpreted per element, outside
    whole-stage codegen (a lambda dot product measured ~30x slower
    than an unrolled one at sf0.1), so no similarity or dedup key may
    plan a lambda over the embedding."""
    from database_syncer_spark.registry import all_queries

    qs = all_queries()
    for key in ["sim_topk_cosine", "sim_lsh_ann", "dedup_embedding_cosine"]:
        plan = _plan(qs[key](spark, sf_dir))
        assert "lambdafunction" not in plan, f"{key} uses interpreted HOFs"
    # No zip_with/aggregate over the embedding in IVF either.
    ivf = _plan(qs["sim_ivf_ann"](spark, sf_dir))
    assert "zip_with" not in ivf and "aggregate(embedding" not in ivf


def test_embedding_near_dup_one_shuffle_jit_sized(spark, sf_dir):
    """dedup_embedding_cosine verifies in one Arrow kernel over
    bucket-clustered rows. Its unrolled 64-term SQL cosine compiled to a
    39,647-byte method, past HotSpot's 8,000-byte JIT limit
    (DontCompileHugeMethods), so it ran in the bytecode interpreter.
    Pin the replacement: every generated method stays JIT-sized, no
    join is left, and the only shuffle is the (tbl, bucket) exchange."""
    from database_syncer_spark.registry import all_queries

    df = all_queries()["dedup_embedding_cosine"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    debug = getattr(spark._jvm.org.apache.spark.sql.execution.debug,
                    "package")
    seq = debug.codegenStringSeq(plan)
    sizes = [seq.apply(i)._3().maxMethodCodeSize()
             for i in range(seq.size())]
    assert sizes and max(sizes) < 8000, sizes
    final = plan.executedPlan().toString()  # AQE's final plan only
    assert "Join" not in final, final
    exchanges = re.findall(r"Exchange (\w+)\(([^)]*)\)", final)
    assert len(exchanges) == 1, final
    kind, cols = exchanges[0]
    assert kind == "hashpartitioning", final
    assert [c.split("#")[0] for c in cols.split(", ")[:2]] == [
        "tbl", "bucket"], final


def _max_method_bytes(spark, df) -> int:
    """Run ``df`` and return the largest generated method of its
    executed plan (``debug.codegenStringSeq``)."""
    df.collect()
    debug = getattr(spark._jvm.org.apache.spark.sql.execution.debug,
                    "package")
    seq = debug.codegenStringSeq(df._jdf.queryExecution().executedPlan())
    return max(seq.apply(i)._3().maxMethodCodeSize()
               for i in range(seq.size()))


def test_vector_paths_at_dim_768_stay_jit_sized(spark):
    """Real embeddings are 384-1536 wide. At dim 768 an unrolled SQL
    dot/norm grows past Janino's 64 KB method limit (a compile error
    with spark.sql.codegen.fallback=false, which conftest sets). The
    Arrow kernels' generated code does not depend on dim: every method
    of brute_force_topk, lsh_ann_topk, embedding_incremental_near_dup
    and multimodal_join stays under HotSpot's 8,000-byte JIT limit,
    and the brute-force rows equal the numpy reference's exact top-k."""
    import numpy as np
    from ann_reference import exact_topk

    from database_syncer_spark.pipeline import dedup as D
    from database_syncer_spark.pipeline import multimodal as M
    from database_syncer_spark.pipeline import similarity as S

    assert spark.conf.get("spark.sql.codegen.fallback") == "false"
    dim, rng = 768, np.random.default_rng(768)
    base = rng.standard_normal((100, dim))
    mat = (np.repeat(base, 3, axis=0)
           + 0.3 * rng.standard_normal((300, dim))).astype(np.float32)
    ids = np.arange(300, dtype=np.int64)
    emb = spark.createDataFrame(
        [(int(i), row.tolist()) for i, row in zip(ids, mat)],
        "vec_id bigint, embedding array<float>")
    docs = spark.createDataFrame(
        [(int(i), "en", "x", "text") for i in ids],
        "doc_id bigint, lang string, label string, text string")
    is_batch = emb.vec_id % 3 == 0
    runs = {
        "brute_force_topk": S.brute_force_topk(emb, dim=dim),
        "lsh_ann_topk": S.lsh_ann_topk(emb, dim=dim),
        "embedding_incremental_near_dup": D.embedding_incremental_near_dup(
            emb.where(is_batch), emb.where(~is_batch), dim=dim),
        "multimodal_join": M.multimodal_join(docs, emb, dim=dim),
    }
    sizes = {name: _max_method_bytes(spark, df) for name, df in runs.items()}
    assert max(sizes.values()) < 8000, sizes
    got = {}
    for r in runs["brute_force_topk"].collect():
        got.setdefault(r.query_id, []).append(
            (r.rank, r.neighbor_id, r.cosine))
    want = exact_topk(ids, mat.astype(np.float64))
    assert {q: [(nb, c) for _, nb, c in sorted(rows)]
            for q, rows in got.items()} == want


def test_no_row_at_a_time_python_in_headline(spark, sf_dir):
    """Headline keys may cross into Python only through Arrow-batched
    evaluation (ArrowEvalPython / MapInPandas), never BatchEvalPython."""
    import bench
    from database_syncer_spark.registry import all_queries

    qs = all_queries()
    for key in bench.HEADLINE:
        plan = _plan(qs[key](spark, sf_dir))
        assert "BatchEvalPython" not in plan, f"{key} row-at-a-time Python"


def test_topk_uses_window_group_limit(spark, sf_dir):
    """Spark 3.5+ pushes rank<=k below the final sort (WindowGroupLimit);
    the brute-force cosine top-k depends on it to avoid materializing
    the full QxN pair set through the shuffle."""
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["sim_topk_cosine"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_bench_headline_keys_exist():
    """bench.py's HEADLINE list must reference live registry keys — a
    rename would silently drop the key from BENCH_r{N}.json."""
    import bench
    from database_syncer_spark.registry import all_queries

    qs = all_queries()
    missing = [k for k in (*bench.HEADLINE, *bench.HEADLINE_EXT,
                           *bench.SCALING_SENTINEL, *bench.SECONDARY)
               if k not in qs]
    assert not missing, missing


def test_bench_time_keys_times_and_shapes(spark, sf_dir):
    """bench.time_keys is the one loop that times registry keys: a run
    yields a positive median and the last rep's jobs/stages/tasks, and
    the bench job group does not outlive the call."""
    import bench

    got = bench.time_keys(spark, ["dedup_exact", "no_such_key"], sf_dir,
                          warmups=0, reps=1)
    assert list(got) == ["dedup_exact"]
    rec = got["dedup_exact"]
    assert rec["sec"] > 0 and rec["runs"] == [rec["sec"]]
    assert all(rec["shape"][k] >= 1 for k in ("jobs", "stages", "tasks")), rec
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_registry_order_puts_stalest_keys_first():
    """Registry order comes from the CORRECTNESS_r*.json history: keys
    never verified first, then by the last check that passed them, so
    a check of the first 50 keys reaches the stalest ones and never a
    key the newest check just verified."""
    import glob
    import json
    import os

    from database_syncer_spark import registry

    files = glob.glob(os.path.join(registry._HISTORY_DIR,
                                   "CORRECTNESS_r*.json"))
    if not files:
        pytest.skip("no CORRECTNESS history next to the package")
    newest = max(files, key=lambda p: int(re.search(r"_r(\d+)\.json$",
                                                    p).group(1)))
    with open(newest, encoding="utf-8") as fh:
        just_checked = {k for k, row in json.load(fh).items()
                        if all(row.get(f) for f in registry._PASS_FIELDS)}
    keys = list(registry.all_queries())
    assert not set(keys[:50]) & just_checked
    rank = registry._last_pass_round()
    assert [rank.get(k, 0) for k in keys] == sorted(
        rank.get(k, 0) for k in keys)
    fresh = registry._reorder({keys[-1]: 0, "zz_never_checked": 1})
    assert list(fresh) == ["zz_never_checked", keys[-1]]


def test_registry_order_without_history_is_module_order(monkeypatch,
                                                        tmp_path):
    import importlib

    from database_syncer_spark import registry

    monkeypatch.setattr(registry, "_HISTORY_DIR", str(tmp_path))
    assert list(registry.all_queries()) == [
        k for m in registry._MODULES
        for k in importlib.import_module(m).QUERIES]


def test_session_pins_cached_plan_aqe(spark):
    """session.py sets canChangeCachedPlanOutputPartitioning=true so AQE
    sizes cached-plan materializations by bytes (r12: the components
    keys dropped 993-1030 -> 71-78 tasks/call on it). A silent revert
    to the Spark default (false) would restore the 1000-task cache
    materializations with every value test still green — pin the conf
    (VERDICT r12 item 7)."""
    assert spark.conf.get(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    ) == "true"


def test_ann_paths_survive_runtime_codegen(spark, sf_dir):
    """Runtime-codegen canary (VERDICT r5 item 4). r5 shipped with
    lsh_ann_topk's query side built as ONE explode(array(struct(...)))
    whose Generate consume method inlined every table's n_planes×dim
    unrolled dot products — Janino refused it ("Code grows beyond
    64 KB") on every bench run and Spark silently fell back to
    interpreted execution, while every plan-SHAPE guard in this file
    stayed green. With spark.sql.codegen.fallback=false (set here
    explicitly, and session-wide in conftest) a compile failure is a
    hard error. Execute every ANN family's inline-build AND
    prebuilt-index serve path under it — the two paths plan different
    query-side stages."""
    from database_syncer_spark.catalog import load_table
    from database_syncer_spark.pipeline import similarity as S
    from database_syncer_spark.queries.pipeline import _emb_dim

    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(sf_dir, emb)
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        families = {
            "lsh": (S.build_lsh_index, S.lsh_ann_topk),
            "ivf": (S.build_ivf_index, S.ivf_ann_topk),
            "pq": (S.build_pq_index, S.pq_ann_topk),
            "ivfpq": (S.build_ivfpq_index, S.ivfpq_ann_topk),
        }
        for name, (build, topk) in families.items():
            inline = topk(emb, dim=dim)
            inline.write.format("noop").mode("overwrite").save()
            served = topk(emb, dim=dim, index=build(emb, dim=dim))
            served.write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)


def test_minhash_band_join_is_skinny(spark, sf_dir):
    """The LSH band self-join must stay skinny (doc_id, band_id,
    band_hash): no collect_set anywhere (the r6 500×-probe regression —
    shingle text riding the shuffle 8×), and the shingle fetch must be
    candidate-sized (a semi-join prunes the corpus before with_shingles
    materializes arrays). r12: the candidate pairs are eagerly
    localCheckpointed (three downstream references planned the
    generator subtree 3×), so the generator's skinny band join is
    guarded on ITS OWN plan and the wiring source-level — the same
    split this file already applies to soft_keep below."""
    import inspect

    from database_syncer_spark.catalog import load_table
    from database_syncer_spark.pipeline.dedup import (
        lsh_candidate_pairs, minhash_lsh_dedup, minhash_signatures)

    docs = load_table(spark, sf_dir, "documents")
    gen_plan = _plan(lsh_candidate_pairs(minhash_signatures(docs)))
    assert "collect_set" not in gen_plan, "shingle text rides the band join"
    assert "band_id" in gen_plan and "band_hash" in gen_plan
    src = inspect.getsource(minhash_lsh_dedup)
    assert "lsh_candidate_pairs" in src, "verify path lost the band generator"
    plan = _plan(minhash_lsh_dedup(docs))
    assert "collect_set" not in plan, "shingle sets ride the band join again"
    assert "LeftSemi" in plan, "corpus not pruned before shingle materialization"


def test_dedup_last_wins_is_hash_agg_not_sort(spark):
    from database_syncer_spark.core.diff import dedup_last_wins

    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b")], "id int, seq int, v string")
    plan = _plan(dedup_last_wins(df, ["id"], ["seq"]))
    assert "max_by" in plan or "HashAggregate" in plan
    assert "Window" not in plan


def test_bucketed_zeroshuffle_key_plan(spark, sf_dir):
    """The driver-facing diff_bucketed_zeroshuffle key (not just the
    core helper) must produce a plan with ZERO Exchange nodes: the
    full-outer SMJ reads co-located buckets directly."""
    from database_syncer_spark.queries.diff import diff_bucketed_zeroshuffle

    plan = _plan(diff_bucketed_zeroshuffle(spark, sf_dir))
    assert "SortMergeJoin FullOuter" in plan or "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert plan.count("Bucketed: true") == 2, "both scans must be bucketed"


def test_tfidf_partial_aggregates_and_broadcast_count(spark, sf_dir):
    """TF-IDF's two aggregations must partial-combine map-side, and the
    1-row corpus count must enter as a broadcast, never a shuffle."""
    from database_syncer_spark.pipeline.text import tfidf_topk
    from database_syncer_spark.catalog import load_table

    plan = _plan(tfidf_topk(load_table(spark, sf_dir, "documents")))
    assert plan.count("HashAggregate") >= 4  # partial+final for tf and df
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_containment_single_selfjoin(spark, sf_dir):
    """Both containment directions must come from ONE inverted-index
    self-join (explode of the shared intersection), not two joins."""
    from database_syncer_spark.pipeline.dedup import ngram_containment_pairs
    from database_syncer_spark.catalog import load_table

    plan = _plan(ngram_containment_pairs(
        load_table(spark, sf_dir, "documents")))
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1
    assert "Generate explode" in plan


def test_runtime_bloom_filter_reaches_fact_scan(spark, sf_dir):
    """join_runtime_bloom's fact side must carry a might_contain probe
    (the runtime semi-join reduction), and later keys must see restored
    session confs (broadcast threshold back to its default)."""
    from database_syncer_spark.queries.extended import join_runtime_bloom

    df = join_runtime_bloom(spark, sf_dir)
    plan = _plan(df)
    assert "might_contain" in plan, plan
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"
    # the cached physical plan must survive conf restoration
    assert df.count() > 0


def test_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The eval shingle set must broadcast (eval sets are tiny against
    the corpus); a SortMergeJoin here would shuffle the whole corpus'
    exploded shingles."""
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["text_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sessionize_single_exchange(spark, sf_dir):
    """win_sessionize's lag window, running-sum window, and final rollup
    must all reuse ONE user_id hash partitioning — a second Exchange
    would re-shuffle the event log per stage at 100 TB."""
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["win_sessionize"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_chunk_split_zero_shuffle(spark, sf_dir):
    """text_chunk_split is doc-local (tokenize -> explode -> slice):
    any Exchange in its plan means a scale bug."""
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["text_chunk_split"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan  # codegen built-ins only


def test_lm_score_model_joins_broadcast(spark, sf_dir):
    """text_ngram_lm_score's model counts are vocabulary-bounded, so the
    model⋈bigrams joins must resolve to broadcast (a SortMergeJoin here
    would shuffle the full exploded bigram stream twice), and the whole
    path stays JVM-side."""
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["text_ngram_lm_score"](spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan, plan


def test_temperature_mix_corpus_side_broadcast_only(spark, sf_dir):
    """sample_temperature_mix's corpus pass must be scan -> broadcast
    hash join -> filter: the per-domain keep-ppm table is
    domain-cardinality-sized and must broadcast; a SortMergeJoin here
    would shuffle the whole corpus to apply a KB-sized rate table.
    (The stats side's lang-count Exchanges are lang-cardinality-bounded
    and allowed.)"""
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["sample_temperature_mix"](spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan  # integer/codegen path only


def test_soft_keep_rides_lsh_not_inverted_index(spark, sf_dir):
    """dedup_soft_keep's candidate generator must be the banded
    MinHash-LSH join (per-doc band explode), NOT the exact inverted
    shingle index — the posting-list self-join took 19x longer at the
    1 M-doc probe. The banded join's signature in the plan is the
    band_id/band_hash partitioning; the inverted index's is a
    shingle-hash one."""
    from database_syncer_spark.registry import all_queries

    # r8: connected_components eagerly localCheckpoints its result (so
    # the pairs-sized edge cache can be dropped without the unpersist
    # CASCADE re-executing the chain), which truncates the returned
    # lineage to a Scan ExistingRDD — the composed soft_keep plan no
    # longer shows the generator. Guard the two facts separately:
    # (a) the generator's own plan is the banded join, Python-free;
    # (b) soft_keep_weights is WIRED to that generator (source-level —
    #     the wiring is a one-line composition).
    import inspect

    from database_syncer_spark.catalog import load_table
    from database_syncer_spark.pipeline.dedup import (minhash_lsh_dedup,
                                                      soft_keep_weights)

    # r12: minhash_lsh_dedup checkpoints its candidate pairs, so the
    # band join is guarded on the generator's own plan (the skinny-band
    # test above); here assert the verify plan is Python-free and the
    # wiring chain soft_keep -> minhash_lsh_dedup -> lsh_candidate_pairs
    # holds source-level.
    plan = _plan(minhash_lsh_dedup(load_table(spark, sf_dir, "documents")))
    assert "BatchEvalPython" not in plan
    assert "lsh_candidate_pairs" in inspect.getsource(minhash_lsh_dedup)
    src = inspect.getsource(soft_keep_weights)
    assert "minhash_lsh_dedup" in src, "soft_keep lost its LSH generator"
    assert "ngram_jaccard_pairs" not in src


def test_paragraph_dedup_aggregates_not_windows(spark, sf_dir):
    """dedup_paragraph's keep-first must be the partial-aggregable
    min(struct(doc_id,pos)) groupBy, NEVER a row_number window over
    partition-by-chunk: at corpus scale boilerplate chunks repeat
    millions of times and a window's per-chunk sort partition inherits
    exactly that skew, while min() reduces map-side. Also: no Python in
    the plan — the whole key is codegen built-ins."""
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["dedup_paragraph"](spark, sf_dir))
    assert "Window" not in plan, "keep-first regressed to a window sort"
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_token_budget_avoids_global_window(spark, sf_dir):
    """sample_token_budget's running total must be the three-level
    prefix sum (per-score driver offsets + per-(score, bucket) window
    offsets + a window partitioned by (score, bucket)), never the
    naive GLOBAL running-sum window — an unpartitioned window is an
    Exchange SinglePartition and a full-corpus sort through one task
    at scale. Two windows exactly: the exclusive bucket-prefix (over
    ≤_BUDGET_BUCKETS rows per score) and the main running sum; BOTH
    must carry quality_score in their partition spec, and the main one
    the bkt sub-bucket too (the r8→r9 fix for degenerate score
    distributions)."""
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["sample_token_budget"](spark, sf_dir))
    assert plan.count("windowspecdefinition") == 2, plan
    assert "windowspecdefinition(quality_score" in plan, \
        "running sum regressed to an unpartitioned global window"
    assert plan.count("windowspecdefinition(quality_score") == 2, plan
    assert "bkt" in plan, "level-3 sub-bucket missing from the plan"
    assert "BatchEvalPython" not in plan


def test_version_diff_shuffles_digests_not_text(spark, sf_dir):
    """corpus_version_diff must project each corpus version to
    (doc_id, digest, lang, n_chars) BEFORE the full-outer join — the
    exchanges carry 64-byte digests, never document bodies. If a raw
    text column rides the shuffle, the join's exchange output lists it
    (the 100-TB cost is shuffling the whole corpus text twice)."""
    from database_syncer_spark.registry import all_queries

    df = all_queries()["corpus_version_diff"](spark, sf_dir)
    df.collect()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    # formatted mode lists every node's Output columns; Exchange nodes
    # must not output a text column (digest/lang/n_chars/doc_id only)
    for seg in plan.split("\n\n"):
        if seg.strip().startswith("(") and "Exchange" in seg.split("\n")[0]:
            assert "text#" not in seg, seg
    raw = _plan(df).split("== Initial Plan ==")[0]
    assert raw.count("SortMergeJoin") == 1, raw.count("SortMergeJoin")


def test_reshard_single_exchange_no_global_sort(spark, sf_dir):
    """sample_reshard_seeded: positions come from per-shard row_number
    windows on ONE shard hash-partitioning — never a global sort (an
    Exchange rangepartitioning / SinglePartition is the orderBy() the
    key exists to avoid)."""
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["sample_reshard_seeded"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "windowspecdefinition(shard" in plan, plan


def test_cdc_compact_executes_each_diff_once(spark, sf_dir):
    """The NULL-PK bypass must ride the single compaction aggregation
    (synthetic group key), NOT a filter-and-union that re-executes the
    whole upstream log lineage per branch — caught once: the two
    snapshot diffs appeared TWICE in the plan (8 SortMergeJoins)."""
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["sink_cdc_compact"](spark, sf_dir))
    assert plan.count("SortMergeJoin") <= 2, plan.count("SortMergeJoin")


def test_gopher_filters_zero_shuffle_single_tokenize(spark, sf_dir):
    """text_gopher_filters is projections over the scan: no Exchange of
    any kind, no Python, no join — an Exchange means someone turned a
    per-row rule battery into a corpus shuffle. And the plan tokenizes
    each document ONCE: the layered selects alias the token array so
    CollapseProject keeps it; a single collapsed Project would repeat
    split() per flag (~12× per row — the regression this pins)."""
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["text_gopher_filters"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan
    assert plan.count("split(") == 1, plan.count("split(")


def test_mix_epochs_corpus_side_broadcast_only(spark, sf_dir):
    """sample_mix_epochs' corpus pass must be scan -> broadcast hash
    join -> explode: the per-domain repeat-ratio table is
    domain-cardinality-sized and must broadcast (same discipline as
    sample_temperature_mix); a SortMergeJoin would shuffle the corpus
    to apply a KB-sized ratio table, and the epoch fan-out must be a
    map-side Generate, not a join against a numbers table."""
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["sample_mix_epochs"](spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "Generate explode" in plan, plan
    assert "BatchEvalPython" not in plan


def test_pg_dump_line_assignment_broadcasts(spark, sf_dir):
    """scan_pg_dump's line->COPY-block assignment must be a broadcast
    join against the KB-scale range table (equality on the file name
    carries the hash; the lid bounds ride as join conditions) — the
    data lines themselves must NEVER shuffle (no Exchange
    hashpartitioning of the corpus, no SortMergeJoin, no cartesian)."""
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["scan_pg_dump"](spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan


def test_datacard_shuffles_digests_not_text(spark, sf_dir):
    """corpus_datacard's duplicate-exposure join must ride sha2 digests:
    no Exchange may carry the raw text column (the naive alternative —
    a window over text — would shuffle and sort full document
    bodies)."""
    from database_syncer_spark.registry import all_queries

    df = all_queries()["corpus_datacard"](spark, sf_dir)
    df.collect()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    for seg in plan.split("\n\n"):
        if seg.strip().startswith("(") and "Exchange" in seg.split("\n")[0]:
            assert "text#" not in seg, seg


def test_hll_sketch_no_expand(spark, sf_dir):
    """agg_hll_sketch_merge keeps sketches and exact distincts in
    SEPARATE aggregates: mixing them in one agg plans an Expand that
    multiplies the scan by the distinct-group count (the measured
    agg_approx_distinct lesson — 1.58 s vs 0.55 s at sf0.1)."""
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["agg_hll_sketch_merge"](spark, sf_dir))
    assert "Expand" not in plan, "sketch agg regressed into an Expand plan"
    assert "BatchEvalPython" not in plan


def test_retention_cohort_four_exchanges_no_distinct_join(spark, sf_dir):
    """win_retention_cohort must keep exactly four Exchanges ((user,
    day) dedup agg, user window, matrix-cell agg, cohort window over
    the calendar²-bounded matrix — only the first two touch
    event-derived rows and both carry the deduped (user, day) stream)
    with the dedup partially aggregated map-side in a codegen
    HashAggregate — NOT an ObjectHashAggregate collect_set
    (sort-based fallback past 128 in-memory groups: 13× slower at
    10 M events, SCALE.md) and NOT the naive DISTINCT + first-event
    self-join the oracle states. Scan must prune to (ts, user_id);
    everything stays JVM-side."""
    from database_syncer_spark.registry import all_queries

    df = all_queries()["win_retention_cohort"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 4, plan
    assert "ObjectHashAggregate" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "ts", "user_id"}, plan


def test_incremental_indexed_reads_stored_bands(spark, sf_dir):
    """dedup_incremental_indexed must read the corpus band keys from the
    AT-REST bucketed table (build_corpus_band_index) — never re-shingle
    or re-MinHash the corpus per ingest batch. r12: the candidate
    generator is eagerly checkpointed inside incremental_near_dups (it
    was planned 3×), so the composed key's plan no longer shows it —
    guard the GENERATOR's own plan A/B (stored-table vs inline corpus
    side) plus the source-level wiring, the same split this file
    applies for the minhash/soft_keep checkpoints."""
    import inspect

    from database_syncer_spark.catalog import load_table, sf_dir_tag
    from database_syncer_spark.pipeline.dedup import (
        _band_candidates, incremental_near_dups)
    from database_syncer_spark.registry import all_queries
    from pyspark.sql import functions as F

    qs = all_queries()
    # run the indexed key's builder once so the at-rest table exists
    indexed_key = _plan(qs["dedup_incremental_indexed"](spark, sf_dir))
    assert "BatchEvalPython" not in indexed_key
    table = f"dss_atrest_bands_{sf_dir_tag(sf_dir)}"
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 16 == 5)
    corpus = docs.where(F.col("doc_id") % 16 != 5)
    indexed = _plan(_band_candidates(batch, corpus, 3, spark.table(table)))
    inline = _plan(_band_candidates(batch, corpus, 3, None))
    assert "dss_atrest_bands" in indexed, "stored band index not scanned"
    assert "dss_atrest_bands" not in inline
    assert indexed.count("Generate") < inline.count("Generate"), (
        indexed.count("Generate"), inline.count("Generate"))
    assert (indexed.count("documents.parquet")
            < inline.count("documents.parquet")), (
        indexed.count("documents.parquet"), inline.count("documents.parquet"))
    assert "_band_candidates" in inspect.getsource(incremental_near_dups), (
        "indexed probe lost the shared band-candidate generator")


def test_html_strip_single_projection_zero_shuffle(spark, sf_dir):
    """text_html_strip is corpus-linear codegen work: the whole
    markup-build + strip + entity-decode chain must stay ONE projection
    over the scan — zero Exchanges (doc-local), zero Python, inside
    whole-stage codegen. Any Exchange or Python eval here is a scale
    bug (this stage fronts every crawl-curation run). Asserted on the
    EXECUTED (post-AQE) plan."""
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["text_html_strip"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the whole build+strip chain fuses into ONE codegen stage over the
    # scan: a second stage id (*(2)) means the chain fell apart
    assert "*(1)" in plan and "*(2)" not in plan, plan


def test_rolling_ingest_probes_stored_index_not_corpus(spark, sf_dir):
    """dedup_incremental_rolling's BOTH probe days must read band keys
    from the at-rest bucketed table (day 1 the build, day 2 the grown
    post-append table) and never re-MinHash the corpus text per day.
    r12: the candidate generator is checkpointed inside
    incremental_near_dups, so the stored-table scan no longer shows in
    the returned plan — the generator A/B above
    (test_incremental_indexed_reads_stored_bands) guards the scan
    itself; here guard the day wiring source-level (both days pass
    corpus_bands=, day 2 the APPENDED table) plus Python-freedom of
    the composed plan."""
    import inspect

    from database_syncer_spark.queries.pipeline import (
        dedup_incremental_rolling as roll)
    from database_syncer_spark.registry import all_queries

    plan = _plan(all_queries()["dedup_incremental_rolling"](spark, sf_dir))
    assert "BatchEvalPython" not in plan
    src = inspect.getsource(roll)
    assert "corpus_bands=bands0" in src, "day-1 probe lost the stored index"
    assert "corpus_bands=bands1" in src, "day-2 probe lost the grown index"
    assert "append_band_index" in src, "day-1 admissions no longer appended"


def test_compare_sql_files_sorts_once(spark, tmp_path, monkeypatch):
    """compare_sql_files' script write sorts the union of all tables'
    statements exactly once: one range-partitioning exchange, none left
    per table under the Union."""
    from database_syncer_spark.core import script
    from database_syncer_spark.sources.dump import compare_sql_files

    ddl = ("CREATE TABLE `{t}` (`id` int(11) NOT NULL, `v` varchar(9), "
           "PRIMARY KEY (`id`)) ENGINE=InnoDB;\n")
    prod, backup = tmp_path / "prod.sql", tmp_path / "backup.sql"
    prod.write_text("".join(
        ddl.format(t=t) + f"INSERT INTO `{t}` VALUES (1,'a'),(2,'b');\n"
        for t in ("t1", "t2", "t3")))
    backup.write_text("".join(
        ddl.format(t=t) + f"INSERT INTO `{t}` VALUES (1,'a'),(3,'c');\n"
        for t in ("t1", "t2", "t3")))

    plans = []
    write_script = script.write_script

    def capture(statements, *args, **kwargs):
        plans.append(_plan(statements))
        return write_script(statements, *args, **kwargs)

    monkeypatch.setattr(script, "write_script", capture)
    compare_sql_files(spark, str(prod), str(backup),
                      str(tmp_path / "out.sql"), verbose=False)
    [plan] = plans
    assert "Union" in plan
    assert len(re.findall(r"Exchange rangepartitioning", plan)) == 1, plan


def _compiles_on_rerun(spark, job) -> int:
    """Janino compiles during the second of two back-to-back runs of
    ``job``. AQE is off for the two runs: it re-plans from runtime stats
    and numbers codegen stages in stage-completion order, so under AQE
    a rerun may emit a few new class bodies; with the plan fixed every
    compile on the rerun is a codegen-cache miss."""
    counter = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
               .METRIC_COMPILATION_TIME())
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        job()
        before = counter.getCount()
        job()
        return counter.getCount() - before
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_corpus_curate_rerun_compiles_nothing(spark, sf_dir):
    """Spark's codegen class cache (session.py) holds a whole
    ``corpus_curate`` working set: a rerun reuses every generated class
    instead of recompiling the ones an undersized cache evicted."""
    from database_syncer_spark.queries.pipeline import corpus_curate

    assert _compiles_on_rerun(
        spark, lambda: corpus_curate(spark, sf_dir).collect()) == 0


def test_compare_sql_files_rerun_compiles_nothing(spark, sf_dir, tmp_path):
    """The same guard for the dump sync on the fixture dump pair."""
    from database_syncer_spark.queries.dump import (_orders_backup_dump,
                                                    _orders_dump)
    from database_syncer_spark.sources.dump import compare_sql_files

    prod, backup = _orders_dump(spark, sf_dir), _orders_backup_dump(
        spark, sf_dir)
    assert _compiles_on_rerun(spark, lambda: compare_sql_files(
        spark, prod, backup, str(tmp_path / "out.sql"), verbose=False)) == 0
