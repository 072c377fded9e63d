"""The three workloads. Each iteration calls the package's public
functions, traced or not, the same way. A traced iteration first wraps
some of the package's module attributes (``traced_calls``): each wrapped
call runs inside a span and materializes its result, so a lazy plan
cannot fuse work across the boundary (parse into diff, apply into write)
and each layer's work falls inside its own span. The cost of that shows
as ``trace.overhead_s``, and the checks require the traced output to
equal the untraced one.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from contextlib import contextmanager

from checks import (CheckFailed, check_script, check_state, materialize_ctes,
                    oracle_digest, result_digest)
from tracing import BatchProgress

from pyspark import StorageLevel


@contextmanager
def patched(calls):
    """For the length of the block, replace each ``module.name`` of
    ``calls`` (``(module, name, wrapper)``) by ``wrapper(original, ...)``.
    The package imports these names at call time or through the module,
    so the wrapper sees every call the public function makes."""
    saved = [(module, name, getattr(module, name))
             for module, name, _ in calls]
    try:
        for (module, name, wrapper), (_, _, original) in zip(calls, saved):
            setattr(module, name, functools.partial(wrapper, original))
        yield
    finally:
        for module, name, original in saved:
            setattr(module, name, original)


def checkpointed(tracer, span: str, counter: str | None = None):
    """A wrapper that runs the call and checkpoints its result inside
    ``span``, counting the result's rows as ``counter``."""

    def wrapper(original, *args, **kwargs):
        with tracer.span(span):
            df = original(*args, **kwargs).localCheckpoint(eager=True)
            if counter:
                tracer.count(counter, df.count())
        return df

    return wrapper


class Workload:
    def __init__(self, spark, inputs: str, workdir: str, tracer) -> None:
        self.spark, self.inputs, self.workdir = spark, inputs, workdir
        self.tracer = tracer
        with open(os.path.join(inputs, "expected.json")) as fh:
            self.expected = json.load(fh)

    def begin(self, i: int) -> None:
        pass

    def run(self, traced: bool):
        if not traced:
            return self.call()
        with patched(self.traced_calls()):
            return self.call()

    def cleanup(self) -> None:
        pass

    def layer_metrics(self, untraced: list[int]) -> dict:
        return BatchProgress().metrics([])


class DumpSync(Workload):
    """The reference's whole main(): compare_sql_files on a dump pair."""

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.prod = os.path.join(self.inputs, "prod.sql")
        self.backup = os.path.join(self.inputs, "backup.sql")
        self.script = os.path.join(self.workdir, "sync.sql")
        self.digest = None

    def call(self):
        from database_syncer_spark.sources.dump import compare_sql_files

        return compare_sql_files(self.spark, self.prod, self.backup,
                                 self.script, verbose=False)

    def traced_calls(self):
        from database_syncer_spark.core import diff, script
        from database_syncer_spark.sources import dump

        t = self.tracer

        def read(original, spark, path, *args, **kwargs):
            # the DDL collect runs inside the call; the row parse is lazy
            # until the counts below
            with t.span("sources.dump.ddl_scan"):
                frames, schemas = original(spark, path, *args, **kwargs)
            t.count("sources.dump.bytes_in", os.path.getsize(path))
            with t.span("sources.dump.parse"):
                t.count("sources.dump.rows",
                        sum(df.count() for df in frames.values()))
            return frames, schemas

        def diff_fused(original, *args, **kwargs):
            # sync_dumps persists the changes itself; persisting here first
            # only moves their computation into this span
            with t.span("core.diff.diff"):
                ch = original(*args, **kwargs).persist(
                    StorageLevel.MEMORY_AND_DISK)
                t.count("core.diff.changes", ch.count())
            return ch

        def generate(original, *args, **kwargs):
            # builds (and analyzes) the per-table statement plan; its
            # rows are computed in core.script.write
            with t.span("core.script.generate"):
                return original(*args, **kwargs)

        def write(original, statements, path, *args, **kwargs):
            with t.span("core.script.write"):
                original(statements, path, *args, **kwargs)
            t.count("core.script.bytes_out", os.path.getsize(path))
            with open(path, encoding="utf-8") as fh:
                t.count("core.script.statements",
                        sum(line.rstrip().endswith(";") for line in fh))

        return [(dump, "read_sql_dump_with_schemas", read),
                (diff, "snapshot_diff_fused", diff_fused),
                (diff, "diff_stats", checkpointed(t, "core.diff.stats")),
                (script, "generate_sync_script", generate),
                (script, "write_script", write)]

    def check(self, result) -> None:
        if result is None:
            raise CheckFailed("compare_sql_files found no input")
        digest = check_script(self.script, self.expected)
        for table, exp in self.expected["tables"].items():
            got = {k: v for k, v in result["table_stats"][table].items() if v}
            if got != {k: v for k, v in exp["counts"].items() if v}:
                raise CheckFailed(f"{table} stats {got} != {exp['counts']}")
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            raise CheckFailed("sync script differs from the first iteration")

    def cleanup(self) -> None:
        # compare_sql_files leaves the per-table changes (and the dump
        # statement cache) persisted; drop them so heap and RSS do not
        # grow with the iteration count
        self.spark.catalog.clearCache()
        if os.path.exists(self.script):
            os.remove(self.script)


class CdcStream(Workload):
    """incremental_sync_foreachbatch: a CDC log replayed as micro-batches
    into a parquet-versioned state."""

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.state = self.spark.read.parquet(
            os.path.join(self.inputs, "state.parquet"))
        self.changes = self.spark.read.parquet(
            os.path.join(self.inputs, "changes.parquet"))
        self.progress = BatchProgress()
        self.spark.streams.addListener(self.progress.listener())
        self.queries = 0
        self.dir = None

    def begin(self, i: int) -> None:
        self.progress.iteration = i
        self.dir = os.path.join(self.workdir, f"stream{i}")
        os.makedirs(self.dir)

    def call(self):
        from database_syncer_spark.streaming import runner

        self.queries += 1
        # the span's self time is the stream run outside staging and
        # apply_changes: state writes, batch planning, commits
        with self.tracer.span("streaming.runner.run"):
            return runner.incremental_sync_foreachbatch(
                self.spark, self.changes, self.state, self.expected["pk"],
                n_chunks=self.expected["batches"], workdir=self.dir)

    def traced_calls(self):
        from database_syncer_spark.core import diff
        from database_syncer_spark.streaming import runner

        t = self.tracer

        def stage(original, *args, **kwargs):
            with t.span("streaming.runner.stage"):
                return original(*args, **kwargs)

        return [(runner, "stage_as_stream_source", stage),
                (diff, "apply_changes", checkpointed(t, "core.diff.apply"))]

    def check(self, final) -> None:
        self.progress.wait_terminated(self.queries)
        rows = final.select(*self.state.columns).collect()
        check_state([tuple(r) for r in rows], self.expected)

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)

    def layer_metrics(self, untraced: list[int]) -> dict:
        return self.progress.metrics(untraced)


class Curate(Workload):
    """corpus_curate over a generated corpus, then dedup_embedding_cosine.
    Both results must equal their registry oracle run in DuckDB."""

    KEYS = ("corpus_curate", "dedup_embedding_cosine")

    def __init__(self, *a) -> None:
        super().__init__(*a)
        import duckdb

        from database_syncer_spark.registry import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for name in ("documents", "embeddings"):
                path = os.path.join(self.inputs, f"{name}.parquet")
                con.execute(f"CREATE TABLE {name} AS "
                            f"SELECT * FROM read_parquet('{path}')")
            self.want = {k: oracle_digest(con, materialize_ctes(oracles[k]))
                         for k in self.KEYS}
        finally:
            con.close()

    def call(self):
        from database_syncer_spark.queries.pipeline import (
            corpus_curate, dedup_embedding_cosine)

        out = {}
        for key, fn in zip(self.KEYS, (corpus_curate, dedup_embedding_cosine)):
            df = fn(self.spark, self.inputs)
            out[key] = (df.columns, df.collect())
        return out

    def traced_calls(self):
        from database_syncer_spark.pipeline import dedup, text

        t = self.tracer

        def exact(original, documents):
            # the input is the quality-filtered, PII-scrubbed corpus,
            # persisted by corpus_curate: materialize it under its layer
            with t.span("pipeline.text.score_scrub"):
                documents.count()
            return checkpointed(t, "pipeline.dedup.exact")(original,
                                                           documents)

        return [
            (dedup, "exact_dedup", exact),
            (dedup, "minhash_lsh_dedup",
             checkpointed(t, "pipeline.dedup.lsh",
                          "pipeline.dedup.lsh_pairs")),
            (dedup, "connected_components",
             checkpointed(t, "pipeline.dedup.components")),
            (dedup, "paragraph_dedup",
             checkpointed(t, "pipeline.dedup.paragraph")),
            (text, "pack_greedy", checkpointed(t, "pipeline.text.pack")),
            (dedup, "embedding_near_dup",
             checkpointed(t, "pipeline.dedup.embedding",
                          "pipeline.dedup.embedding_pairs")),
        ]

    def check(self, out) -> None:
        for key in self.KEYS:
            if result_digest(*out[key]) != self.want[key]:
                raise CheckFailed(f"{key} differs from its DuckDB oracle")


WORKLOADS = {"dump_sync": DumpSync, "cdc_stream": CdcStream,
             "curate": Curate}
