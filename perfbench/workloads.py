"""The benchmark's workloads and the traced run.

Every workload runs on ``local[4]`` in this process. A run is:

1. **inputs** from ``--seed``, made before any timing and cached under the
   work directory;
2. **set-up**, timed as ``setup_s``: session start through the first
   execution of the workload's operation, whose output the correctness
   check reads;
3. **measured passes**, repeated until ``--seconds`` have passed (at least
   three); each pass is timed and its process-tree CPU counted;
4. **checks** against the oracles, outside the timed region.

The traced run (``--trace 1``) starts the session with Spark's event log
on, makes the same set-up and one untimed pass, tags each phase it drives
with a job group, and reads the per-layer figures from its one traced
pass. On extract_batch it then drives the two other extraction entry
points on the same corpus, each once: the checkpointed sink (crash after
the first commit group, then resume) and the stream (one small file per
trigger). Their layer figures are ratios against the traced pass. The
pass's wall time is ``trace.pass_wall_s``; the tracing overhead is that
minus the untraced runs' ``wall_s``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import inputs
from pdf_to_xls_vision_spark.core.vision import VisionBackend

CORES = 4
MASTER = f"local[{CORES}]"
#: documents drawn for extract_batch (plus the 19 pinned documents)
BATCH_DOCS = 300
#: the sink probe: 64 buckets in two commit groups, crashing after the first
SINK_BUCKETS = 64
SINK_GROUP = 32
#: the stream probe: the pinned documents plus this many small corpus
#: documents, split over this many files, one file per trigger
STREAM_DOCS = 12
STREAM_FILES = 2
#: documents checked against the sequential oracle per run, on top of
#: the pinned documents
ORACLE_SAMPLE = 24
#: registry queries of query_mix, run in every pass in an order the seed
#: picks: the four plans rewritten last round (label propagation,
#: containment join, source overlap, bloom prefilter) and the sessionize
#: window, on the repository's sf0.01 test tables. Left out: the k-means
#: and PQ queries (their training loops dominate) and the rest, so that a
#: run fits the benchmark's time budget on a 4-core host.
QUERIES = (
    "graph_label_propagation",
    "dedup_containment_join",
    "dedup_source_overlap",
    "join_bloom_prefilter",
    "m1_sessionize_window",
)

PER_LAYER = (
    "explode.pages", "explode.exec_s", "explode.shuffle_write_mib",
    "text.parse_passes", "text.py_run_s", "text.py_sent_mib",
    "text.py_recv_mib", "text.task_skew", "text.kernel_pages_per_s",
    "vision.pages", "vision.py_run_s", "vision.kernel_pages_per_s",
    "vision.stub_s", "retry.docs_frac",
    "merge.py_run_s", "merge.py_sent_mib", "merge.py_recv_mib",
    "merge.shuffle_read_mib",
    "pipeline.exec_s", "pipeline.gc_s", "pipeline.stages",
    "pipeline.shuffle_mib",
    "sink.extract_passes", "sink.commit_s", "sink.files_written",
    "sink.bytes_written_mib", "sink.jobs_per_group", "sink.resume_redo_docs",
    "stream.batches", "stream.add_batch_p50_s", "stream.overhead_p50_s",
    "stream.jobs_per_batch", "stream.extract_passes",
    *(f"query.{q}.{part}" for q in QUERIES for part in ("build_s", "exec_s")),
    "trace.pass_wall_s", "proc.peak_rss_mib",
)


def per_layer_unit(name: str) -> str:
    if name.endswith("_mib"):
        return "MiB"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_passes", "_frac", "_skew", "_per_group", "_per_batch")):
        return "ratio"
    return "count"


class CountingBackend(VisionBackend):
    """The default stub backend, counting pages and time spent inside
    ``infer_batch`` into two Spark accumulators."""

    def __init__(self, pages_acc, seconds_acc):
        self.pages_acc = pages_acc
        self.seconds_acc = seconds_acc

    def infer_batch(self, media_refs):
        t0 = time.perf_counter()
        out = super().infer_batch(media_refs)
        self.seconds_acc.add(time.perf_counter() - t0)
        self.pages_acc.add(len(media_refs))
        return out


@dataclass
class Pass:
    wall_s: float
    ops: int
    cpu_s: float = 0.0
    steal_s: float = 0.0
    detail: dict = field(default_factory=dict)


def start_session(work: str, event_dir: str | None = None):
    from pdf_to_xls_vision_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    # shuffle partitions = cores, as bench.py sizes them
    spark = get_spark(
        "perfbench", master=MASTER, shuffle_partitions=CORES, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _spans(row) -> list[tuple]:
    return [(s.kind, s.text, s.media_ref, s.order) for s in row.spans or []]


def _is_pinned(doc_id: str) -> bool:
    return doc_id.startswith("doc-pin")


class Workload:
    """One workload: ``prepare`` makes inputs, ``warm_up`` is the first
    execution (timed in set-up), ``one_pass`` is measured, ``check``
    returns (operations attempted, operations failed) for the passes, and
    ``layers`` adds the traced run's workload-specific per-layer figures
    and the operations of its extra phases (``log_of`` stops the session
    and returns its parsed event log)."""

    name: str

    def __init__(self, cache: str, seed: int):
        self.cache = cache
        self.seed = seed

    def prepare(self) -> None:
        raise NotImplementedError

    def warm_up(self, spark) -> None:
        raise NotImplementedError

    def one_pass(self, spark, backend=None) -> Pass:
        raise NotImplementedError

    def check(self, spark, passes: list[Pass]) -> tuple[int, int]:
        raise NotImplementedError

    def wall_s(self, passes: list[Pass]) -> float:
        """The end-to-end ``wall_s`` of the measured passes."""
        return statistics.median(p.wall_s for p in passes)

    def layers(self, spark, log_of, work: str, p: Pass) -> tuple[dict, int, int]:
        """(per-layer figures, operations attempted and failed in the
        extra phases)."""
        return {}, 0, 0


class ExtractBatch(Workload):
    """``run_extraction`` over the stratified corpus to the noop sink."""

    name = "extract_batch"

    def _corpus_path(self) -> str:
        return os.path.join(self.cache, f"corpus-s{self.seed}-n{BATCH_DOCS}.parquet")

    def _stream_dir(self) -> str:
        return self._corpus_path().removesuffix(".parquet") + f"-stream{STREAM_FILES}"

    def prepare(self) -> None:
        path = self._corpus_path()
        if os.path.exists(path):
            self.docs = inputs.read_corpus(path)
        else:
            self.docs = inputs.corpus_docs(self.seed, BATCH_DOCS)
            inputs.write_corpus(path, self.docs)
        self.routes = {d: inputs.route_of(s) for d, s in self.docs}
        small = sorted(d for d, s in self.docs if not _is_pinned(d) and len(s) <= 30)
        picked = set(random.Random(self.seed).sample(small, STREAM_DOCS))
        self.stream_docs = [
            (d, s) for d, s in self.docs if _is_pinned(d) or d in picked
        ]
        if not os.path.isdir(self._stream_dir()):
            tmp = self._stream_dir() + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            inputs.write_stream_files(tmp, self.stream_docs, STREAM_FILES, self.seed)
            os.replace(tmp, self._stream_dir())

    def _text_pages(self, docs) -> int:
        return sum(len(s) for d, s in docs if self.routes[d] == "text")

    def warm_up(self, spark) -> None:
        """The first execution collects the result: the output the
        checks compare against."""
        from pdf_to_xls_vision_spark.operators.pipeline import run_extraction
        from pdf_to_xls_vision_spark.sources.span_docs import read_span_docs

        rows = (
            run_extraction(read_span_docs(spark, self._corpus_path()))
            .select("doc_id", "spans", "quality_retried")
            .collect()
        )
        self.retried = {r.doc_id for r in rows if r.quality_retried}
        self.ref = {}
        self.ref_dups = 0
        for r in rows:
            self.ref_dups += r.doc_id in self.ref
            self.ref[r.doc_id] = _spans(r)

    def one_pass(self, spark, backend=None) -> Pass:
        from pdf_to_xls_vision_spark.operators.pipeline import run_extraction
        from pdf_to_xls_vision_spark.sources.span_docs import read_span_docs

        docs = read_span_docs(spark, self._corpus_path())
        t0 = time.perf_counter()
        _noop(run_extraction(docs, backend=backend))
        wall = time.perf_counter() - t0
        return Pass(wall, len(self.docs))

    def _oracle_failures(self) -> int:
        """Documents of the pinned set plus a seeded sample whose spans
        differ from the sequential oracle's. The oracle's spans are cached
        by the sha256 of the corpus file and of the oracle's source."""
        from tests import oracle

        sample = [d for d, _ in self.docs if _is_pinned(d)]
        rest = sorted(d for d, _ in self.docs if not _is_pinned(d))
        sample += random.Random(self.seed).sample(rest, min(ORACLE_SAMPLE, len(rest)))
        key = "-".join(
            inputs.file_sha256(f)[:16]
            for f in (self._corpus_path(), oracle.__file__)
        )
        cache_path = os.path.join(self.cache, f"oracle-{key}.json")
        golden = {}
        if os.path.exists(cache_path):
            with open(cache_path) as f:
                golden = json.load(f)
        by_id = dict(self.docs)
        missing = [d for d in sample if d not in golden]
        for d in missing:
            golden[d] = [
                [s["kind"], s["text"], s["media_ref"], s["order"]]
                for s in oracle.oracle_document(d, by_id[d])
            ]
        if missing:
            with open(cache_path + ".tmp", "w") as f:
                json.dump(golden, f)
            os.replace(cache_path + ".tmp", cache_path)
        return sum(
            d not in self.ref or [list(s) for s in self.ref[d]] != golden[d]
            for d in sample
        )

    def check(self, spark, passes) -> tuple[int, int]:
        """Operations are documents. The passes write to noop, so the
        first execution's output stands for them: a document missing,
        duplicated or differing from the oracle fails in every pass."""
        bad = self.ref_dups + len(set(self.routes) - set(self.ref))
        bad += self._oracle_failures()
        return sum(p.ops for p in passes), bad * len(passes)

    # -- traced run -------------------------------------------------------

    def _kernel_layers(self) -> dict:
        """Bare-kernel throughput, in this process on one core: the text
        parse on 2048-page pandas batches of text-routed pages, and the
        vision extractor (stub backend) on vision-routed pages."""
        import pandas as pd

        from pdf_to_xls_vision_spark.operators.extract import (
            extract_text_pages,
            make_vision_extractor,
        )

        def frame(route: str, limit: int) -> pd.DataFrame:
            rows = [
                (d, s["offset"] + 1, s["kind"], s["text"], s["media_ref"])
                for d, spans in self.docs
                if self.routes[d] == route
                for s in spans
            ][:limit]
            return pd.DataFrame(
                rows, columns=["doc_id", "page", "kind", "text", "media_ref"]
            )

        def pages_per_s(fn, pages: pd.DataFrame) -> float:
            batches = [pages.iloc[i : i + 2048] for i in range(0, len(pages), 2048)]
            t0 = time.perf_counter()
            for _ in fn(iter(batches)):
                pass
            return len(pages) / (time.perf_counter() - t0)

        return {
            "text.kernel_pages_per_s": pages_per_s(
                extract_text_pages, frame("text", 4096)
            ),
            "vision.kernel_pages_per_s": pages_per_s(
                make_vision_extractor(VisionBackend()), frame("vision", 1024)
            ),
        }

    def _sink_phase(self, spark, work: str) -> tuple[dict, int]:
        """Checkpointed extraction of the corpus: crash after the first
        of two commit groups, then resume, under job group ``sink``.
        Returns the figures and the failed documents."""
        from pyspark.sql import functions as F

        from pdf_to_xls_vision_spark.sink.checkpoint import (
            CheckpointAbort,
            read_committed,
            read_manifest,
            run_checkpointed_extraction,
        )
        from pdf_to_xls_vision_spark.sources.span_docs import read_span_docs

        sc = spark.sparkContext
        out = os.path.join(work, "sink-out")
        docs = read_span_docs(spark, self._corpus_path())
        sc.setJobGroup("sink", "checkpointed crash and resume")
        t0 = time.perf_counter()
        try:
            run_checkpointed_extraction(
                docs, out, SINK_BUCKETS, SINK_GROUP, fail_after_groups=1
            )
            crashed = False
        except CheckpointAbort:
            crashed = True
        run_checkpointed_extraction(docs, out, SINK_BUCKETS, SINK_GROUP)
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)

        ids = [r.doc_id for r in read_committed(spark, out).select("doc_id").collect()]
        # the columns the CLI reads: a manifest whose commit group had an
        # empty bucket mixes int and bigint committed_at_ts files, which
        # a full-row read rejects
        manifest = (
            read_manifest(spark, out)
            .select("bucket", "docs", F.col("lineage.attempt").alias("attempt"))
            .collect()
        )
        first = {m.bucket for m in manifest if m.attempt == 1}
        redo = sum(m.docs for m in manifest if m.attempt > 1 and m.bucket in first)
        # operations are documents: one fails when it is missing or
        # committed twice, and all fail when the run did not crash where
        # told or the manifest does not account for the input
        failed = len(set(self.routes) - set(ids)) + len(ids) - len(set(ids))
        if not crashed or sum(m.docs for m in manifest) != len(self.docs):
            failed = len(self.docs)
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(out)
            for f in fs
            if f.endswith(".parquet")
        ]
        groups = SINK_BUCKETS // SINK_GROUP
        return {
            "sink.commit_s": wall / groups,
            "sink.files_written": float(len(files)),
            "sink.bytes_written_mib": sum(os.path.getsize(f) for f in files) / 2**20,
            "sink.resume_redo_docs": float(redo),
        }, failed

    def _stream_phase(self, spark, work: str) -> tuple[dict, int]:
        """``stream_extraction`` (availableNow, one file per trigger) over
        the stream split; its jobs run under the query's run id. Returns
        the figures and the failed micro-batches."""
        from pdf_to_xls_vision_spark.streaming.ingest import (
            read_stream_committed,
            stream_extraction,
        )

        out = os.path.join(work, "stream-out")
        q = stream_extraction(
            spark,
            self._stream_dir(),
            os.path.join(out, "data"),
            os.path.join(out, "checkpoint"),
            max_files_per_trigger=1,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        trigger = [p.durationMs["triggerExecution"] / 1e3 for p in progress]
        add = [p.durationMs.get("addBatch", 0) / 1e3 for p in progress]
        self.stream_run_id = str(q.runId)

        # operations are micro-batches: one fails when any of its
        # documents' committed spans differ from the batch result, and all
        # fail when documents are missing or duplicated or batches lost
        rows = (
            read_stream_committed(spark, os.path.join(out, "data"))
            .select("ingest_batch", "doc_id", "spans")
            .collect()
        )
        by_batch: dict[int, list] = {}
        for r in rows:
            by_batch.setdefault(r.ingest_batch, []).append(r)
        failed = sum(
            any(self.ref.get(r.doc_id) != _spans(r) for r in batch)
            for batch in by_batch.values()
        )
        ids = [r.doc_id for r in rows]
        if (
            len(ids) != len(set(ids))
            or set(ids) != {d for d, _ in self.stream_docs}
            or len(by_batch) != STREAM_FILES
        ):
            failed = STREAM_FILES
        return {
            "stream.batches": float(len(progress)),
            "stream.add_batch_p50_s": statistics.median(add),
            "stream.overhead_p50_s": statistics.median(
                t - a for t, a in zip(trigger, add)
            ),
        }, failed

    def layers(self, spark, log_of, work, p) -> tuple[dict, int, int]:
        sink, sink_failed = self._sink_phase(spark, work)
        stream, stream_failed = self._stream_phase(spark, work)
        log = log_of()
        pass_rows = log.udf_input_rows(("pass",), "text")
        per_page = pass_rows / self._text_pages(self.docs)
        stream_group = (self.stream_run_id,)
        stream_per_page = log.udf_input_rows(stream_group, "text") / self._text_pages(
            self.stream_docs
        )
        text_docs = [d for d in self.routes if self.routes[d] == "text"]
        return {
            **sink,
            **stream,
            "text.parse_passes": per_page,
            "retry.docs_frac": len(self.retried & set(text_docs)) / len(text_docs),
            "sink.extract_passes": log.udf_input_rows(("sink",), "text") / pass_rows,
            "sink.jobs_per_group": log.jobs(("sink",)) / (SINK_BUCKETS // SINK_GROUP),
            "stream.jobs_per_batch": log.jobs(stream_group) / STREAM_FILES,
            "stream.extract_passes": stream_per_page / per_page,
            **self._kernel_layers(),
        }, len(self.docs) + STREAM_FILES, sink_failed + stream_failed


class QueryMix(Workload):
    """Passes over ``QUERIES`` on the sf0.01 test tables, each query built
    and then run to noop. The seed picks the order of the queries."""

    name = "query_mix"

    def prepare(self) -> None:
        self.order = random.Random(self.seed).sample(QUERIES, len(QUERIES))

    def _run(self, spark, name: str, sink=_noop):
        from pdf_to_xls_vision_spark.plans.queries import QUERIES as REGISTRY

        t0 = time.perf_counter()
        df = REGISTRY[name](spark, inputs.QUERY_TABLES)
        t1 = time.perf_counter()
        out = sink(df)
        t2 = time.perf_counter()
        for c in getattr(df, "_ptxv_persisted", []):
            c.unpersist()
        return t1 - t0, t2 - t1, df.columns, out

    def warm_up(self, spark) -> None:
        """The first pass collects every query's rows: the output the
        checks compare against."""
        self.results = {}
        for name in self.order:
            _, _, cols, rows = self._run(
                spark, name, lambda df: [tuple(r) for r in df.collect()]
            )
            self.results[name] = (cols, rows)

    def one_pass(self, spark, backend=None) -> Pass:
        times = {}
        t0 = time.perf_counter()
        for name in self.order:
            times[name] = self._run(spark, name)[:2]
        wall = time.perf_counter() - t0
        return Pass(wall, len(QUERIES), detail={"times": times})

    def wall_s(self, passes) -> float:
        """The sum of each query's median build-plus-execute time: a
        query slowed in one pass does not carry the others of that pass
        into the figure."""
        return sum(
            statistics.median(sum(p.detail["times"][q]) for p in passes)
            for q in QUERIES
        )

    def check(self, spark, passes) -> tuple[int, int]:
        """Row-set parity of every query with ``ORACLES[name]`` in DuckDB,
        canonicalised as the test suite's DuckDB parity test does. A
        failing query fails in every pass."""
        import duckdb

        from pdf_to_xls_vision_spark.plans.queries import ORACLES

        con = duckdb.connect()
        try:
            for name in sorted(os.listdir(inputs.QUERY_TABLES)):
                path = os.path.join(inputs.QUERY_TABLES, name)
                con.execute(
                    f"CREATE VIEW {name.removesuffix('.parquet')} AS "
                    f"SELECT * FROM read_parquet('{path}')"
                )
            bad = 0
            for name, (cols, rows) in self.results.items():
                cur = con.execute(ORACLES[name])
                d_cols = [c[0] for c in cur.description]
                bad += _rowset(cols, rows) != _rowset(d_cols, cur.fetchall())
        finally:
            con.close()
        return sum(p.ops for p in passes), bad * len(passes)

    def layers(self, spark, log_of, work, p) -> tuple[dict, int, int]:
        out = {}
        for name, (b, e) in p.detail["times"].items():
            out[f"query.{name}.build_s"] = b
            out[f"query.{name}.exec_s"] = e
        return out, 0, 0


def _canon(v) -> str:
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    return str(v)


def _rowset(cols, rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


WORKLOADS = {w.name: w for w in (ExtractBatch, QueryMix)}
