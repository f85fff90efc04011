"""Tests of the benchmark's own instruments.

    python -m pytest perfbench/test_perfbench.py -q

The event-log reader is checked twice: on a hand-written log whose
numbers are known, and on a tiny extraction run recorded here with
Spark's event log on, where its counts must agree with counts taken
independently (the input corpus, a counting vision backend, the result).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.eventlog import EventLog  # noqa: E402
from perfbench.procstat import tree_cpu_s, tree_rss_mib  # noqa: E402


def _node(name, text, metrics=(), children=()):
    return {
        "nodeName": name,
        "simpleString": text,
        "metrics": [
            {"name": m, "accumulatorId": a, "metricType": "sum"} for m, a in metrics
        ],
        "children": list(children),
    }


def _task(stage, run_ms, updates):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "Success"},
        "Task Info": {
            "Accumulables": [{"ID": a, "Update": str(v)} for a, v in updates.items()]
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": 1,
            "Shuffle Read Metrics": {"Local Bytes Read": 100, "Remote Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 50},
        },
    }


def test_reader_on_handwritten_log(tmp_path):
    exchange = _node(
        "Exchange", "Exchange RoundRobinPartitioning(4)", [("records read", 10)],
        [_node("Generate", "Generate explode(spans#1)", [("number of output rows", 11)])],
    )
    plan = _node(
        "MapInPandas",
        "MapInPandas _merge_partition(doc_id#1)",
        [("time to run Python workers", 30), ("number of output rows", 31)],
        [
            _node(
                "MapInPandas",
                "MapInPandas extract_text_pages(doc_id#1, page#2)",
                [("time to run Python workers", 20), ("data sent to Python workers", 21)],
                [_node("ShuffleQueryStage", "ShuffleQueryStage 0", [], [exchange])],
            )
        ],
    )
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pass"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "other"}},
        _task(0, 100, {11: 7}),                     # explode
        _task(1, 300, {10: 7, 20: 250, 21: 2**20}),  # text parse
        _task(1, 100, {10: 3, 20: 90, 21: 2**20}),   # text parse
        _task(1, 50, {30: 40, 31: 2}),              # merge
        _task(2, 999, {10: 5}),                     # another group
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events))

    log = EventLog.read(str(tmp_path))
    assert log.udf_input_rows(("pass",), "text") == 10
    assert log.udf_input_rows(("other",), "text") == 5
    assert log.jobs(("pass",)) == 1
    r = log.layer_report(("pass",))
    assert r["explode.pages"] == 7
    assert r["explode.exec_s"] == pytest.approx(0.1)
    assert r["text.py_run_s"] == pytest.approx(0.34)
    assert r["text.py_sent_mib"] == pytest.approx(2.0)
    assert r["text.task_skew"] == pytest.approx(300 / 200)
    assert r["merge.py_run_s"] == pytest.approx(0.04)
    assert r["merge.shuffle_read_mib"] == pytest.approx(100 / 2**20)
    assert r["pipeline.exec_s"] == pytest.approx(0.55)
    assert r["pipeline.stages"] == 2


def test_reader_on_recorded_extraction(tmp_path):
    """A tiny extraction with the event log on: the reader's counts
    equal counts taken without it."""
    from perfbench.workloads import CountingBackend, start_session
    from pdf_to_xls_vision_spark.operators.pipeline import run_extraction

    docs = inputs.corpus_docs(seed=3, n_docs=12)
    path = inputs.write_corpus(str(tmp_path / "corpus.parquet"), docs)
    routes = {d: inputs.route_of(s) for d, s in docs}
    text_pages = sum(len(s) for d, s in docs if routes[d] == "text")

    events = str(tmp_path / "events")
    spark = start_session(str(tmp_path), events)
    try:
        sc = spark.sparkContext
        pages, secs = sc.accumulator(0), sc.accumulator(0.0)
        sc.setJobGroup("pass", "tiny extraction")
        rows = run_extraction(
            spark.read.parquet(path), backend=CountingBackend(pages, secs)
        ).select("doc_id", "quality_retried").collect()
        retried_pages = sum(
            len(dict(docs)[r.doc_id]) for r in rows if r.quality_retried
        )
    finally:
        spark.stop()

    log = EventLog.read(events)
    text_rows = log.udf_input_rows(("pass",), "text")
    # every text-routed page is parsed a whole number of times
    assert text_rows > 0 and text_rows % text_pages == 0
    # the vision UDF's input rows are the pages the backend saw: the
    # vision route plus the retried documents
    vision_pages = sum(len(s) for d, s in docs if routes[d] == "vision")
    assert log.udf_input_rows(("pass",), "vision") == pages.value
    assert pages.value == vision_pages + retried_pages
    r = log.layer_report(("pass",))
    assert r["explode.pages"] >= sum(len(s) for _, s in docs)
    for layer in ("text", "vision", "merge"):
        assert r[f"{layer}.py_run_s"] > 0
    assert r["pipeline.exec_s"] > r["explode.exec_s"] > 0


def test_process_tree_counts_reaped_children():
    before = tree_cpu_s()
    subprocess.run(
        [sys.executable, "-c",
         "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.3: pass"],
        check=True,
    )
    time.sleep(0.05)
    assert tree_cpu_s() - before >= 0.25
    assert tree_rss_mib() > 1.0


def test_stratified_corpus_is_seeded_and_keeps_page_profile():
    a = inputs.corpus_docs(seed=1, n_docs=200)
    b = inputs.corpus_docs(seed=1, n_docs=200)
    c = inputs.corpus_docs(seed=2, n_docs=200)
    assert a == b
    assert [d for d, _ in a] != [d for d, _ in c]
    pages = [sum(len(s) for _, s in x) for x in (a, c)]
    assert abs(pages[0] - pages[1]) / pages[0] < 0.05
    assert sum(inputs.stratum_quotas(200).values()) == 200


def test_batch_corpus_keeps_every_page_class():
    """At extract_batch's size every page class of the generator, the
    600-1000-page tail included, holds a document."""
    from perfbench.workloads import BATCH_DOCS

    quotas = inputs.stratum_quotas(BATCH_DOCS)
    assert sum(quotas.values()) == BATCH_DOCS
    for _, lo, hi in inputs._PAGE_CLASSES:
        assert sum(q for (_, a, b), q in quotas.items() if lo <= a and b <= hi) >= 1


def test_query_mix_wall_sums_per_query_medians():
    """One slow query in each pass moves neither the per-query medians
    nor their sum."""
    from perfbench.workloads import QUERIES, Pass, QueryMix

    passes = []
    for slow in QUERIES[:3]:
        times = {q: (0.25, 0.75) for q in QUERIES}
        times[slow] = (5.0, 5.0)
        wall = sum(map(sum, times.values()))
        passes.append(Pass(wall, len(QUERIES), detail={"times": times}))
    assert QueryMix("unused", 1).wall_s(passes) == pytest.approx(len(QUERIES))
