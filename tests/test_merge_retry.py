"""The R2 retry rides the per-document merge: text pages are parsed
once, the vision stage sees each vision-routed page and each retried
document's page exactly once, and a retried document's vision pass
addresses every page by the page's own media_ref."""

import json
from collections import Counter

import pandas as pd
from pyspark.accumulators import AccumulatorParam

from pdf_to_xls_vision_spark.core.vision import VisionBackend
from pdf_to_xls_vision_spark.corpus import generate_corpus
from pdf_to_xls_vision_spark.operators.extract import extract_text_pages
from pdf_to_xls_vision_spark.operators.pipeline import (
    explode_pages,
    make_merge_partition,
    run_extraction,
)
from tests.oracle import oracle_document


def _counting_backend(spark):
    """The stub backend, counting every media ref it is asked for into
    a Spark accumulator. Both classes are local so that they pickle by
    value: Python workers cannot import a test module."""

    class RefCount(AccumulatorParam):
        def zero(self, value):
            return Counter()

        def addInPlace(self, a, b):
            a.update(b)
            return a

    class CountingBackend(VisionBackend):
        def __init__(self, acc):
            self.acc = acc

        def infer_batch(self, media_refs):
            self.acc.add(Counter(media_refs))
            return super().infer_batch(media_refs)

    acc = spark.sparkContext.accumulator(Counter(), RefCount())
    return CountingBackend(acc), acc


class _RecordingBackend(VisionBackend):
    def __init__(self):
        self.refs = []

    def infer_batch(self, media_refs):
        self.refs.extend(media_refs)
        return super().infer_batch(media_refs)


def test_text_parsed_once_and_each_vision_page_once(spark, tiny_corpus_path):
    docs = spark.read.parquet(tiny_corpus_path)
    backend, acc = _counting_backend(spark)
    res = run_extraction(docs, backend=backend)
    rows = res.collect()

    plan = res._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE prints both plans
    assert plan.count("MapInPandas extract_text_pages(") == 1, plan
    assert "Join" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan

    retried = {r.doc_id for r in rows if r.quality_retried}
    pages = (
        explode_pages(docs)
        .select("doc_id", "route", "page", "media_ref")
        .collect()
    )
    expected = Counter(
        p.media_ref or f"img://{p.doc_id}/{p.page}"
        for p in pages
        if p.route == "vision" or p.doc_id in retried
    )
    routes = {p.doc_id: p.route for p in pages}
    assert retried and all(routes[d] == "text" for d in retried)
    assert "vision" in routes.values()
    assert acc.value == expected


def _retry_doc():
    """A text-routed document (its first three pages are text) whose
    first-page table fails a quality check (doc-pin-q1: one column,
    more than three rows), with a scanned fourth page whose media_ref
    is not the ``img://{doc_id}/{page}`` default."""
    q1 = dict(generate_corpus(0))["doc-pin-q1"][0]
    blank = json.dumps({"words": []})
    spans = [
        {**q1, "offset": 0},
        {"kind": "text", "text": blank, "media_ref": "", "offset": 1},
        {"kind": "text", "text": blank, "media_ref": "", "offset": 2},
        {
            "kind": "image",
            "text": "",
            "media_ref": "scan://archive/box-7/page-0004.png",
            "offset": 3,
        },
    ]
    return "doc-retry-ref", spans


def test_retried_doc_uses_each_pages_media_ref():
    doc_id, spans = _retry_doc()
    pages = pd.DataFrame(
        [
            (doc_id, s["offset"] + 1, s["kind"], s["text"], s["media_ref"])
            for s in spans
        ],
        columns=["doc_id", "page", "kind", "text", "media_ref"],
    )
    ext = pd.concat(list(extract_text_pages(iter([pages]))), ignore_index=True)
    assert ext["quality"].map(len).any()
    ext["has_issue"] = ext["is_table"] & (ext["quality"].map(len) > 0)
    ext["is_vision"] = False

    backend = _RecordingBackend()
    out = pd.concat(
        list(make_merge_partition(backend)(iter([ext]))), ignore_index=True
    )

    assert backend.refs == [
        f"img://{doc_id}/1",
        f"img://{doc_id}/2",
        f"img://{doc_id}/3",
        "scan://archive/box-7/page-0004.png",
    ]
    assert out["quality_retried"].tolist() == [1]
    got = [
        (s["kind"], s["text"], s["media_ref"], s["order"])
        for s in json.loads(out["spans_json"][0])
    ]
    want = [
        (s["kind"], s["text"], s["media_ref"], s["order"])
        for s in oracle_document(doc_id, spans)
    ]
    assert got == want
    assert any(s[2] == "scan://archive/box-7/page-0004.png" for s in got)
