"""End-to-end span-sequence equality: distributed engine vs the
independent sequential oracle, exact on (kind, text, media_ref, order)
for every document of the pinned+random tiny corpus (BASELINE.json
correctness gate)."""

import pytest

from pdf_to_xls_vision_spark.operators.pipeline import run_extraction
from tests.oracle import oracle_corpus


def _collect_engine_spans(spark, path, force_vision=False):
    docs = spark.read.parquet(path)
    res = run_extraction(docs, force_vision=force_vision)
    out = {}
    metrics = {}
    for row in res.collect():
        out[row.doc_id] = [
            (s.kind, s.text, s.media_ref, s.order) for s in row.spans
        ]
        metrics[row.doc_id] = row
    return out, metrics


@pytest.fixture(scope="module")
def engine_result(spark, tiny_corpus_path):
    return _collect_engine_spans(spark, tiny_corpus_path)


@pytest.fixture(scope="module")
def golden(tiny_corpus):
    return {
        doc_id: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans]
        for doc_id, spans in oracle_corpus(tiny_corpus).items()
    }


def test_every_document_present(engine_result, golden):
    spans, _ = engine_result
    assert set(spans.keys()) == set(golden.keys())


def test_span_sequences_equal(engine_result, golden):
    spans, _ = engine_result
    mismatches = []
    for doc_id, expected in golden.items():
        got = spans.get(doc_id)
        if got != expected:
            mismatches.append((doc_id, expected[:6], None if got is None else got[:6]))
    assert not mismatches, f"{len(mismatches)} docs diverge: {mismatches[:3]}"


def test_pinned_behaviors(engine_result, golden):
    spans, metrics = engine_result

    # continuation doc merged into one table of 13 rows
    cont = [s for s in spans["doc-pin-continuation"] if s[0] == "table_start"]
    assert len(cont) == 1 and cont[0][1] == "1:1:13x5"

    # near-miss docs keep separate tables
    for did in (
        "doc-pin-nearmiss-gap",
        "doc-pin-nearmiss-width",
        "doc-pin-nearmiss-detail",
        "doc-pin-nearmiss-generic",
    ):
        starts = [s for s in spans[did] if s[0] == "table_start"]
        assert len(starts) >= 2, did

    # quality traps all retried through vision
    for q in range(1, 7):
        assert metrics[f"doc-pin-q{q}"].quality_retried == 1, q

    # zero-table doc -> empty sequence (converter.py:134-136)
    empty_id = next(k for k in spans if k.startswith("doc-pin-empty"))
    assert spans[empty_id] == []

    # rotated doc correction counted
    rot_id = next(k for k in spans if k.startswith("doc-pin-rotated"))
    assert metrics[rot_id].rotation_corrections == 1
    amb_id = next(k for k in spans if k.startswith("doc-pin-ambiguous"))
    assert metrics[amb_id].rotation_corrections == 0

    # notes doc emits trailing note spans
    notes_id = next(k for k in spans if k.startswith("doc-pin-notes"))
    kinds = [s[0] for s in spans[notes_id]]
    assert "note" in kinds
    assert kinds.index("note") > kinds.index("table_end")

    # vision tables carry their page's media_ref
    img = spans["doc-pin-image"]
    if img:  # stub may legitimately return no table for this ref
        assert all(s[2] == "img://doc-pin-image/1" for s in img if s[0] != "note")


@pytest.mark.slow
def test_force_vision_route(spark, tiny_corpus_path, tiny_corpus):
    """force_vision (converter.py:96-99) sends even clean text docs
    through the vision stage; oracle agrees."""
    engine, _ = _collect_engine_spans(spark, tiny_corpus_path, force_vision=True)
    subset = [d for d in tiny_corpus if d[0] in ("doc-pin-continuation", "doc-pin-mixed")]
    expected = {
        k: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in v]
        for k, v in oracle_corpus(subset, force_vision=True).items()
    }
    for doc_id, exp in expected.items():
        assert engine[doc_id] == exp


def test_order_is_dense_and_zero_based(engine_result):
    spans, _ = engine_result
    for doc_id, seq in spans.items():
        assert [s[3] for s in seq] == list(range(len(seq))), doc_id


def test_wide_corpus_spans_equal_oracle(spark, tmp_path):
    """30–50-column tables (col_range=(28, 48)): the fused layout
    kernel, header promotion, quality gates, and grid-JSON contract
    must stay byte-identical to the sequential oracle when per-row
    cell count grows ~8x — the regime where the per-CELL Arrow-hop
    cost the round-4 contract change targets actually dominates."""
    import pyarrow.parquet as pq

    from pdf_to_xls_vision_spark.corpus import (
        corpus_to_arrow,
        generate_corpus,
    )
    from tests.oracle import oracle_corpus

    docs = generate_corpus(24, include_pinned=False, col_range=(28, 48))
    path = str(tmp_path / "wide.parquet")
    pq.write_table(corpus_to_arrow(docs), path)
    got, _ = _collect_engine_spans(spark, path)
    want = {
        doc_id: [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans]
        for doc_id, spans in oracle_corpus(docs).items()
    }
    assert set(got) == set(want)
    diverging = [d for d in want if got[d] != want[d]]
    assert not diverging, f"{len(diverging)} wide docs diverge: {diverging[:3]}"
    # the corpus is genuinely wide: at least one table span with >= 30 cols
    widths = [
        int(s[1].split("x")[1])
        for spans in got.values()
        for s in spans
        if s[0] == "table_start"
    ]
    assert widths and max(widths) >= 30
