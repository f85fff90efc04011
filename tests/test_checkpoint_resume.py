"""W2 semantics: idempotent bucket commits, kill-and-rerun resume,
manifest metrics + lineage (FIXTURES.md §5)."""

import pytest
from pyspark.sql import functions as F

from pdf_to_xls_vision_spark.operators.pipeline import run_extraction
from pdf_to_xls_vision_spark.sink.checkpoint import (
    CheckpointAbort,
    committed_buckets,
    read_committed,
    read_manifest,
    write_checkpointed,
)

pytestmark = pytest.mark.slow  # multi-minute module; fast path skips it

N_BUCKETS = 8


@pytest.fixture(scope="module")
def result_df(spark, tiny_corpus_path):
    docs = spark.read.parquet(tiny_corpus_path)
    return run_extraction(docs).cache()


def _span_set(df):
    rows = df.select("doc_id", F.explode_outer("spans").alias("s")).collect()
    return {
        (r.doc_id, None if r.s is None else (r.s.kind, r.s.text, r.s.media_ref, r.s.order))
        for r in rows
    }


def test_kill_and_rerun_equals_uninterrupted(result_df, tmp_path):
    clean_dir = str(tmp_path / "clean")
    crash_dir = str(tmp_path / "crash")

    write_checkpointed(result_df, clean_dir, n_buckets=N_BUCKETS, input_snapshot="tiny")

    # crash after 2 of 4 commit groups
    with pytest.raises(CheckpointAbort):
        write_checkpointed(
            result_df,
            crash_dir,
            n_buckets=N_BUCKETS,
            commit_group_size=2,
            fail_after_groups=2,
            input_snapshot="tiny",
        )
    spark = result_df.sparkSession
    partial = committed_buckets(spark, crash_dir)
    assert len(partial) == 4

    # resume: only uncommitted buckets are rewritten
    out = write_checkpointed(
        result_df, crash_dir, n_buckets=N_BUCKETS, input_snapshot="tiny"
    )
    assert set(out["skipped"]) == partial
    assert set(out["committed"]) == set(range(N_BUCKETS)) - partial
    assert out["attempt"] == 2

    assert _span_set(read_committed(spark, crash_dir)) == _span_set(
        read_committed(spark, clean_dir)
    )


def test_rerun_is_noop(result_df, tmp_path):
    out_dir = str(tmp_path / "noop")
    write_checkpointed(result_df, out_dir, n_buckets=N_BUCKETS)
    before = _span_set(read_committed(result_df.sparkSession, out_dir))
    out = write_checkpointed(result_df, out_dir, n_buckets=N_BUCKETS)
    assert out["committed"] == []
    assert _span_set(read_committed(result_df.sparkSession, out_dir)) == before


def test_manifest_metrics_and_lineage(result_df, tmp_path):
    out_dir = str(tmp_path / "metrics")
    write_checkpointed(
        result_df, out_dir, n_buckets=N_BUCKETS, input_snapshot="corpus@tiny"
    )
    spark = result_df.sparkSession
    m = read_manifest(spark, out_dir)
    rows = m.collect()
    assert {r.bucket for r in rows} == set(range(N_BUCKETS))
    totals = m.agg(
        F.sum("docs").alias("docs"), F.sum("pages_parsed").alias("pages")
    ).collect()[0]
    expected = result_df.agg(
        F.count("*").alias("docs"), F.sum("pages_parsed").alias("pages")
    ).collect()[0]
    assert totals.docs == expected.docs
    assert totals.pages == expected.pages
    assert all(r.lineage.input_snapshot == "corpus@tiny" for r in rows)
    assert all(r.lineage.attempt == 1 for r in rows)
    assert all(r.lineage.committed_at_ts > 0 for r in rows)


def test_doc_validation_metrics(result_df):
    byid = {r.doc_id: r for r in result_df.collect()}
    # all-image doc has no text layer -> validation skipped
    assert byid["doc-pin-image"].validation_status == "skipped"
    # clean text docs validate perfectly: every table number came from
    # the page text, so accuracy is 100 minus prose-absent cells... the
    # continuation doc's cells are all present in its page text:
    cont = byid["doc-pin-continuation"]
    assert cont.validation_status == "completed"
    assert cont.pdf_numbers > 0
    assert cont.accuracy_pct > 0


def test_input_pruned_resume_matches_full_run(spark, tiny_corpus_path, result_df, tmp_path):
    """run_checkpointed_extraction: kill-and-rerun with the bucket
    filter on the INPUT scan produces the identical committed table."""
    from pdf_to_xls_vision_spark.sink.checkpoint import run_checkpointed_extraction

    docs = spark.read.parquet(tiny_corpus_path)
    crash_dir = str(tmp_path / "crash_pruned")
    clean_dir = str(tmp_path / "clean_pruned")

    run_checkpointed_extraction(docs, clean_dir, n_buckets=N_BUCKETS)

    with pytest.raises(CheckpointAbort):
        run_checkpointed_extraction(
            docs,
            crash_dir,
            n_buckets=N_BUCKETS,
            commit_group_size=2,
            fail_after_groups=2,
        )
    partial = committed_buckets(spark, crash_dir)
    assert len(partial) == 4

    out = run_checkpointed_extraction(docs, crash_dir, n_buckets=N_BUCKETS)
    assert set(out["skipped"]) == partial
    assert set(out["committed"]) == set(range(N_BUCKETS)) - partial

    assert _span_set(read_committed(spark, crash_dir)) == _span_set(
        read_committed(spark, clean_dir)
    )
    # and the pruned-input path agrees with the result-level writer
    assert _span_set(read_committed(spark, clean_dir)) == _span_set(result_df.select(
        "doc_id", "spans"
    ))


def test_commit_group_with_empty_bucket(spark, tiny_corpus_path, tmp_path):
    """Commit groups whose buckets hold no docs — the first ones before
    any spans directory exists — write manifest rows of the same types
    as groups full of docs, so a full-row manifest read succeeds."""
    from pdf_to_xls_vision_spark.sink.checkpoint import (
        run_checkpointed_extraction,
        with_bucket,
    )

    n_buckets = 4
    docs = spark.read.parquet(tiny_corpus_path)
    by_bucket = {}
    for r in with_bucket(docs, n_buckets).select("doc_id", "bucket").collect():
        by_bucket.setdefault(r.bucket, []).append(r.doc_id)
    picked = sorted(by_bucket[2])[:3] + sorted(by_bucket[3])[:3]
    sub = docs.where(F.col("doc_id").isin(picked))

    out_dir = str(tmp_path / "sparse")
    out = run_checkpointed_extraction(
        sub, out_dir, n_buckets=n_buckets, commit_group_size=1
    )
    assert out["committed"] == [0, 1, 2, 3]

    rows = read_manifest(spark, out_dir).collect()
    assert sorted(r.bucket for r in rows) == [0, 1, 2, 3]
    assert sum(r.docs for r in rows) == len(picked)
    assert {r.bucket: r.docs for r in rows}[0] == 0
    committed = read_committed(spark, out_dir).select("doc_id").collect()
    assert sorted(r.doc_id for r in committed) == sorted(picked)
