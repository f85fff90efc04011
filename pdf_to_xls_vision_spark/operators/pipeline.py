"""End-to-end extraction plan assembly (EP2/EP3 as one DataFrame DAG).

Shape (SURVEY.md §4.3)::

    scan(docs)
      -> route = classifier exprs (no UDF)
      -> posexplode(spans) -> pages                 (pages are the work unit)
      -> repartition(pages)                         (skew leveler: round-robin)
      -> [route=text]   mapInPandas(layout parse)   T1-T4, Q1-Q6
      -> [route=vision] mapInPandas(vision stage)   V1-V7, C1-C3
      -> unionByName
      -> repartition(doc_id) + sortWithinPartitions
      -> mapInPandas(R2 retry + merge + serialize)  R2, M1 + A1/A3 + W1

Every page is parsed once. The R2 retry decision (converter.py:117-132),
the retried document's vision pass, the merge and the span
serialization all run inside the per-document group the final shuffle
already created, so none of them costs an extra exchange.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import numpy as np
import pandas as pd

from pdf_to_xls_vision_spark.core.merge import GridRecord, merge_grid_continuations
from pdf_to_xls_vision_spark.core.spans import (
    grid_notes,
    grid_rollup_rows,
    serialize_grid_spans,
)
from pdf_to_xls_vision_spark.operators.classify import route_expr
from pdf_to_xls_vision_spark.operators.extract import (
    EXTRACTION_COLS,
    EXTRACTION_SCHEMA,
    decode_grid,
    extract_text_pages,
    make_vision_extractor,
    vision_rows,
)
from pdf_to_xls_vision_spark.core.vision import VisionBackend

_SPANS_TYPE = (
    "array<struct<kind string, text string, media_ref string, order int>>"
)
RESULT_SCHEMA = (
    "doc_id string, "
    f"spans {_SPANS_TYPE}, "
    "n_tables int, pages_parsed long, rotation_corrections long, "
    "quality_retried int, rollup_rows long, n_notes long, "
    "validation_status string, pdf_numbers long, table_numbers long, "
    "matched_numbers long, accuracy_pct double, n_missing int, n_extra int"
)
#: what the merge UDF actually emits: the span sequence travels the
#: Python->JVM Arrow boundary as ONE compact JSON string per document
#: and is decoded JVM-side with from_json (same physics as the `grid`
#: input column, operators/extract.EXTRACTION_SCHEMA: Arrow/pandas
#: materialize one Python object per nested element, a string column
#: is one buffer; measured ~3x on the input hop at 600k cells/2k docs)
_RAW_RESULT_SCHEMA = RESULT_SCHEMA.replace(
    f"spans {_SPANS_TYPE}", "spans_json string"
)


def _finish_result(raw: DataFrame) -> DataFrame:
    """JVM-side restore of the public result schema from the raw merge
    output: parse spans_json into the typed span array (Jackson parse
    inside whole-stage codegen) and re-project the column order.

    Placement matters at scale: from_json allocates heavily (Jackson
    tokens -> UnsafeArrayData per span), and a stage of pure-JVM tasks
    all parsing concurrently allocation-storms the heap — measured at
    32k docs as ~2,200 core-s with ~1,000 GC-s when the parse ran in a
    dense cache-scan stage, vs ~650 core-s fused into the
    Python-throttled merge stage (the merge UDF's Arrow batching caps
    how fast parse input arrives, so allocation stays inside the young
    gen). Callers should keep this select in the same stage as the
    merge UDF, never in a cache-scan/union-only stage."""
    scalars = [
        "n_tables", "pages_parsed", "rotation_corrections",
        "quality_retried", "rollup_rows", "n_notes",
        "validation_status", "pdf_numbers", "table_numbers",
        "matched_numbers", "accuracy_pct", "n_missing", "n_extra",
    ]
    return raw.select(
        "doc_id",
        F.from_json("spans_json", _SPANS_TYPE).alias("spans"),
        *scalars,
    )


def _doc_validation(page_number_lists, grids) -> dict:
    """X4-X6 per document (validation.py:151-229): fold both number
    multisets on the float-or-raw key, compare counts over the key
    union, count matches = sum(min), accuracy = matches/pdf_total*100.

    Documents with no text layer report status 'skipped'
    (validation.py:108-149 — scanned PDFs cannot be validated).
    """
    from collections import Counter

    from pdf_to_xls_vision_spark.core.numbers import (
        extract_numbers_from_grid,
        number_key,
    )

    pdf_tokens = [t for lst in page_number_lists for t in lst]
    if not pdf_tokens:
        return {
            "validation_status": "skipped",
            "pdf_numbers": 0,
            "table_numbers": 0,
            "matched_numbers": 0,
            "accuracy_pct": 0.0,
            "n_missing": 0,
            "n_extra": 0,
        }
    pdf_counts = Counter(number_key(t) for t in pdf_tokens)
    table_counts: Counter = Counter()
    for header, rows in grids:
        table_counts.update(
            number_key(t) for t in extract_numbers_from_grid(header, rows)
        )

    keys = set(pdf_counts) | set(table_counts)
    matches = sum(min(pdf_counts[k], table_counts[k]) for k in keys)
    missing = sum(1 for k in keys if table_counts[k] < pdf_counts[k])
    extra = sum(1 for k in keys if table_counts[k] > pdf_counts[k])
    total_pdf = sum(pdf_counts.values())
    accuracy = (matches / total_pdf * 100) if total_pdf > 0 else 0.0
    return {
        "validation_status": "completed",
        "pdf_numbers": total_pdf,
        "table_numbers": sum(table_counts.values()),
        "matched_numbers": matches,
        "accuracy_pct": round(accuracy, 2),
        "n_missing": missing,
        "n_extra": extra,
    }


#: extraction-row columns the merge consumes (flat — nested-struct
#: collect_list was measured 4x slower through Arrow->pandas; the
#: table payload itself travels as the single JSON `grid` string, see
#: operators/extract.EXTRACTION_SCHEMA for the measured rationale).
#: ``has_issue`` is a table row's `quality` collapsed to "any issue"
#: before the exchange, ``is_vision`` marks vision-routed rows.
_MERGE_COLS = [
    "doc_id", "page", "table_id", "media_ref", "grid",
    "rotation_corrected", "is_table", "page_numbers", "has_issue",
    "is_vision",
]


def _merge_doc_arrays(cols: dict, s: int, e: int, retried: int = 0) -> dict:
    """Per-document reduce over column-array slices [s:e): rebuild
    table records, M1-merge, serialize the ordered span sequence, and
    compute per-doc metrics."""
    is_table = cols["is_table"]
    sent_idx = [i for i in range(s, e) if not is_table[i]]
    pages_parsed = len(sent_idx)
    rotation_corrections = int(
        sum(cols["rotation_corrected"][i] for i in sent_idx)
    )

    tbl_idx = sorted(
        (i for i in range(s, e) if is_table[i]),
        key=lambda i: (int(cols["page"][i]), int(cols["table_id"][i])),
    )
    records = []
    for i in tbl_idx:
        header, rows = decode_grid(cols["grid"][i])
        records.append(
            GridRecord(
                header=header,
                rows=rows,
                page=int(cols["page"][i]),
                table_id=int(cols["table_id"][i]),
                media_ref=cols["media_ref"][i],
            )
        )
    merged = merge_grid_continuations(records)
    spans = serialize_grid_spans(merged)
    rollups = sum(grid_rollup_rows(r.header, r.rows) for r in merged)
    notes = sum(len(grid_notes(r.header, r.rows)) for r in merged)
    validation = _doc_validation(
        [list(cols["page_numbers"][i]) for i in sent_idx],
        [(r.header, r.rows) for r in merged],
    )
    return {
        "doc_id": cols["doc_id"][s],
        "spans_json": json.dumps(
            spans, ensure_ascii=False, separators=(",", ":")
        ),
        "n_tables": len(merged),
        "pages_parsed": pages_parsed,
        "rotation_corrections": rotation_corrections,
        "quality_retried": retried,
        "rollup_rows": int(rollups),
        "n_notes": int(notes),
        **validation,
    }


def _needs_retry(cols: dict, s: int, e: int) -> bool:
    """R2 (converter.py:117-132) from the document's own rows: a
    text-routed document is retried through vision when any of its
    tables has a quality issue, or when it has no table at all."""
    if cols["is_vision"][s]:
        return False
    has_table = False
    for i in range(s, e):
        if cols["has_issue"][i]:
            return True
        has_table = has_table or cols["is_table"][i]
    return not has_table


def _merge_doc(backend: VisionBackend, cols: dict, s: int, e: int) -> dict:
    """Merge one document, first re-extracting it through the vision
    stage when R2 retries it. The retry runs over the document's page
    sentinels, which carry each page's media_ref and validation
    numbers, so it sees exactly the pages and numbers a vision-routed
    document would."""
    if not _needs_retry(cols, s, e):
        return _merge_doc_arrays(cols, s, e)
    doc_id = cols["doc_id"][s]
    sent = sorted(
        (i for i in range(s, e) if not cols["is_table"][i]),
        key=lambda i: int(cols["page"][i]),
    )
    pages = [int(cols["page"][i]) for i in sent]
    rows = vision_rows(
        backend,
        [doc_id] * len(sent),
        pages,
        [
            cols["media_ref"][i] or f"img://{doc_id}/{p}"
            for i, p in zip(sent, pages)
        ],
        [cols["page_numbers"][i] for i in sent],
    )
    retry_cols = {
        c: [r[j] for r in rows] for j, c in enumerate(EXTRACTION_COLS)
    }
    return _merge_doc_arrays(retry_cols, 0, len(rows), retried=1)


def _merge_frame(b: pd.DataFrame, backend: VisionBackend) -> pd.DataFrame:
    """Merge every complete document group in one pandas frame whose
    rows are contiguous by doc_id."""
    ids = b["doc_id"].to_numpy()
    bounds = np.flatnonzero(ids[1:] != ids[:-1]) + 1
    starts = [0, *bounds.tolist()]
    ends = [*bounds.tolist(), len(ids)]
    cols = {c: b[c].to_numpy() for c in _MERGE_COLS}
    return pd.DataFrame(
        [_merge_doc(backend, cols, s, e) for s, e in zip(starts, ends)]
    )


def make_merge_partition(backend: VisionBackend | None = None):
    """Build the per-partition merge driver: rows arrive
    hash-partitioned by doc_id and sorted within the partition, so
    each document is a contiguous run — but Arrow batches don't
    respect group boundaries, so the trailing (possibly incomplete)
    group of every batch is held back and stitched onto the next
    batch; a 3000-row document simply accumulates across batches until
    its run ends. This replaces a groupBy().applyInPandas whose
    pandas-frame-per-group overhead (~13ms/doc x one frame per
    document) dominated the merge stage's executor time."""
    backend = backend or VisionBackend()

    def _merge_partition(batches) -> pd.DataFrame:
        pending: pd.DataFrame | None = None
        for b in batches:
            if pending is not None:
                b = pd.concat([pending, b], ignore_index=True)
                pending = None
            if len(b) == 0:
                continue
            ids = b["doc_id"].to_numpy()
            nz = np.flatnonzero(ids != ids[-1])
            start_last = int(nz[-1]) + 1 if len(nz) else 0
            pending = b.iloc[start_last:]
            body = b.iloc[:start_last]
            if len(body):
                yield _merge_frame(body, backend)
        if pending is not None and len(pending):
            yield _merge_frame(pending, backend)

    return _merge_partition


def explode_pages(docs: DataFrame, force_vision: bool = False) -> DataFrame:
    """Classify docs (column exprs only) and explode to the page relation."""
    return (
        docs.withColumn("route", route_expr(force_vision))
        .select(
            "doc_id",
            "route",
            F.explode("spans").alias("span"),
        )
        .select(
            "doc_id",
            "route",
            (F.col("span.offset") + 1).alias("page"),
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("text"),
            F.col("span.media_ref").alias("media_ref"),
        )
    )


def run_extraction(
    docs: DataFrame,
    force_vision: bool = False,
    backend: VisionBackend | None = None,
    page_partitions: int | None = None,
) -> DataFrame:
    """The full extraction pipeline; returns the result relation
    ``(doc_id, spans, …metrics)``.

    **Why every page shuffles** (SURVEY.md §4.2 — AQE cannot see UDF
    compute skew, so the leveling is ours): the round-robin
    ``repartition`` does two jobs at once. (1) Skew: a 1000-page doc
    spreads over the cluster instead of pinning one task. (2)
    Parallelism decoupling: the parse stage is CPU-bound, so a
    byte-sized input split (128 MB of compressed payloads = tens of
    thousands of pages) is far too coarse a unit of work. A selective
    variant that shuffled only heavy-tail docs (``size(spans) >
    skew_threshold``) and parsed small docs in their scan partitions
    was measured 25-50% SLOWER on the skewed corpus: the no-shuffle
    branch collapsed onto the input's few byte-balanced splits and ran
    the parse near-serial. At the 100 TB design point the same holds —
    the page shuffle is one pass over the corpus and buys a
    fully-level, core-sized work distribution for the expensive stage;
    revisit only if the input is pre-bucketed into core-sized files.

    **Why R2 rides the merge exchange.** The per-document merge already
    hash-partitions every extraction row by ``doc_id``, so each
    document's rows meet in one task, where the retry decision
    (converter.py:117-132) is a scan of those rows and a retried
    document runs the vision stage on its own page sentinels before it
    merges. The text parse and the vision route therefore execute once
    each, with no retry-id aggregate, no semi/anti join, no cache and
    no second exchange. The two shapes this replaced each paid for the
    decision elsewhere: a separately aggregated retry-id relation
    re-ran the whole text parse for its anti-join, and a cached
    doc-level fan-out lost at 32k docs to cache pressure. On
    perfbench's extract_batch workload (~320 stratified docs, local[4]
    on a 4-core VM, ten alternating pairs against the retry-id
    relation plan) this plan cut the median CPU time per pass from
    23.7 to 16.4 CPU-s and wall time from 6.7 to 5.3 s; one traced run
    went from 8 stages to 5, 15.8 to 8.0 executor-s and 4.4 to 3.4 MiB
    shuffled, with the same vision page count. The trade-off: a
    retried document's vision pages run in that document's single
    merge task instead of spreading round-robin — about 1 s of stub
    vision for the corpus's 800-page tail document, included in the
    figures above.
    """
    spark = docs.sparkSession
    n_parts = page_partitions or spark.sparkContext.defaultParallelism * 2
    backend = backend or VisionBackend()

    pages = explode_pages(docs, force_vision).repartition(n_parts)
    text_ext = pages.filter(F.col("route") == "text").mapInPandas(
        extract_text_pages, EXTRACTION_SCHEMA
    )
    vision_ext = pages.filter(F.col("route") == "vision").mapInPandas(
        make_vision_extractor(backend), EXTRACTION_SCHEMA
    )

    def _merge_input(ext: DataFrame, is_vision: bool) -> DataFrame:
        # `quality` collapses to one boolean before the shuffle: the
        # retry decision needs only "any issue on this table", so the
        # exchange carries 1 bit instead of an array<string> per row
        return ext.select(
            *_MERGE_COLS[:-2],
            (F.col("is_table") & (F.size("quality") > 0)).alias("has_issue"),
            F.lit(is_vision).alias("is_vision"),
        )

    # The explicit partition count keeps the Python-bound merge at full
    # parallelism: AQE's byte-based coalescing shrank a groupBy
    # exchange to 23 partitions on the 8000-doc corpus (33 MB looks
    # tiny to AQE, but the stage cost is Python compute, not bytes).
    merged = (
        _merge_input(text_ext, False)
        .unionByName(_merge_input(vision_ext, True))
        .repartition(n_parts, "doc_id")
        .sortWithinPartitions("doc_id")
        .mapInPandas(make_merge_partition(backend), _RAW_RESULT_SCHEMA)
    )
    return _finish_result(merged)
