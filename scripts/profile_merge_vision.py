#!/usr/bin/env python3
"""Profile the merge/serialize kernel (which also runs the R2 retry's
vision pass) and the vision-page kernel standalone (no Spark) — the two
dominant executor-cost stages per scripts/profile_stage_breakdown.py.
Usage:

    python scripts/profile_merge_vision.py [n_docs] [--cprofile merge|vision]
"""

from __future__ import annotations

import cProfile
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

from pdf_to_xls_vision_spark.corpus import generate_corpus
from pdf_to_xls_vision_spark.operators.extract import (
    extract_text_pages,
    make_vision_extractor,
)
from pdf_to_xls_vision_spark.operators.classify import route_expr  # noqa: F401
from pdf_to_xls_vision_spark.operators.pipeline import make_merge_partition


def build_pages(n_docs: int) -> pd.DataFrame:
    docs = generate_corpus(n_docs)
    rows = []
    for doc_id, spans in docs:
        all_image = all(s["kind"] == "image" for s in spans)
        route = "vision" if all_image else "text"
        for span in spans:
            rows.append(
                {
                    "doc_id": doc_id,
                    "route": route,
                    "page": span["offset"] + 1,
                    "kind": span["kind"],
                    "text": span["text"],
                    "media_ref": span["media_ref"],
                }
            )
    return pd.DataFrame(rows)


def batched(df: pd.DataFrame, n: int = 2048):
    for i in range(0, len(df), n):
        yield df.iloc[i : i + n].reset_index(drop=True)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    prof_target = sys.argv[sys.argv.index("--cprofile") + 1] if "--cprofile" in sys.argv else None

    pages = build_pages(n_docs)
    text_pages = pages[pages["route"] == "text"]
    vision_pages = pages[pages["route"] == "vision"].reset_index(drop=True)
    print(
        f"{n_docs} docs: {len(text_pages)} text pages, "
        f"{len(vision_pages)} vision pages"
    )

    vision_fn = make_vision_extractor(None)

    def run_vision():
        out = []
        for b in vision_fn(batched(vision_pages)):
            out.append(b)
        return pd.concat(out, ignore_index=True) if out else pd.DataFrame()

    def run_text():
        return pd.concat(
            list(extract_text_pages(batched(text_pages))), ignore_index=True
        )

    # timed (or profiled) vision pass
    if prof_target == "vision":
        pr = cProfile.Profile()
        pr.enable()
        vis_ext = run_vision()
        pr.disable()
        pstats.Stats(pr).sort_stats("cumulative").print_stats(25)
    else:
        t0 = time.perf_counter()
        vis_ext = run_vision()
        t_vis = time.perf_counter() - t0
        print(
            f"vision kernel: {t_vis:.2f}s for {len(vision_pages)} pages "
            f"({len(vision_pages) / max(t_vis, 1e-9):.0f} pages/sec/core)"
        )

    text_ext = run_text()
    for df, is_vision in ((text_ext, False), (vis_ext, True)):
        df["has_issue"] = df["is_table"] & (df["quality"].map(len) > 0)
        df["is_vision"] = is_vision

    merged_in = (
        pd.concat([text_ext, vis_ext], ignore_index=True)
        .sort_values(["doc_id", "page", "table_id"], kind="stable")
        .reset_index(drop=True)
    )
    print(f"merge input: {len(merged_in)} extraction rows")

    merge_fn = make_merge_partition()

    def run_merge():
        return pd.concat(list(merge_fn(iter([merged_in]))), ignore_index=True)

    run_merge()  # warm
    if prof_target == "merge":
        pr = cProfile.Profile()
        pr.enable()
        out = run_merge()
        pr.disable()
        pstats.Stats(pr).sort_stats("cumulative").print_stats(30)
        print(f"merge out rows: {len(out)}")
    else:
        t0 = time.perf_counter()
        out = run_merge()
        t_m = time.perf_counter() - t0
        print(
            f"merge kernel: {t_m:.2f}s for {n_docs} docs "
            f"({n_docs / max(t_m, 1e-9):.0f} docs/sec/core), "
            f"out={len(out)}"
        )


if __name__ == "__main__":
    main()
