"""Function-layer timing without Spark.

Replays, in one process, the public ``functions.*`` calls the extract row
loop makes for each page, in the same order, on a seeded sample of the
workload's own ``html`` bytes; and for ``derive`` the ``lines_json``
decode and ``build_page_spans`` the spans UDF runs per joined row. The
result is µs per page for each phase (and µs per KB of html, which is
what moves on the skew tail).
"""

from __future__ import annotations

import json
import time
from typing import Any

from ocr_obsidian_spark.config import DEFAULT_CONFIG
from ocr_obsidian_spark.functions.geometry import admit_word, build_page_spans, group_lines
from ocr_obsidian_spark.functions.qa import compute_text_metrics
from ocr_obsidian_spark.functions.romans import detect_printed_page, infer_scan_side
from ocr_obsidian_spark.functions.textclean import render_page_text, render_raw_text
from ocr_obsidian_spark.operators.extract import parse_url_book_page
from ocr_obsidian_spark.sources.fixtures import parse_page_payload

PHASES = ("parse", "group_lines", "render_raw", "qa", "render", "detect", "lines_json")


def _admitted(payload: dict[str, Any]) -> list[dict[str, Any]]:
    words = []
    for w in payload.get("words", []):
        b = [int(v) for v in w["b"]]
        if admit_word(w.get("t", ""), w.get("c"), b[2] - b[0], b[3] - b[1]):
            words.append({"text": str(w["t"]).strip(), "bbox": b, "confidence": float(w["c"])})
    return words


def time_extract_functions(pages: list[tuple[str, bytes]]) -> dict[str, float]:
    """``functions.<phase>_us`` per page and ``functions.<phase>_us_per_kb``
    over ``pages`` = [(url, html)]. Word admission is done untimed: it is
    inline row-loop code, counted in ``extract.row_loop_us``."""
    cfg = DEFAULT_CONFIG
    pp = cfg.printed_page
    spent = dict.fromkeys(PHASES, 0.0)
    kb = 0.0
    clock = time.perf_counter
    for url, html in pages:
        kb += len(html) / 1024.0
        _, page_num = parse_url_book_page(url)
        t0 = clock()
        payload = parse_page_payload(html)
        t1 = clock()
        words = _admitted(payload)
        t2 = clock()
        lines = group_lines(words, page_num, cfg.line_y_tolerance_px)
        t3 = clock()
        render_raw_text(lines)
        t4 = clock()
        compute_text_metrics(lines, trusted_line_text=True)
        t5 = clock()
        render_page_text(lines)
        t6 = clock()
        detect_printed_page(
            words,
            lines,
            page_width=int(payload.get("page_width", 1000)),
            page_height=int(payload.get("page_height", 1400)),
            top_band_frac=pp.top_band_frac,
            min_conf=pp.min_conf,
            roman_min_len=pp.roman_min_len,
            roman_max_value=pp.roman_max_value,
            side=infer_scan_side(str(payload.get("scan_relpath", ""))),
            max_top_lines=pp.max_top_lines,
            debug=pp.debug,
        )
        t7 = clock()
        json.dumps(lines, ensure_ascii=False, separators=(",", ":"))
        t8 = clock()
        for phase, dt in zip(
            PHASES, (t1 - t0, t3 - t2, t4 - t3, t5 - t4, t6 - t5, t7 - t6, t8 - t7)
        ):
            spent[phase] += dt
    n = max(len(pages), 1)
    out = {}
    for phase in PHASES:
        out[f"functions.{phase}_us"] = spent[phase] / n * 1e6
        out[f"functions.{phase}_us_per_kb"] = spent[phase] / max(kb, 1e-9) * 1e6
    return out


def time_span_functions(rows: list[tuple[str, list[list[int]], int]]) -> dict[str, float]:
    """``functions.lines_loads_us`` and ``functions.page_spans_us`` per
    joined row = (lines_json, gated trigger bboxes, page_num)."""
    s = DEFAULT_CONFIG.spans
    loads = spans = 0.0
    clock = time.perf_counter
    for lines_json, bboxes, page_num in rows:
        t0 = clock()
        lines = json.loads(lines_json)
        t1 = clock()
        build_page_spans(
            [{"line_id": ln["line_id"], "bbox": list(ln["bbox"])} for ln in lines],
            bboxes,
            int(page_num),
            k_before=s.k_before,
            k_after=s.k_after,
            min_overlap_frac=s.min_overlap_frac,
            min_x_overlap_px=s.min_x_overlap_px,
            max_overlap_lines=s.max_overlap_lines,
        )
        t2 = clock()
        loads += t1 - t0
        spans += t2 - t1
    n = max(len(rows), 1)
    return {
        "functions.lines_loads_us": loads / n * 1e6,
        "functions.page_spans_us": spans / n * 1e6,
    }
