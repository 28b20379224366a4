"""Pure-Python oracle for the flagship extraction pipeline.

Implements the extraction semantics literally, one doc at a time, with
plain Python data structures — deliberately written in a different style
from the vectorized Spark kernel so the two are independent checks on the
same spec. This file is the *definition of truth* for span-sequence
equality tests (BASELINE.json north_rule).

Semantics (the spec), in order:
  1. decode (page, y, x) from offset              [schema.py encoding]
  2. whitespace-normalize text spans: collapse newline runs to one "\\n",
     strip  (reference C14: step6/02_text_result_manager.py:57-61)
  3. drop text spans that normalize to ""          (reference F11:
     step7/01_text_integration_engine.py:62-74)
  4. header/footer boilerplate strip               (deterministic
     replacement for K15: llm_prompts.yaml:160-164 cleanup);
     n_pages counts distinct pages among post-empty-drop spans
  5. per-page two-up detection -> side in {0,1}    (deterministic
     replacement for K8/K9: step4/01 + step4/02_page_splitter.py:47-59),
     computed on the spans that survive the strip
  6. reading-order sort by (page, side, y, x); order = 1-based rank
     (reference W1/O1-O3 ordering chain)
  7. emit (kind, text, media_ref, order); media spans pass through.
"""

from __future__ import annotations

import math
import re

from dd_ops_ocr_spark.schema import (
    BOILERPLATE_FRAC,
    CX,
    FOOTER_ZONE,
    GUTTER_HALF,
    HEADER_ZONE,
    MIN_PAGES_BOILERPLATE,
    PAGE_H,
    PAGE_W,
    STRIDE,
    TWOUP_MIN_SIDE,
)

_NL_RUN = re.compile(r"\n{2,}")


def normalize_text(text: str) -> str:
    """C14: collapse blank-line runs to one newline, then strip."""
    return _NL_RUN.sub("\n", text).strip()


def extract_doc(spans: list[dict], include_page: bool = False) -> list[dict]:
    """Run the full extraction spec on one document's span list.

    Returns the output span sequence: list of
    ``{kind, text, media_ref, order}`` in reading order
    (plus ``page`` when ``include_page`` — used by the integration fold).
    """
    # 1-3: decode, normalize, drop empties.
    kept = []
    for s in spans:
        page = s["offset"] // STRIDE
        rem = s["offset"] % STRIDE
        y, x = rem // PAGE_W, rem % PAGE_W
        if s["kind"] == "text":
            norm = normalize_text(s["text"] or "")
            if norm == "":
                continue
            kept.append({"kind": "text", "text": norm, "media_ref": None,
                         "page": page, "y": y, "x": x})
        else:
            kept.append({"kind": s["kind"], "text": None,
                         "media_ref": s["media_ref"],
                         "page": page, "y": y, "x": x})

    # 4: boilerplate strip (text spans only, top/bottom zones).
    n_pages = len({s["page"] for s in kept})
    if n_pages >= MIN_PAGES_BOILERPLATE:
        threshold = math.ceil(BOILERPLATE_FRAC * n_pages)
        zone_pages: dict[tuple[int, str], set[int]] = {}
        for s in kept:
            if s["kind"] != "text":
                continue
            zone = 1 if s["y"] < HEADER_ZONE else (2 if s["y"] >= PAGE_H - FOOTER_ZONE else 0)
            if zone:
                zone_pages.setdefault((zone, s["text"]), set()).add(s["page"])
        drop_keys = {k for k, pgs in zone_pages.items() if len(pgs) >= threshold}
        if drop_keys:
            def is_boiler(s: dict) -> bool:
                if s["kind"] != "text":
                    return False
                zone = 1 if s["y"] < HEADER_ZONE else (
                    2 if s["y"] >= PAGE_H - FOOTER_ZONE else 0
                )
                return zone != 0 and (zone, s["text"]) in drop_keys

            kept = [s for s in kept if not is_boiler(s)]

    # 5: two-up detection per page, on surviving spans.
    pages: dict[int, list[dict]] = {}
    for s in kept:
        pages.setdefault(s["page"], []).append(s)
    for pg, items in pages.items():
        left = sum(1 for s in items if s["x"] < CX - GUTTER_HALF)
        right = sum(1 for s in items if s["x"] >= CX + GUTTER_HALF)
        gutter = sum(
            1 for s in items if CX - GUTTER_HALF <= s["x"] < CX + GUTTER_HALF
        )
        two_up = gutter == 0 and left >= TWOUP_MIN_SIDE and right >= TWOUP_MIN_SIDE
        for s in items:
            s["side"] = 1 if (two_up and s["x"] >= CX) else 0

    # 6-7: reading-order sort and emit.
    kept.sort(key=lambda s: (s["page"], s["side"], s["y"], s["x"]))
    out = []
    for i, s in enumerate(kept):
        row = {"kind": s["kind"], "text": s["text"],
               "media_ref": s["media_ref"], "order": i + 1}
        if include_page:
            row["page"] = s["page"]
        out.append(row)
    return out


def expected_rows(documents):
    """Oracle output for a documents table (pandas, columns doc_id and
    text) as flat rows: a pandas DataFrame of (doc_id, kind, text,
    media_ref, order), each doc's spans generated by ``corpus.doc_spans``."""
    import pandas as pd

    from dd_ops_ocr_spark import corpus

    rows: list[tuple] = []
    for doc_key, text in zip(documents["doc_id"], documents["text"]):
        did = corpus.doc_id_str(int(doc_key))
        for s in extract_doc(corpus.doc_spans(int(doc_key), text or "")):
            rows.append((did, s["kind"], s["text"], s["media_ref"], s["order"]))
    return pd.DataFrame(
        rows, columns=["doc_id", "kind", "text", "media_ref", "order"]
    )
