"""Self-tests for the benchmark's generator, oracle checker and tracer.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
None of these start a Spark session.
"""

from __future__ import annotations

import io
import os
import sys
import time

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from dd_ops_ocr_spark import corpus, oracle  # noqa: E402
from perfbench import check, gen, run, trace  # noqa: E402

CFG = gen.DocConfig(n_docs=1000, tail_share=None)


def frame_bytes(df) -> bytes:
    buf = io.BytesIO()
    table = pa.Table.from_pandas(df, preserve_index=False)
    with pa.ipc.new_stream(buf, table.schema) as w:
        w.write_table(table)
    return buf.getvalue()


# ------------------------------------------------------------ generator


def test_generator_same_seed_is_byte_identical():
    a = gen.docs_frame(7, range(40), CFG)
    b = gen.docs_frame(7, range(40), CFG)
    assert frame_bytes(a) == frame_bytes(b)
    m = gen.MediaConfig(n_payloads=40)
    assert frame_bytes(gen.media_frame(gen.media_plan(7, m))) == frame_bytes(
        gen.media_frame(gen.media_plan(7, m))
    )


def test_generator_differs_across_seeds():
    assert frame_bytes(gen.docs_frame(7, range(40), CFG)) != frame_bytes(
        gen.docs_frame(8, range(40), CFG)
    )
    m = gen.MediaConfig(n_payloads=40)
    assert frame_bytes(gen.media_frame(gen.media_plan(7, m))) != frame_bytes(
        gen.media_frame(gen.media_plan(8, m))
    )


def test_media_plan_has_exact_count_and_shares():
    for seed in (1, 2, 3):
        plan = gen.media_plan(seed, gen.MediaConfig(n_payloads=400))
        assert len(plan) == 400 and plan["media_ref"].is_unique
        assert plan["format"].value_counts().to_dict() == {"jpeg": 200, "png": 100, "webp": 100}


def test_keys_are_distinct_and_tail_count_is_exact_per_seed():
    def tails(seed, cfg):
        keys = [gen.doc_key(seed, i, cfg) for i in range(2020)]
        assert len(set(keys)) == len(keys)
        return [i for i, k in enumerate(keys) if corpus.n_pages_for(k) == corpus.TAIL_PAGES]

    skewed = gen.DocConfig(n_docs=2020, tail_share=0.10)
    assert len(tails(3, skewed)) == len(tails(4, skewed)) == 202
    assert tails(3, skewed) != tails(4, skewed)
    assert len(tails(3, CFG)) == len(tails(9, CFG)) == 20


def test_planted_invalid_docs_are_at_known_indices():
    statuses = {}
    for i in range(CFG.n_docs):  # enough docs for every kind at 1%
        doc_id, spans, status, _ = gen.make_doc(11, i, CFG)
        statuses[i] = status
        if status == "null_spans":
            assert spans is None
        elif status == "empty_spans":
            assert spans == []
        elif status == "bad_offset":
            assert any(s["offset"] < 0 for s in spans)
    planted = [i for i, s in statuses.items() if s != "valid"]
    assert set(statuses.values()) == {"valid", *gen.INVALID_KINDS}
    assert 0.5 * gen.INVALID_PERMILLE <= len(planted) <= 2 * gen.INVALID_PERMILLE
    again = {i: gen.make_doc(11, i, CFG)[2] for i in range(CFG.n_docs)}
    assert again == statuses


def test_base_texts_are_the_bundled_sf01_texts():
    texts = gen.base_texts()
    assert len(texts) == 5000 and all(texts)
    picks = {gen.pick_text(3, i) for i in range(50)}
    assert len(picks) > 40 and picks != {gen.pick_text(4, i) for i in range(50)}


# -------------------------------------------------------------- checker


def oracle_output(seed: int, n: int):
    """(rows, expect, planted) for the first n docs of a seeded input."""
    rows, expect, planted = [], {}, []
    for i in range(n):
        doc_id, _spans, status, clean = gen.make_doc(seed, i, CFG)
        if status != "valid":
            expect[doc_id] = (status, 0, None)
            planted.append(doc_id)
            continue
        out = oracle.extract_doc(clean)
        expect[doc_id] = (status, len(out), gen.output_digest(out))
        rows += [{"doc_id": doc_id, **r} for r in out]
    return rows, expect, planted


@pytest.fixture(scope="module")
def clean():
    return oracle_output(11, 60)  # plants docs 36 and 39


def test_checker_accepts_the_oracle_output(clean):
    rows, expect, planted = clean
    assert planted
    assert check.check_docs(check.summarize_rows(rows), expect, planted) == set()


def test_checker_flags_mutated_text(clean):
    rows, expect, planted = clean
    bad = [dict(r) for r in rows]
    victim = next(r for r in bad if r["kind"] == "text")
    victim["text"] += "x"
    failed = check.check_docs(check.summarize_rows(bad), expect, planted)
    assert failed == {victim["doc_id"]}
    by_doc = {victim["doc_id"]: [r for r in bad if r["doc_id"] == victim["doc_id"]]}
    want = {victim["doc_id"]: [r for r in rows if r["doc_id"] == victim["doc_id"]]}
    assert check.check_sample(by_doc, want) == {victim["doc_id"]}


def test_checker_flags_swapped_order(clean):
    rows, expect, planted = clean
    bad = [dict(r) for r in rows]
    doc = bad[0]["doc_id"]
    first, second = [r for r in bad if r["doc_id"] == doc][:2]
    first["order"], second["order"] = second["order"], first["order"]
    assert check.check_docs(check.summarize_rows(bad), expect, planted) == {doc}


def test_checker_flags_duplicated_order(clean):
    rows, expect, planted = clean
    doc = rows[0]["doc_id"]
    bad = rows + [dict(rows[0])]
    assert check.check_docs(check.summarize_rows(bad), expect, planted) == {doc}


def test_checker_flags_dropped_doc(clean):
    rows, expect, planted = clean
    doc = rows[-1]["doc_id"]
    bad = [r for r in rows if r["doc_id"] != doc]
    assert check.check_docs(check.summarize_rows(bad), expect, planted) == {doc}


def test_checker_flags_extra_quarantine_row(clean):
    rows, expect, planted = clean
    got = check.summarize_rows(rows)
    valid_doc = rows[0]["doc_id"]
    assert check.check_docs(got, expect, planted + [valid_doc]) == {valid_doc}
    assert check.check_docs(got, expect, planted + [planted[0]]) == {planted[0]}
    assert check.check_docs(got, expect, planted + ["doc_unknown"]) == {"doc_unknown"}
    assert check.check_docs(got, expect, planted[1:]) == {planted[0]}


def test_checker_flags_ledger_sums():
    got = {"a": (3, 3, 11), "b": (2, 2, 12)}
    assert check.check_totals((2, 5), got)
    assert not check.check_totals((2, 4), got)
    assert not check.check_totals((3, 5), got)


def test_media_checker():
    expect = {"r1": ("jpeg", 10, 8, 6), "r2": ("png", 12, 9, 7)}
    good = [("r1", "jpeg", 10, 8, 6), ("r2", "png", 12, 9, 7)]
    assert check.check_media(good, expect) == set()
    assert check.check_media(good[:1], expect) == {"r2"}
    assert check.check_media(good + good[:1], expect) == {"r1"}
    assert check.check_media([("r1", "jpeg", 10, 9, 6), good[1]], expect) == {"r1"}


# ---------------------------------------------------------------- trace


def test_trace_spans_nest_and_self_times_sum_to_root():
    tr = trace.Tracer()
    with tr.span("root") as root:
        with tr.call("a"):
            time.sleep(0.01)
            with tr.call("a.inner"):
                time.sleep(0.01)
        time.sleep(0.005)
        with tr.call("b"):
            time.sleep(0.01)
    assert trace.check_nesting(tr.spans) == []
    selfs = trace.self_times(tr.spans)
    assert sum(selfs.values()) == pytest.approx(root["end"] - root["start"], abs=1e-9)
    assert selfs[root["id"]] >= 0.004
    assert [s["parent"] for s in tr.spans] == [None, 0, 1, 0]
    assert {s["run"] for s in tr.spans} == {"r0"}


def test_check_nesting_reports_escapes_and_overlaps():
    spans = [
        {"id": 0, "name": "root", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "name": "b", "parent": 0, "start": 4.0, "end": 11.0},
    ]
    errs = trace.check_nesting(spans)
    assert any("outside" in e for e in errs)
    assert any("overlaps" in e for e in errs)


def test_covered_merges_overlaps():
    assert trace.covered([(0, 2), (1, 3), (5, 6)]) == 4


def test_parse_metric_reads_status_store_strings():
    assert trace.parse_metric(
        "total (min, med, max (stageId: taskId))\n412.2 KiB (57.2 KiB, 73.0 KiB)"
    ) == pytest.approx(412.2 * 1024)
    assert trace.parse_metric(
        "total (min, med, max (stageId: taskId))\n7.3 s (1.7 s, 1.8 s, 1.9 s)"
    ) == pytest.approx(7.3)
    assert trace.parse_metric("9,548") == 9548


def test_summary_reports_tail_with_ten_samples_beyond():
    vals = [float(v) for v in range(1, 21)]  # 20 samples
    s = run.summary(vals, higher_is_better=False)
    assert s["n"] == 20 and s["median"] == 10.5
    assert s["p50"] == 10.0  # ten samples are above 10
    s = run.summary(vals, higher_is_better=True)
    assert s["p50"] == 11.0  # ten samples are below 11
    assert set(run.summary(vals[:10], True)) == {"median", "n"}
