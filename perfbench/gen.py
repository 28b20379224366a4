"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of ``(seed, index)``: the seed picks the
doc keys, the base texts, which docs are planted invalid and which media
payloads are drawn, so the same seed always lands the same tables. The
span content itself comes from the package's own corpus generator
(``corpus.doc_spans``) and payload synthesizers (``operators.multimodal``).
The base texts are the ``text`` column of the sf0.1 ``documents`` table
(TESTDATA.md), bundled in ``data/sf0.1_texts.txt.gz`` (one text per line,
in ``doc_id`` order) so that the benchmark reads nothing outside its
checkout.

Landing writes two parquet tables per workload, before any Spark session
exists, so landing leaves no JIT-compiled code or Python worker behind for
the measured session to inherit:

* ``input``  - what the program under test reads, and nothing else;
* ``expect`` - the oracle's answer per doc or payload, computed at landing
  time from the pure-Python oracle (``oracle.extract_doc``) or the md5
  geometry (``multimodal.synth_geometry``), never from the code under test.
"""

from __future__ import annotations

import functools
import gzip
import hashlib
import os
import shutil
import time
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dd_ops_ocr_spark import corpus, oracle
from dd_ops_ocr_spark.corpus import TAIL_MOD, TAIL_PAGES, TAIL_RESIDUE, rng

# Bump when anything below changes the landed bytes for the same seed;
# the landing cache keys on it together with corpus.GENERATOR_VERSION.
BENCH_GEN_VERSION = 2

TEXTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1_texts.txt.gz")

INVALID_KINDS = ("null_spans", "empty_spans", "bad_offset")
INVALID_PERMILLE = 10  # planted invalid docs per 1000 non-tail docs
# media_decode's format mix: 50% baseline JPEG, 25% PNG, 25% lossless WebP
MEDIA_SHARES = (("jpeg", 2), ("png", 1), ("webp", 1))

# Salt constants that keep the draws below independent of each other.
_S_RESIDUE, _S_TAIL, _S_BAD, _S_BADKIND, _S_BADPOS, _S_PICK = range(102, 108)
_S_FMT, _S_SAMPLE = 201, 202

PARTITIONS = 4  # files per landed input table


@dataclass(frozen=True)
class DocConfig:
    """Shape of a span-workload input."""

    n_docs: int
    tail_share: float | None  # None: the corpus's natural 1/101


@dataclass(frozen=True)
class MediaConfig:
    """Shape of the media_decode input: payloads for the first
    ``n_payloads`` media refs of the seeded corpus docs, in the exact
    format shares of ``MEDIA_SHARES``."""

    n_payloads: int


@functools.lru_cache(maxsize=1)
def base_texts() -> tuple[str, ...]:
    """The sf0.1 documents' texts; a doc's base text is a seeded pick."""
    with gzip.open(TEXTS, "rt", encoding="utf-8") as f:
        return tuple(f.read().splitlines())


def pick_text(seed: int, i: int) -> str:
    texts = base_texts()
    return texts[rng(seed, _S_PICK, i) % len(texts)]


def doc_key(seed: int, i: int, cfg: DocConfig) -> int:
    """Distinct key per (seed, i). Every ``period``-th doc from a seeded
    offset is a tail doc (residue TAIL_RESIDUE mod TAIL_MOD, so
    ``corpus.n_pages_for`` gives it TAIL_PAGES pages) and no other doc is,
    so every seed lands the same amount of work."""
    block = (seed % 100_000) * 1_000_000 + i
    share = cfg.tail_share if cfg.tail_share is not None else 1 / TAIL_MOD
    period = round(1 / share)
    if (i + rng(seed, _S_TAIL) % period) % period == 0:
        return block * TAIL_MOD + TAIL_RESIDUE
    residue = rng(seed, _S_RESIDUE, i) % (TAIL_MOD - 1)
    residue += residue >= TAIL_RESIDUE  # skip the tail residue
    return block * TAIL_MOD + residue


def doc_status(seed: int, i: int, key: int) -> str:
    """'valid' or the planted invalid class. Tail docs are never planted."""
    if corpus.n_pages_for(key) == TAIL_PAGES:
        return "valid"
    if rng(seed, _S_BAD, i) % 1000 < INVALID_PERMILLE:
        return INVALID_KINDS[rng(seed, _S_BADKIND, i) % len(INVALID_KINDS)]
    return "valid"


def make_doc(seed: int, i: int, cfg: DocConfig):
    """(doc_id, spans or None, status, clean spans) for doc ``i``; the clean
    spans are what the oracle sees for a valid doc."""
    key = doc_key(seed, i, cfg)
    status = doc_status(seed, i, key)
    spans = corpus.doc_spans(key, pick_text(seed, i))
    doc_id = corpus.doc_id_str(key)
    if status == "null_spans":
        return doc_id, None, status, spans
    if status == "empty_spans":
        return doc_id, [], status, spans
    if status == "bad_offset":
        bad = [dict(s) for s in spans]
        bad[rng(seed, _S_BADPOS, i) % len(bad)]["offset"] = -1
        return doc_id, bad, status, spans
    return doc_id, spans, status, spans


def row_text(r: dict) -> str:
    """One output row as text; ``check.row_hash_col`` builds the same."""
    return "\x02".join(
        (
            str(r["order"]),
            r["kind"],
            "\x00" if r["text"] is None else r["text"],
            "\x00" if r["media_ref"] is None else r["media_ref"],
        )
    )


def output_digest(rows: list[dict]) -> int:
    """Sum of the rows' 48-bit md5 prefixes: equal for equal multisets of
    (order, kind, text, media_ref) rows, and cheap to aggregate in Spark
    (``check.summarize``) without collecting or sorting a doc's rows."""
    return sum(
        int(hashlib.md5(row_text(r).encode("utf-8")).hexdigest()[:12], 16)
        for r in rows
    )


DOC_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))),
    ("idx", pa.int64()),
    ("status", pa.string()),
    ("n_pages", pa.int32()),
    ("n_out", pa.int64()),
    ("digest", pa.int64()),
])


def docs_frame(seed: int, idx, cfg: DocConfig) -> pd.DataFrame:
    """The landed rows for doc indices ``idx`` (input and oracle columns)."""
    rows = []
    for i in idx:
        doc_id, spans, status, clean = make_doc(seed, int(i), cfg)
        if status == "valid":
            out = oracle.extract_doc(clean)
            n_out, digest = len(out), output_digest(out)
        else:
            n_out, digest = 0, 0  # no output: the empty digest
        pages = len({s["offset"] // corpus.STRIDE for s in clean})
        rows.append((doc_id, int(i), spans, status, pages, n_out, digest))
    return pd.DataFrame(
        rows,
        columns=["doc_id", "idx", "spans", "status", "n_pages", "n_out", "digest"],
    )


def sample_indices(seed: int, n: int, k: int) -> list[int]:
    """Seeded sample of doc indices (the exact-compare sample)."""
    return sorted({rng(seed, _S_SAMPLE, j) % n for j in range(k)})


MEDIA_SCHEMA = pa.schema([
    ("media_ref", pa.string()),
    ("payload", pa.binary()),
    ("format", pa.string()),
    ("n_bytes", pa.int64()),
    ("width", pa.int32()),
    ("height", pa.int32()),
])


def make_payload(fmt: str, ref: str) -> bytes:
    from dd_ops_ocr_spark.operators import multimodal as mm

    return {
        "jpeg": mm.synth_jpeg_payload,
        "png": mm.synth_png_payload,
        "webp": mm.synth_webp_payload,
    }[fmt](ref)


def media_plan(seed: int, cfg: MediaConfig) -> pd.DataFrame:
    """(media_ref, format) for the first ``n_payloads`` media refs of the
    seeded corpus docs (natural tail share). Formats go by position in a
    seeded permutation, so each format's share is exact for every seed."""
    dcfg = DocConfig(n_docs=0, tail_share=None)
    refs: list[str] = []
    i = 0
    while len(refs) < cfg.n_payloads:
        key = doc_key(seed, i, dcfg)
        spans = corpus.doc_spans(key, pick_text(seed, i))
        refs += sorted(s["media_ref"] for s in spans if s["kind"] == "media")
        i += 1
    refs = refs[: cfg.n_payloads]
    order = sorted(
        range(len(refs)),
        key=lambda j: rng(seed, _S_FMT, int(hashlib.md5(refs[j].encode()).hexdigest()[:15], 16)),
    )
    total = sum(w for _, w in MEDIA_SHARES)
    slots = [fmt for fmt, w in MEDIA_SHARES for _ in range(w)]
    fmts = [""] * len(refs)
    for pos, j in enumerate(order):
        fmts[j] = slots[pos * total // len(refs)]
    return pd.DataFrame({"media_ref": refs, "format": fmts})


def media_frame(plan: pd.DataFrame) -> pd.DataFrame:
    """The landed rows (input and oracle columns) for planned payloads."""
    from dd_ops_ocr_spark.operators import multimodal as mm

    payloads = [make_payload(f, r) for r, f in zip(plan["media_ref"], plan["format"])]
    dims = [mm.synth_geometry(r) for r in plan["media_ref"]]
    return pd.DataFrame({
        "media_ref": plan["media_ref"].to_numpy(),
        "payload": payloads,
        "format": plan["format"].to_numpy(),
        "n_bytes": [len(p) for p in payloads],
        "width": [w for w, _ in dims],
        "height": [h for _, h in dims],
    })


# ------------------------------------------------------------------ landing


def cache_key(workload: str, seed: int, cfg) -> str:
    """Landing-cache key: workload, seed, both generator versions and the
    workload's input shape."""
    shape = hashlib.md5(repr(cfg).encode()).hexdigest()[:8]
    return (
        f"{workload}-s{seed}-c{corpus.GENERATOR_VERSION}"
        f"-b{BENCH_GEN_VERSION}-{shape}"
    )


def write_table(df: pd.DataFrame, schema: pa.Schema, path: str, parts: int) -> None:
    """Write ``df``'s columns in ``schema`` as ``parts`` parquet files of
    contiguous rows, the layout a Spark write of ``spark.range`` in
    ``parts`` slices gives."""
    os.makedirs(path)
    bounds = [len(df) * k // parts for k in range(parts + 1)]
    for k in range(parts):
        part = df.iloc[bounds[k]:bounds[k + 1]][schema.names]
        table = pa.Table.from_pandas(part, schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


def land(cache_root: str, workload: str, seed: int, cfg) -> tuple[str, float, bool]:
    """Land (or reuse) the workload's input and oracle tables.

    Returns ``(dir, seconds, cached)``; ``dir/input`` is what the program
    reads, ``dir/expect`` the oracle's answer. A ``_DONE`` file marks a
    complete landing, so an interrupted one is redone, never reused."""
    path = os.path.join(cache_root, cache_key(workload, seed, cfg))
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        return path, 0.0, True
    t0 = time.perf_counter()
    shutil.rmtree(path, ignore_errors=True)
    if isinstance(cfg, MediaConfig):
        full, schema = media_frame(media_plan(seed, cfg)), MEDIA_SCHEMA
    else:
        full, schema = docs_frame(seed, range(cfg.n_docs), cfg), DOC_SCHEMA
    # the first two columns are the program's input, the rest (and the
    # key) the oracle's answer
    key, data = schema.field(0), schema.field(1)
    write_table(full, pa.schema([key, data]), os.path.join(path, "input"), PARTITIONS)
    write_table(full, schema.remove(1), os.path.join(path, "expect"), 1)
    with open(done, "w") as f:
        f.write(repr(cfg) + "\n")
    return path, time.perf_counter() - t0, False
