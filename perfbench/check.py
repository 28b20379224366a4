"""Oracle checks for every output the benchmark's timed iterations wrote.

The pure functions (``check_docs``, ``check_sample``, ``check_media``) take
plain Python values, so the self-tests can feed them deliberately broken
outputs. ``collect_docs`` turns the written Spark outputs into those values.

A doc fails when its output is missing, has a missing, extra or duplicated
row, differs from the oracle (digest or exact rows), appears although it
should not, or - for a planted invalid doc - is not in the
quarantine output exactly once. A payload fails when its row is missing,
duplicated or any field differs from the expected geometry.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, functions as F

from perfbench.gen import output_digest


def row_hash_col() -> F.Column:
    """Spark twin of the per-row term of ``gen.output_digest``."""
    text = F.concat_ws(
        "\x02",
        F.col("order").cast("string"),
        F.col("kind"),
        F.coalesce(F.col("text"), F.lit("\x00")),
        F.coalesce(F.col("media_ref"), F.lit("\x00")),
    )
    return F.conv(F.substring(F.md5(text), 1, 12), 16, 10).cast("long")


def summarize(df: DataFrame) -> DataFrame:
    """Per (it, doc_id): row count, max order and digest."""
    return df.groupBy("it", "doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("order").alias("max_order"),
        F.sum(row_hash_col()).alias("digest"),
    )


def summarize_rows(rows: list[dict]) -> dict[str, tuple]:
    """Python twin of ``summarize`` for one iteration's output rows."""
    by_doc: dict[str, list[dict]] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    return {
        d: (len(rs), max(r["order"] for r in rs), output_digest(rs))
        for d, rs in by_doc.items()
    }


def check_docs(
    got: dict[str, tuple],
    expect: dict[str, tuple[str, int, int]],
    quarantined: list[str],
) -> set[str]:
    """Failed doc ids of one iteration.

    ``got``: doc_id -> (n, max_order, digest) of the output;
    ``expect``: doc_id -> (status, n_out, digest) from the oracle;
    ``quarantined``: doc ids in the quarantine output, one per row."""
    failed: set[str] = set()
    q = Counter(quarantined)
    for doc_id, (status, n_out, digest) in expect.items():
        if status != "valid":
            if q.get(doc_id, 0) != 1 or doc_id in got:
                failed.add(doc_id)
            continue
        if doc_id in q:
            failed.add(doc_id)
        g = got.get(doc_id)
        if n_out == 0:
            if g is not None:
                failed.add(doc_id)
        elif g != (n_out, n_out, digest):
            failed.add(doc_id)
    failed |= set(got) - set(expect)
    failed |= set(q) - set(expect)
    return failed


def check_sample(
    got_rows: dict[str, list[dict]], want_rows: dict[str, list[dict]]
) -> set[str]:
    """Sample docs whose output rows differ from the oracle's, exactly."""
    keys = ("kind", "text", "media_ref", "order")
    failed = set()
    for doc_id, want in want_rows.items():
        got = sorted(got_rows.get(doc_id, []), key=lambda r: r["order"])
        if [tuple(r[k] for k in keys) for r in got] != [
            tuple(r[k] for k in keys) for r in want
        ]:
            failed.add(doc_id)
    return failed


def check_totals(ledger: tuple[int, int], got: dict[str, tuple]) -> bool:
    """Ledger (docs, spans) sums equal the counts made from the output."""
    return ledger == (len(got), sum(g[0] for g in got.values()))


MEDIA_FIELDS = ("format", "n_bytes", "width", "height")


def check_media(
    got: list[tuple], expect: dict[str, tuple]
) -> set[str]:
    """Failed media refs of one iteration. ``got`` rows are
    (media_ref, format, n_bytes, width, height); ``expect`` maps a ref to
    the same four fields."""
    failed = set()
    count = Counter(r[0] for r in got)
    for ref, *fields in got:
        if count[ref] != 1 or expect.get(ref) != tuple(fields):
            failed.add(ref)
    failed |= set(expect) - set(count)
    return failed


# ------------------------------------------------------ Spark collection


def collect_docs(outputs: list[tuple[int, DataFrame]]) -> dict[int, dict]:
    """it -> {doc_id: summary} over every iteration's output."""
    union = None
    for it, df in outputs:
        part = df.select(
            F.lit(it).alias("it"), "doc_id", "kind", "text", "media_ref", "order"
        )
        union = part if union is None else union.unionByName(part)
    out: dict[int, dict] = {it: {} for it, _ in outputs}
    for r in summarize(union).collect():
        out[r["it"]][r["doc_id"]] = (r["n"], r["max_order"], r["digest"])
    return out
