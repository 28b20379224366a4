"""The workloads: what each one lands, calls, times and checks.

Every workload runs its calls through the package's public entry points
only. One ``iteration`` is one production-shaped run over the landed input
into a fresh output directory, on DataFrames built anew for that iteration,
with every output column consumed by a real write. A traced iteration runs
the iteration under the tracer, then the layer probes: the same input
through fewer layers into Spark's ``noop`` sink.
"""

from __future__ import annotations

import os
import time

import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import functions as F

from dd_ops_ocr_spark import catalog, corpus, ledger, oracle, pipeline, sources
from dd_ops_ocr_spark.operators import multimodal
from dd_ops_ocr_spark.plans.salting import extract_salted
from dd_ops_ocr_spark.schema import SPANS_SCHEMA

from perfbench import check, gen
from perfbench.trace import Tracer, covered, node_metrics

OUT_COLS = ["doc_id", "kind", "text", "media_ref", "order"]
SAMPLE_DOCS = 12
SAMPLE_TAIL_DOCS = 4
SAMPLE_PAYLOADS = 24


def noop(df) -> None:
    """Consume every column without keeping the rows."""
    df.write.format("noop").mode("overwrite").save()


def dir_files(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, checksum files excluded."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if not name.startswith("."):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size


def parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def read_expect(data_dir: str) -> list[dict]:
    return pads.dataset(os.path.join(data_dir, "expect")).to_table().to_pylist()


# ------------------------------------------------------ metric helpers


def call_stages(tr: Tracer, spans: list[dict]) -> list[dict]:
    return [st for s in spans for job in tr.jobs_under(s["id"]) for st in job["stages"]]


def stage_sum(stages: list[dict], key: str) -> float:
    return float(sum(st[key] for st in stages))


def task_ratio(stages: list[dict]) -> float:
    """max/median task time of the busiest stage among ``stages``."""
    busy = [st for st in stages if st["task_median_s"] > 0]
    if not busy:
        return 0.0
    st = max(busy, key=lambda s: s["run_s"])
    return st["task_max_s"] / st["task_median_s"]


PYTHON_NODES = ("MapInArrow", "MapInPandas")
SCAN_NODES = ("Scan parquet",)


def sql_metrics(tr: Tracer, span: dict, prefixes: tuple[str, ...]) -> dict[str, float]:
    """SQL metrics of the matching plan nodes, summed over the call's
    executions. Scan bytes come from here, not from the stages' input
    metrics, which miss reads made on a Python node's feeder thread."""
    out: dict[str, float] = {}
    for e in span["attrs"].get("sql", []):
        for k, v in node_metrics(tr.spark, e["execution_id"], prefixes).items():
            out[k] = out.get(k, 0.0) + v
    return out


def scan_bytes(tr: Tracer, span: dict) -> float:
    return sql_metrics(tr, span, SCAN_NODES).get("size of files read", 0.0)


def dur(span: dict) -> float:
    return span["end"] - span["start"]


# ------------------------------------------------------------ span jobs


class SpanJob:
    """``jobs/extract_job.py``'s default path: read_spans -> split_valid ->
    ledger.run_one_pass(extractor) -> quarantine write."""

    unit = "docs"
    # at these input sizes each bucket adds a fixed commit cost, not
    # extract work, so fewer buckets than the job's 64 keep iterations short
    buckets = 8

    def __init__(self, cfg: gen.DocConfig, salted: bool,
                 nominal_iteration_s: float, warmup: int = 2,
                 resume_buckets: int = 0):
        self.cfg = cfg
        self.salted = salted
        self.nominal_iteration_s = nominal_iteration_s
        self.warmup = warmup
        self.resume_buckets = resume_buckets  # 0: no resume probe

    # -- the program's extractor for this workload
    def extractor(self, df):
        return extract_salted(df) if self.salted else pipeline.extract(df)

    def tiny_rows(self) -> list[tuple]:
        keys = [1, 2, corpus.TAIL_RESIDUE if self.salted else 3]
        rows = [(corpus.doc_id_str(k), corpus.doc_spans(k, "")) for k in keys]
        return rows + [("doc_tiny_bad", [])]

    def tiny(self, spark, work: str) -> None:
        src = spark.createDataFrame(self.tiny_rows(), SPANS_SCHEMA)
        valid, quar = sources.split_valid(src)
        ledger.run_one_pass(
            spark, valid, f"{work}/out", "tiny", n_buckets=4,
            extractor=self.extractor,
        )
        quar.write.mode("overwrite").parquet(f"{work}/out/quarantine")

    def prepare(self, data_dir: str, seed: int) -> None:
        self.seed = seed
        self.input = os.path.join(data_dir, "input")
        self._expect_rows = read_expect(data_dir)
        self.expect = {
            r["doc_id"]: (r["status"], r["n_out"], r["digest"])
            for r in self._expect_rows
        }
        self.n_docs = len(self.expect)
        self.n_items = sum(
            1 for s, n, _ in self.expect.values() if s == "valid" and n > 0
        )
        self.source_bytes = parquet_bytes(self.input)

    # -- one run
    def iteration(self, spark, out: str, tr: Tracer, it: int) -> dict:
        with tr.span("job") as job:
            with tr.call("sources.read_spans"):
                src = sources.read_spans(spark, self.input)
            with tr.call("sources.split_valid"):
                valid, quar = sources.split_valid(src)
            with tr.call("ledger.run_one_pass"):
                summary = ledger.run_one_pass(
                    spark, valid, out, f"it{it}", n_buckets=self.buckets,
                    extractor=self.extractor,
                )
            with tr.call("sources.quarantine_write"):
                quar.write.mode("overwrite").parquet(f"{out}/quarantine")
        ok = summary["buckets_processed"] == self.buckets
        return {"it": it, "out": out, "wall_s": dur(job), "items": self.n_items,
                "ok": ok, "job_span": job["id"]}

    def output(self, spark, rec: dict):
        return spark.read.parquet(f"{rec['out']}/data").select(*OUT_COLS)

    def sample_output(self, rec: dict, doc_ids: list[str]) -> list[dict]:
        return (
            pads.dataset(f"{rec['out']}/data", partitioning="hive")
            .to_table(columns=OUT_COLS, filter=pc.field("doc_id").isin(doc_ids))
            .to_pylist()
        )

    def ledger_totals(self, rec: dict) -> tuple[int, int]:
        t = pads.dataset(f"{rec['out']}/ledger", partitioning="hive").to_table(
            columns=["docs", "spans_emitted"]
        )
        return int(pc.sum(t["docs"]).as_py() or 0), int(pc.sum(t["spans_emitted"]).as_py() or 0)

    # -- layer probes (traced iterations only)
    @property
    def extract_layer(self) -> str:
        return "salting.extract_salted" if self.salted else "pipeline.extract"

    def probes(self, spark, tr: Tracer, rec: dict) -> None:
        with tr.call("sources.scan"):
            noop(sources.split_valid(sources.read_spans(spark, self.input))[0])
        with tr.call(self.extract_layer):
            valid, _ = sources.split_valid(sources.read_spans(spark, self.input))
            noop(self.extractor(valid))
        if self.resume_buckets:
            self.resume_probe(spark, tr, rec)

    def resume_probe(self, spark, tr: Tracer, rec: dict) -> None:
        """``extract_job.py --snapshots`` through a crash: the first call
        dies after half the buckets, a second call on fresh DataFrames
        resumes to completion, then the committed table is read back."""
        table = f"{rec['out']}/table"
        n, half = self.resume_buckets, self.resume_buckets // 2
        with tr.call("ledger.run_with_snapshots.crash"):
            valid, _ = sources.split_valid(sources.read_spans(spark, self.input))
            try:
                ledger.run_with_snapshots(
                    spark, valid, table, f"it{rec['it']}a", n_buckets=n,
                    fail_after=half,
                )
            except RuntimeError as exc:
                if "injected failure" not in str(exc):
                    raise
        committed = len(catalog.snapshots(table))
        with tr.call("ledger.run_with_snapshots.resume"):
            valid, _ = sources.split_valid(sources.read_spans(spark, self.input))
            summary = ledger.run_with_snapshots(
                spark, valid, table, f"it{rec['it']}b", n_buckets=n
            )
        with tr.call("catalog.read_table"):
            noop(catalog.read_table(spark, table))
        rec["resume"] = {
            "table": table,
            "uncommitted_at_crash": n - committed,
            "reprocessed": summary["buckets_processed"],
            "ok": committed == half
            and summary["buckets_resumed_from"] == half
            and summary["buckets_processed"] == n - half,
        }

    def job_metrics(self, tr: Tracer, rec: dict) -> dict[str, float]:
        """ledger.* and the quarantine count of one traced iteration."""
        led = tr.find("ledger.run_one_pass")[0]
        sql = sorted(led["attrs"].get("sql", []), key=lambda e: e["execution_id"])
        files, size = map(sum, zip(*(dir_files(f"{rec['out']}/{d}") for d in ("data", "ledger"))))
        m = {
            "ledger.job_s": dur(led),
            "ledger.files_written": float(files),
            "ledger.bytes_written": float(size),
            "sources.docs_quarantined": float(
                pads.dataset(f"{rec['out']}/quarantine").count_rows()
            ),
        }
        if sql and sql[-1]["end"] is not None:
            m["ledger.commit_agg_s"] = sql[-1]["end"] - sql[-1]["start"]
        return m

    def probe_metrics(self, tr: Tracer, rec: dict, job: dict[str, float]) -> dict[str, float]:
        """sources.*, pipeline.* or salting.*, and the resume probe's
        ledger.* and catalog.*; ``job`` holds the traced iterations'
        medians, which the sink's share is computed against."""
        scan = tr.find("sources.scan")[0]
        ext = tr.find(self.extract_layer)[0]
        stages = call_stages(tr, [ext])
        py = sql_metrics(tr, ext, PYTHON_NODES)
        m = {
            "sources.scan_s": dur(scan),
            "sources.input_bytes": scan_bytes(tr, scan),
            "ledger.sink_commit_s": job["ledger.job_s"] - dur(ext),
            "spark.cpu_s_per_doc": job["spark.tree_cpu_s"] / self.n_items,
        }
        if self.salted:
            shuffled = [s for s in stages
                        if s["shuffle_write_bytes"] or s["shuffle_read_bytes"]]
            m["salting.extract_s"] = dur(ext)
            m["salting.shuffle_write_bytes"] = stage_sum(stages, "shuffle_write_bytes")
            m["salting.shuffle_read_bytes"] = stage_sum(stages, "shuffle_read_bytes")
            m["salting.task_max_over_median"] = task_ratio(shuffled)
            m["salting.python_s"] = py.get("time to run Python workers", 0.0)
        else:
            m["pipeline.extract_s"] = dur(ext)
            m["pipeline.kernel_s"] = dur(ext) - dur(scan)
            m["pipeline.arrow_bytes_in"] = py.get("data sent to Python workers", 0.0)
            m["pipeline.arrow_bytes_out"] = py.get("data returned from Python workers", 0.0)
            m["pipeline.python_s"] = py.get("time to run Python workers", 0.0)
            m["pipeline.task_max_over_median"] = task_ratio(stages)
        if "resume" in rec:
            resume = tr.find("ledger.run_with_snapshots.resume")[0]
            jobs = [(s["start"], s["end"]) for s in tr.children(resume["id"])]
            m.update({
                "ledger.resume_s": dur(resume),
                "ledger.buckets_reprocessed": float(rec["resume"]["reprocessed"]),
                "ledger.scan_amplification": scan_bytes(tr, resume) / self.source_bytes,
                "catalog.driver_gap_s": dur(resume) - covered(jobs),
                "catalog.snapshots": float(len(catalog.snapshots(rec["resume"]["table"]))),
                "catalog.read_s": dur(tr.find("catalog.read_table")[0]),
            })
        return m

    # -- correctness
    def sample_rows(self) -> dict[str, list[dict]]:
        """Oracle rows for a seeded sample of valid docs plus tail docs."""
        seed = self.seed
        valid = [r for r in self._expect_rows if r["status"] == "valid"]
        idx = {valid[i]["idx"] for i in gen.sample_indices(seed, len(valid), SAMPLE_DOCS)}
        tails = sorted(
            (r for r in valid if r["n_pages"] >= corpus.TAIL_PAGES),
            key=lambda r: r["doc_id"],
        )
        idx |= {r["idx"] for r in tails[:SAMPLE_TAIL_DOCS]}
        out = {}
        for i in sorted(idx):
            doc_id, _spans, _status, clean = gen.make_doc(seed, i, self.cfg)
            out[doc_id] = oracle.extract_doc(clean)
        return out

    def check(self, spark, recs: list[dict]) -> tuple[int, int, list[str]]:
        """(attempted, failed, problems) over every output written: each
        iteration's ledger output and, where a resume probe ran, its
        committed snapshot table."""
        problems: list[str] = []
        outputs = []  # (key, rec, output DataFrame, ledger totals, summary ok)
        for r in recs:
            outputs.append((str(r["it"]), r, self.output(spark, r), self.ledger_totals(r), r["ok"]))
            if "resume" in r:
                res = r["resume"]
                outputs.append((
                    f"{r['it']}r", r,
                    catalog.read_table(spark, res["table"]).select(*OUT_COLS),
                    snapshot_totals(res["table"]),
                    res["ok"] and res["reprocessed"] == res["uncommitted_at_crash"],
                ))
        got = check.collect_docs([(key, df) for key, _, df, _, _ in outputs])
        failed = 0
        for key, r, _, totals, ok in outputs:
            quar = pads.dataset(f"{r['out']}/quarantine").to_table(columns=["doc_id"])
            bad = check.check_docs(got[key], self.expect, quar["doc_id"].to_pylist())
            if not ok:
                problems.append(f"it{key}: bucket summary mismatch")
                bad = set(self.expect)
            elif not check.check_totals(totals, got[key]):
                problems.append(f"it{key}: ledger sums differ from output")
                bad = set(self.expect)
            failed += len(bad)
        want = self.sample_rows()
        by_doc: dict[str, list[dict]] = {}
        for row in self.sample_output(recs[-1], list(want)):
            by_doc.setdefault(row["doc_id"], []).append(row)
        bad_sample = check.check_sample(by_doc, want)
        if bad_sample:
            problems.append(f"sample docs differ from oracle: {sorted(bad_sample)[:5]}")
            failed += len(bad_sample)
        return self.n_docs * len(outputs), failed, problems


def snapshot_totals(table: str) -> tuple[int, int]:
    """(docs, spans) summed over the snapshot properties of a table."""
    props = [s.get("properties", {}) for s in catalog.snapshots(table)]
    return (
        sum(int(p.get("docs", 0)) for p in props),
        sum(int(p.get("spans_emitted", 0)) for p in props),
    )


# ---------------------------------------------------------- media decode


class MediaDecode:
    """``operators.multimodal.media_metadata`` with its default decoder over
    baseline JPEG, PNG and lossless WebP thumbnails."""

    unit = "payloads"

    def __init__(self, cfg: gen.MediaConfig, nominal_iteration_s: float):
        self.cfg = cfg
        self.nominal_iteration_s = nominal_iteration_s
        # after two warm-ups, iterations still got ~6% faster each, for
        # three more; they are cheap, so warm up four times
        self.warmup = 4

    def tiny(self, spark, work: str) -> None:
        rows = [(f"img_tiny_{f}", gen.make_payload(f, f"img_tiny_{f}"))
                for f in ("jpeg", "png", "webp")]
        df = spark.createDataFrame(rows, "media_ref string, payload binary")
        multimodal.media_metadata(df).write.mode("overwrite").parquet(f"{work}/meta")

    def prepare(self, data_dir: str, seed: int) -> None:
        self.seed = seed
        self.input = os.path.join(data_dir, "input")
        rows = read_expect(data_dir)
        self.expect = {
            r["media_ref"]: tuple(r[k] for k in check.MEDIA_FIELDS) for r in rows
        }
        self.n_items = len(rows)
        self.mpx = sum(r["width"] * r["height"] for r in rows) / 1e6

    def iteration(self, spark, out: str, tr: Tracer, it: int) -> dict:
        with tr.span("job") as job:
            with tr.call("multimodal.media_metadata") as call:
                df = spark.read.parquet(self.input)
                multimodal.media_metadata(df).write.parquet(f"{out}/meta")
        return {"it": it, "out": out, "wall_s": dur(job), "items": self.n_items,
                "mpx": self.mpx, "ok": True, "job_span": job["id"],
                "call_span": call["id"]}

    def job_metrics(self, tr: Tracer, rec: dict) -> dict[str, float]:
        call = tr.spans[rec["call_span"]]
        py = sql_metrics(tr, call, PYTHON_NODES)
        return {
            "multimodal.metadata_s": dur(call),
            "multimodal.python_s": py.get("time to run Python workers", 0.0),
        }

    def probes(self, spark, tr: Tracer, rec: dict) -> None:
        with tr.call("codecs.decode_images_batch"):
            self.codecs = codec_ms()

    def probe_metrics(self, tr: Tracer, rec: dict, job: dict[str, float]) -> dict[str, float]:
        return self.codecs

    def check(self, spark, recs: list[dict]) -> tuple[int, int, list[str]]:
        problems: list[str] = []
        failed = 0
        for r in recs:
            t = pads.dataset(f"{r['out']}/meta").to_table(
                columns=["media_ref", *check.MEDIA_FIELDS]
            )
            rows = list(zip(*(t[c].to_pylist() for c in t.column_names)))
            failed += len(check.check_media(rows, self.expect))
        # phash on a seeded sample against the serial oracle decoder
        refs = sorted(self.expect)
        sample = [refs[i] for i in gen.sample_indices(self.seed, len(refs), SAMPLE_PAYLOADS)]
        t = pads.dataset(f"{recs[-1]['out']}/meta").to_table(
            columns=["media_ref", "phash"], filter=pc.field("media_ref").isin(sample)
        )
        ph = dict(zip(t["media_ref"].to_pylist(), t["phash"].to_pylist()))
        for ref in sample:
            want = multimodal.ahash64(
                multimodal.decode_image(gen.make_payload(self.expect[ref][0], ref))
            )
            if ph.get(ref) != want:
                failed += 1
                problems.append(f"phash differs for {ref}")
        return self.n_items * len(recs), failed, problems


def codec_ms() -> dict[str, float]:
    """Per-payload single-core ``decode_images_batch`` time on a fixed
    sample (independent of the seed) for each codec, in ms."""
    from dd_ops_ocr_spark.operators import jpeg

    out = {}
    refs = [f"img_{k}_0_{i}" for k in range(16) for i in range(4)]
    for fmt in ("jpeg", "png", "webp"):
        payloads = [gen.make_payload(fmt, r) for r in refs]
        multimodal.decode_images_batch(payloads[:2])  # warm caches
        t0 = time.perf_counter()
        multimodal.decode_images_batch(payloads)
        out[f"codecs.{fmt}_ms"] = 1e3 * (time.perf_counter() - t0) / len(payloads)
    page = jpeg.encode_jpeg(multimodal.synth_page_pixels(), quality=95)
    t0 = time.perf_counter()
    multimodal.decode_images_batch([page])
    out["codecs.jpeg_page_ms"] = 1e3 * (time.perf_counter() - t0)
    return out


# nominal_iteration_s: one timed iteration's wall time on the 4-core host
# the benchmark was calibrated on. A run times round(--seconds / nominal)
# iterations after ``warmup`` untimed ones, so every run, on either side of
# a comparison, samples the same stretch of the warm-up curve. job_nested's
# first iteration after two warm-ups still ran 10-40% slower than its last,
# so it warms up three times. n_docs is a multiple of the tail period, so
# every seed lands the same number of tail docs.
WORKLOADS = {
    "job_nested": lambda: SpanJob(
        gen.DocConfig(n_docs=1010, tail_share=None), salted=False,
        nominal_iteration_s=2.4, warmup=3, resume_buckets=4,
    ),
    "job_skewed": lambda: SpanJob(
        gen.DocConfig(n_docs=200, tail_share=0.10), salted=True,
        nominal_iteration_s=3.9,
    ),
    "media_decode": lambda: MediaDecode(
        gen.MediaConfig(n_payloads=5000), nominal_iteration_s=1.9
    ),
}
