"""Checkpointed extraction sink over a NON-local Hadoop filesystem.

The deployment sink (`ledger.run_with_ledger`) claims resume-exactly
semantics on "any filesystem the cluster's Hadoop conf knows". The
sandbox has no HDFS/S3 endpoint, so this exercises the same contract
through Hadoop's ViewFileSystem (`viewfs://`) — a real production
federation connector shipped in hadoop-common whose paths are
NON-``file``-scheme URIs resolved via mount tables. Every probe that
special-cases local paths (`_parquet_nonempty`, `committed_buckets`)
must take its Hadoop-FS branch here; before `committed_buckets` grew
that branch, resume on a URI out_dir silently reprocessed all buckets
(reference behavior: the GCS output paths in the reference service,
src/api/main.py:1717-1847, are exactly such non-local URIs).
"""

from __future__ import annotations

import shutil
import tempfile
import threading

import pytest

from dd_ops_ocr_spark import corpus, incremental, ledger
from tests.conftest import SF_SMOKE

N_BUCKETS = 4
MOUNT = "viewfs://r5lake/warehouse"


@pytest.fixture(scope="module")
def viewfs_root(spark):
    """Mount viewfs://r5lake/warehouse onto a local tempdir via the
    runtime Hadoop conf (must happen before the first viewfs access —
    the JVM caches one ViewFileSystem per authority)."""
    backing = tempfile.mkdtemp(prefix="viewfs_backing_")
    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.r5lake.link./warehouse", f"file://{backing}"
    )
    yield MOUNT
    shutil.rmtree(backing, ignore_errors=True)


def test_parquet_probe_takes_hadoop_branch(spark, viewfs_root):
    missing = f"{viewfs_root}/nothing_here"
    assert ledger._parquet_nonempty(missing) is False
    spark.range(3).write.mode("overwrite").parquet(f"{viewfs_root}/probe_t")
    assert ledger._parquet_nonempty(f"{viewfs_root}/probe_t") is True


def test_probe_result_dirs_from_new_thread(spark, viewfs_root):
    """The Hadoop-FS probe must use the session it is handed: a fresh
    thread has no active session even while the main thread holds one,
    so a probe that falls back to getActiveSession() raises there."""
    cand = f"{viewfs_root}/probe_thread"
    spark.createDataFrame([("d1",), ("d2",)], "doc_id string") \
        .write.mode("overwrite").parquet(cand)
    out: dict = {}

    def probe():
        try:
            out["rows"] = sorted(
                tuple(r) for r in
                incremental.probe_result_dirs(spark, [cand]).collect()
            )
        except Exception as exc:  # re-raised on the main thread below
            out["error"] = exc

    t = threading.Thread(target=probe)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "probe thread did not finish"
    if "error" in out:
        raise out["error"]
    assert out["rows"] == [("d1", cand), ("d2", cand)]


def test_crash_and_resume_exact_on_viewfs(spark, viewfs_root):
    spans = corpus.build_spans_df(spark, SF_SMOKE).limit(200).cache()
    local_dir = tempfile.mkdtemp(prefix="ledger_local_ref_")
    out_dir = f"{viewfs_root}/extract_out"
    try:
        # uninterrupted local run = the equality reference
        ledger.run_with_ledger(spark, spans, local_dir, "ref",
                               n_buckets=N_BUCKETS)

        with pytest.raises(RuntimeError, match="injected failure"):
            ledger.run_with_ledger(spark, spans, out_dir, "run_a",
                                   n_buckets=N_BUCKETS, fail_after=2)
        # the committed set must be visible THROUGH the viewfs URI —
        # an os.path probe here returns set() and resume restarts from 0
        assert len(ledger.committed_buckets(spark, out_dir)) == 2

        summary = ledger.run_with_ledger(spark, spans, out_dir, "run_b",
                                         n_buckets=N_BUCKETS)
        assert summary["buckets_resumed_from"] == 2
        assert summary["buckets_processed"] == N_BUCKETS - 2

        cols = ["doc_id", "kind", "text", "media_ref", "order"]
        a = ledger.read_output(spark, local_dir).select(cols)
        b = ledger.read_output(spark, out_dir).select(cols)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

        led = ledger.read_ledger(spark, out_dir).toPandas()
        assert len(led) == N_BUCKETS
        assert led["spans_emitted"].sum() == a.count()
    finally:
        shutil.rmtree(local_dir, ignore_errors=True)
        spans.unpersist()
