"""dd_ops_ocr_spark — a PySpark-native interleaved-document extraction engine.

A from-scratch reimplementation of the *capabilities* of the reference
OCR pre-processing + extraction pipeline (y2d2dev/dd-ops-ocr), re-expressed
Spark-first: the per-document asyncio/cloud-service loop becomes a single
declarative DataFrame program whose heavy kernels are vectorized
pandas/Arrow UDFs over span arrays.

Graded contract (BASELINE.json):
  input  (doc_id: string, spans: array<struct<kind,text,media_ref,offset:int>>)
  output per-doc span sequence (kind, text, media_ref, order) —
  exact equality vs the deterministic oracle in ``dd_ops_ocr_spark.oracle``.
"""

__version__ = "0.1.0"

from dd_ops_ocr_spark.schema import (  # noqa: F401
    PAGE_W,
    PAGE_H,
    STRIDE,
    SPANS_SCHEMA,
    OUT_SPANS_SCHEMA,
)

# Every worker that unpickles a package kernel imports the package, so
# installing here covers every Python task after a worker's first.
from dd_ops_ocr_spark import worker_zipcache as _worker_zipcache  # noqa: E402

_worker_zipcache.install()
