"""SHA-256 of every output column of the flagship Arrow kernels, Spark-free.

Feeds a corpus tier's documents through ``pipeline._run_arrow`` and
through the salted kernel pair (``_bucketize_kernel`` then
``_rank_kernel``, at ``pages_per_bucket`` 25 and 7) in nested Arrow
batches of 512 docs, the batch size the jobs configure, and prints one
JSON line with the row count and a digest of each output column per
kernel. Two source trees whose lines match produce byte-identical output
on that input.

    python3 tools/kernel_digest.py --sf /path/to/sf0.1
    python3 tools/kernel_digest.py --sf /path/to/sf0.1 --against ../other-tree

``--root`` picks the tree whose package is imported (default: this one);
``--against`` also runs the other tree in a subprocess and exits 1 unless
every digest matches.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import pathlib
import subprocess
import sys

_HERE = pathlib.Path(__file__).resolve().parent.parent
BATCH_DOCS = 512  # the Arrow batch size the jobs configure
PPBS = (25, 7)  # pages_per_bucket values the salted pair runs at


def _batches(sf_dir: str):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from dd_ops_ocr_spark import corpus
    from dd_ops_ocr_spark.schema import SPANS_SCHEMA

    schema = to_arrow_schema(SPANS_SCHEMA)
    docs = pq.read_table(f"{sf_dir}/documents.parquet",
                         columns=["doc_id", "text"]).to_pandas()
    for lo in range(0, len(docs), BATCH_DOCS):
        yield pa.RecordBatch.from_pandas(
            corpus.spans_pandas(docs.iloc[lo:lo + BATCH_DOCS]),
            schema=schema, preserve_index=False,
        )


def _digest(outs) -> dict:
    hashes = {}
    rows = 0
    for out in outs:
        rows += out.num_rows
        for name, col in zip(out.schema.names, out.columns):
            h = hashes.setdefault(name, hashlib.sha256())
            for v in col.to_pylist():
                h.update(b"\0" if v is None else b"\1" + repr(v).encode() + b"\0")
    return {"rows": rows, **{k: h.hexdigest() for k, h in hashes.items()}}


def digests(sf_dir: str) -> dict:
    from dd_ops_ocr_spark import pipeline
    from dd_ops_ocr_spark.plans import salting

    batches = list(_batches(sf_dir))
    res = {"run_arrow": _digest(pipeline._run_arrow(iter(batches)))}
    for ppb in PPBS:
        buckets = salting._bucketize_kernel(ppb)(iter(batches))
        res[f"salted_ppb{ppb}"] = _digest(salting._rank_kernel(buckets))
    return res


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--sf", required=True, help="corpus tier directory")
    p.add_argument("--root", default=str(_HERE), help="source tree to import")
    p.add_argument("--against", help="second source tree to compare with")
    args = p.parse_args(argv)
    if args.against:
        runs = {}
        for root in (args.against, args.root):
            cmd = [sys.executable, __file__, "--sf", args.sf, "--root", root]
            runs[root] = json.loads(subprocess.run(
                cmd, check=True, capture_output=True, text=True).stdout)
        a, b = runs.values()
        same = {k: a[k] == b[k] for k in a}
        print(json.dumps({"identical": same, "digests": b}))
        return 0 if all(same.values()) and a.keys() == b.keys() else 1
    sys.path.insert(0, str(pathlib.Path(args.root).resolve()))
    print(json.dumps(digests(args.sf)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
