"""The benchmark workloads: how each stages its inputs, what its timed job
calls, and how its output is checked.

Each workload is one closed-loop batch job, submitted by one client that
waits for it. Sizes are fixed; ``--seed`` picks only words, order and ids.

Each layer does most of its work in one workload and little in the other:

- ``cc_extract``: ~4 KB pages of eight archetypes through
  ``manifest.run_extraction_job``. Per-doc fixed kernel cost, the
  Arrow/pandas hand-off and the bucket-group sink and manifest commits.
- ``warc_heavy_tail``: Pareto-sized, element-heavy pages in gzip WARC
  archives through ``warc.read_warc`` and ``pipeline.extract_pages`` with
  the giant tier. Bytes dominate: tokenizer and tree-walk cost per KB,
  gunzip, and straggler containment; no manifest.

The corpus, dedup and streaming layers have no workload here.
``dedup.minhash_lsh_candidates`` fails a planted-cluster check on the
current program (``dedup.minhash_signature_col`` lets one shingle win all
64 permutations, so the signature is a single minhash), and a streaming
drain costs about 2.2 s per micro-batch whatever its size, which a third
workload's share of the run budget cannot hold.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen

PAGES_SCHEMA = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                          ("html", pa.binary()), ("text", pa.string()),
                          ("lang", pa.string())])
WARM_SEED_OFFSET = 1_000_003


def _write_parts(rows: list, schema: pa.Schema, out_dir: str, n_files: int) -> None:
    """Spread ``rows`` round-robin over ``n_files`` parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    for k in range(n_files):
        part = rows[k::n_files]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(out_dir, f"part-{k:03d}.parquet"))


class CcExtract:
    name = "cc_extract"
    python_udfs = 1  # Python workers one task holds at once
    docs = 4000
    files = 16
    warm_docs = 200
    num_buckets = 16
    group_size = 8

    def stage(self, root: str, seed: int) -> dict:
        rows = gen.cc_pages(seed, self.docs)
        _write_parts(rows, PAGES_SCHEMA, os.path.join(root, "input"), self.files)
        warm = gen.cc_pages(seed + WARM_SEED_OFFSET, self.warm_docs, prefix="w")
        _write_parts(warm, PAGES_SCHEMA, os.path.join(root, "warm"), 8)
        return {"root": root, "docs": len(rows),
                "bytes": sum(len(r["html"]) for r in rows),
                "expected": {r["url"]: r["text"] for r in rows},
                "sample": [(r["url"], r["html"]) for r in rows[:400]]}

    def job(self, spark, staged: dict, src: str, out: str) -> dict:
        from defuddle_spark.spark.manifest import run_extraction_job

        pages = spark.read.parquet(os.path.join(staged["root"], src))
        return run_extraction_job(
            spark, pages, os.path.join(out, "data"), os.path.join(out, "manifest"),
            num_buckets=self.num_buckets, group_size=self.group_size)

    def check(self, staged: dict, out: str, job_result: dict) -> tuple:
        attempted, failed, problems = checks.check_extraction(
            staged["expected"], _extraction_rows(os.path.join(out, "data")))
        if job_result["docs_processed"] != staged["docs"]:
            problems.append(f"manifest committed {job_result['docs_processed']} "
                            f"docs of {staged['docs']}")
            failed = max(failed, 1)
        return attempted, failed, problems


class WarcHeavyTail:
    name = "warc_heavy_tail"
    python_udfs = 2  # the WARC reader and the kernel: two chained pandas UDFs
    pages = 600
    files = 8
    # sizes: Pareto(xm=5 KB, alpha=1.3) at midpoint quantiles, cap 1 MB:
    # about 11.8 MB in all, median 10 KB, p90 30 KB, p99 185 KB, largest
    # 1 MB. The 54-57 pages over the giant threshold (about 14 per core;
    # 2 over 500 KB) hold 47-48% of the bytes.
    xm, alpha, cap = 5_000, 1.3, 1_000_000
    giant_threshold = 32 * 1024
    warm_pages = 24

    def _archives(self, pages: list, out_dir: str, n_files: int) -> None:
        from defuddle_spark.spark.warc import (build_http_response,
                                               build_warc_archive,
                                               build_warc_record)
        os.makedirs(out_dir, exist_ok=True)
        # largest first, dealt round-robin: every archive gets a like share
        order = sorted(range(len(pages)), key=lambda i: -len(pages[i][1]))
        for k in range(n_files):
            recs = [build_warc_record(build_http_response(pages[i][1]),
                                      url=pages[i][0],
                                      record_id=f"<urn:uuid:{k}-{i}>",
                                      date="2024-03-01T12:00:00Z")
                    for i in order[k::n_files]]
            with open(os.path.join(out_dir, f"part-{k:03d}.warc.gz"), "wb") as f:
                f.write(build_warc_archive(recs))

    def stage(self, root: str, seed: int) -> dict:
        pages = gen.heavy_pages(seed, self.pages, self.xm, self.alpha, self.cap)
        self._archives(pages, os.path.join(root, "input"), self.files)
        warm = gen.heavy_pages(seed + WARM_SEED_OFFSET, self.warm_pages,
                               self.xm, self.alpha, 200_000)
        self._archives(warm, os.path.join(root, "warm"), 4)
        sample = sorted(pages, key=lambda p: len(p[1]))
        return {"root": root, "docs": len(pages),
                "bytes": sum(len(p[1]) for p in pages),
                "expected": {u: t for u, _h, t in pages},
                # every 16th page by size: the kernel sample keeps the tail
                "sample": [(u, h) for u, h, _t in sample[8::16]]}

    def job(self, spark, staged: dict, src: str, out: str) -> dict:
        from defuddle_spark.spark.pipeline import extract_pages
        from defuddle_spark.spark.warc import read_warc

        pages = read_warc(spark, os.path.join(staged["root"], src))
        result = extract_pages(pages.select("url", "html"),
                               giant_threshold_bytes=self.giant_threshold)
        result.write.parquet(os.path.join(out, "data"))
        return {}

    def check(self, staged: dict, out: str, job_result: dict) -> tuple:
        return checks.check_extraction(
            staged["expected"], _extraction_rows(os.path.join(out, "data")))


def _extraction_rows(path: str) -> list:
    t = pq.read_table(path, columns=["url", "extracted_text", "error"])
    return list(zip(*(t.column(c).to_pylist() for c in t.column_names)))


WORKLOADS = {w.name: w for w in (CcExtract(), WarcHeavyTail())}
