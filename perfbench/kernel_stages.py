"""Per-stage kernel times on one core, measured from outside the kernel.

``staged_extract`` replays ``kernel.extract_document`` through the same
public stage functions, in the same order, with a timer around each: the
stage sums can then be set against the kernel's own total on the same
pages. The replay is for timing only; outputs are checked elsewhere.
"""

from __future__ import annotations

import gc
import time
from collections import Counter

STAGES = ("dom.parse", "schema_org", "metadata", "extractors", "selectors",
          "scoring", "standardize")


class _Clock:
    def __init__(self):
        self.s = Counter()

    def __call__(self, stage: str, fn, *args):
        t0 = time.perf_counter()
        out = fn(*args)
        self.s[stage] += time.perf_counter() - t0
        return out


def _generic(clock: _Clock, html_str: str, url: str, meta: dict,
             partial: bool, doc=None):
    """The generic (non-extractor) pass; returns (word_count, partial
    removals)."""
    from defuddle_spark import kernel, scoring
    from defuddle_spark.dom import parse
    from defuddle_spark.standardize import standardize_content

    if doc is None:
        doc = clock("dom.parse", parse, html_str)
    small = clock("selectors", kernel.find_small_images, doc)
    main = clock("selectors", kernel.find_main_content, doc)
    if main is None:
        return len(clock("standardize", doc.body.text).split()), 0
    clock("selectors", kernel.remove_small_images, doc, small)
    clock("selectors", kernel.remove_hidden_elements, doc)
    clock("scoring", scoring.score_and_remove, doc.html)
    removed = clock("selectors", kernel.remove_by_selector, doc, True, partial)
    clock("standardize", standardize_content, main, meta["title"], doc, False)
    clock("standardize", main.inner_html)
    return len(clock("standardize", main.text).split()), removed


def staged_extract(clock: _Clock, html_bytes: bytes, url: str) -> None:
    from defuddle_spark import kernel, metadata, schema_org
    from defuddle_spark.dom import parse
    from defuddle_spark.extractors import find_extractor

    html_str = clock("dom.parse", kernel.decode_html, html_bytes)
    doc = clock("dom.parse", parse, html_str)
    items = clock("schema_org", schema_org.extract_schema_org, doc.html)
    tags = clock("metadata", kernel.collect_meta_tags, doc)
    meta = clock("metadata", metadata.extract, doc.html, items, tags, url)
    ex = clock("extractors", find_extractor, doc, url, items)
    if ex is not None and clock("extractors", ex.can_extract):
        res = clock("extractors", ex.extract)
        clock("extractors", kernel.count_words, res.content_html)
        clock("extractors", lambda: parse(res.content_html).html.text())
        return
    words, removed = _generic(clock, html_str, url, meta, True, doc)
    if words < kernel.RETRY_WORD_THRESHOLD and removed > 0:
        _generic(clock, html_str, url, meta, False)


def measure(sample: list, reps: int = 2) -> dict:
    """ms per doc of each stage and of the whole kernel, on one core, over
    ``sample`` = [(url, html bytes)]; summed over ``reps`` passes.

    Each doc runs whole and stage by stage, each time right after a full
    collection: the DOM is cyclic, so the collector's pauses would
    otherwise land on whichever call happens to trip them. The two runs
    swap order on every pass, so neither always finds the caches warm."""
    from defuddle_spark.kernel import extract_document_bytes

    staged_extract(_Clock(), sample[0][1], sample[0][0])  # imports, caches
    clock, total = _Clock(), 0.0
    gc.freeze()  # the caller's heap is not the kernel's: keep it out of collections
    try:
        for rep in range(reps):
            for url, html in sample:
                for whole in ((True, False) if rep % 2 == 0 else (False, True)):
                    gc.collect()
                    if whole:
                        t0 = time.perf_counter()
                        extract_document_bytes(html, url=url)
                        total += time.perf_counter() - t0
                    else:
                        staged_extract(clock, html, url)
    finally:
        gc.unfreeze()
    n = reps * len(sample)
    kb = reps * sum(len(h) for _u, h in sample) / 1024
    out = {f"{s}_ms": 1e3 * clock.s[s] / n for s in STAGES}
    out["total_ms"] = 1e3 * total / n
    out["us_per_kb"] = 1e6 * total / kb
    return out
