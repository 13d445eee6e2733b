"""The benchmark's output checks reject corrupted outputs.

    python3 -m pytest perfbench/test_checks.py -q

Needs no Spark session: the checks run on collected rows, and the
generator contract is checked against the pure-Python kernel.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                os.path.dirname(os.path.abspath(__file__))]

import checks  # noqa: E402
import gen  # noqa: E402


@pytest.fixture(scope="module")
def pages():
    """One full archetype cycle: every archetype at least once."""
    rows = gen.cc_pages(7, len(gen.CC_CYCLE))
    return {r["url"]: r for r in rows}


def _good_rows(pages):
    return [(u, r["text"], None) for u, r in pages.items()]


def test_clean_extraction_passes(pages):
    expected = {u: r["text"] for u, r in pages.items()}
    assert checks.check_extraction(expected, _good_rows(pages))[:2] == (len(pages), 0)


@pytest.mark.parametrize("corrupt", ["drop", "duplicate", "text", "error",
                                     "stray"])
def test_corrupted_extraction_is_rejected(pages, corrupt):
    expected = {u: r["text"] for u, r in pages.items()}
    rows = _good_rows(pages)
    url, text, _err = rows[3]
    if corrupt == "drop":
        del rows[3]
    elif corrupt == "duplicate":
        rows.append(rows[3])
    elif corrupt == "text":
        rows[3] = (url, text.replace(" ", " x ", 1), None)
    elif corrupt == "error":
        rows[3] = (url, text, "ValueError: boom")
    else:
        rows.append(("https://stray.example.test/", "", None))
    attempted, failed, problems = checks.check_extraction(expected, rows)
    assert attempted == len(pages) and failed == 1 and problems


def test_generators_are_seeded():
    assert gen.cc_pages(3, 16) == gen.cc_pages(3, 16)
    assert gen.cc_pages(3, 16) != gen.cc_pages(4, 16)
    # sizes do not depend on the seed (up to the last element block)
    a = sorted(len(h) for _u, h, _t in gen.heavy_pages(1, 40, 5_000, 0.95, 200_000))
    b = sorted(len(h) for _u, h, _t in gen.heavy_pages(2, 40, 5_000, 0.95, 200_000))
    assert all(abs(x - y) < 8192 for x, y in zip(a, b))


def test_page_archetypes_meet_their_contract(pages):
    """Every archetype's expected text is what the kernel extracts."""
    from defuddle_spark.kernel import extract_document_bytes

    for url, r in pages.items():
        res = extract_document_bytes(r["html"], url=url)
        assert res.error is None
        assert gen.no_ws(res.extracted_text) == gen.no_ws(r["text"]), url
