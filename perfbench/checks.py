"""Output checks. Each returns ``(attempted, failed, problems)``; a run is
correct only when ``failed`` is 0. Pure Python over collected rows, so a
test can feed them corrupted outputs without a Spark session."""

from __future__ import annotations

from collections import Counter

from gen import no_ws


def check_extraction(expected: dict, rows: list) -> tuple:
    """``expected`` maps url -> text placed by the generator; ``rows`` are
    ``(url, extracted_text, error)``. A doc fails when its url is missing
    or repeated, its row carries an error, or its text differs."""
    seen = Counter(r[0] for r in rows)
    bad = {u for u, n in seen.items() if n != 1 or u not in expected}
    bad.update(u for u in expected if u not in seen)
    for url, text, error in rows:
        if url in expected and (error is not None
                                or no_ws(text or "") != no_ws(expected[url])):
            bad.add(url)
    problems = sorted(bad)[:5]
    return len(expected), len(bad), problems
