"""Seeded inputs for the benchmark workloads, each with the output it must
produce.

Every generator is a pure function of its seed: the same seed gives the
same bytes. Text is drawn from a synthetic consonant-vowel vocabulary, so
the inputs need no corpus on disk and no word can trip the kernel's
navigation-text heuristics by accident.

Sizes do not depend on the seed. Page sizes and the archetype mix are
fixed quantiles or fixed proportions; the seed picks
only the words, the order and the ids. That keeps the work per run equal
across seeds, so seed-to-seed spread measures the system, not the input.
"""

from __future__ import annotations

import datetime
import random

CONSONANTS = "bdfgklmprstvz"
VOWELS = "aeiou"
# Text-side clutter indicators of the kernel's block scorer plus the
# class/id patterns: a content word containing one of these could be
# scored as navigation and dropped, which would make the expected text
# wrong for a reason that has nothing to do with the system.
_BANNED = (
    "advertisement", "banner", "cookie", "comment", "copyright", "footer",
    "header", "homepage", "login", "menu", "nav", "newsletter", "popular",
    "privacy", "recommended", "register", "related", "responses", "share",
    "sidebar", "signup", "social", "sponsored", "subscribe", "terms",
    "trending", "rights", "widget", "ad",
)
STOPWORDS = ("the", "of", "and", "to", "in", "is", "for", "on", "with", "as")


def vocabulary(rng: random.Random, size: int = 6000) -> list:
    """``size`` distinct consonant-vowel words of 2 to 4 syllables."""
    words, seen = [], set()
    while len(words) < size:
        w = "".join(rng.choice(CONSONANTS) + rng.choice(VOWELS)
                    for _ in range(rng.randint(2, 4)))
        if w in seen or any(b in w for b in _BANNED):
            continue
        seen.add(w)
        words.append(w)
    return words


class Words:
    """Seeded sentence and paragraph maker over one vocabulary."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.vocab = vocabulary(random.Random(seed * 7919 + 1))

    def sentence(self, n: int) -> str:
        rng = self.rng
        out = []
        for _ in range(n):
            out.append(rng.choice(STOPWORDS) if rng.random() < 0.15
                       else rng.choice(self.vocab))
        out[0] = out[0].capitalize()
        return " ".join(out) + "."

    def paragraph(self, n_words: int) -> str:
        parts, left = [], n_words
        while left > 0:
            k = min(left, self.rng.randint(8, 16))
            parts.append(self.sentence(k))
            left -= k
        return " ".join(parts)


def no_ws(s: str) -> str:
    """The comparison key for extracted text: all whitespace removed.

    Block boundaries turn into a space, a newline or nothing depending on
    the tree; the words and their order are the contract."""
    return "".join(s.split())


# ---------------------------------------------------------------------------
# cc_extract: Common-Crawl-style pages of ~1-10 KB
# ---------------------------------------------------------------------------

# Archetype shares per 100 pages. They are assumptions, not measured from
# crawl data: extractor-site pages (github) and non-UTF-8 pages (cp1252)
# are kept rare, as they are in crawl traffic, and every archetype still
# occurs in every 100 pages.
CC_MIX = (("article", 30), ("scored", 20), ("main", 15), ("jsonld", 15),
          ("retry", 10), ("cp1252", 5), ("table", 4), ("github", 1))
# one cycle of 100 archetypes, each kind spread evenly over it
CC_CYCLE = tuple(kind for _key, kind in sorted(
    ((j + 0.5) / n, kind) for kind, n in CC_MIX for j in range(n)))
RETRY_BYLINE = "Reviewed with care by the desk"
_CLUTTER_TOP = (
    '<header><div class="logo">Example Site</div></header>\n'
    '<nav><a href="/">Home</a> <a href="/archive">Archive</a> '
    '<a href="/tags">Tags</a></nav>\n'
    '<div class="ad">Buy widgets now, limited offer.</div>\n')
_CLUTTER_BOTTOM = (
    '<aside class="sidebar">Trending: <a href="/p1">One</a> '
    '<a href="/p2">Two</a></aside>\n'
    '<div id="comments"><p>First comment!</p><p>Great post.</p></div>\n'
    "<footer>(c) 2024 Example Site. All rights reserved.</footer>\n")
_ACCENTED = ("café", "naïve", "résumé", "über",
             "señor", "façade")


def _head(title: str, extra: str = "", charset: str = "utf-8") -> str:
    return (f'<!DOCTYPE html><html><head><meta charset="{charset}">'
            f"<title>{title}</title>{extra}</head>\n")


def _paras(paras: list) -> str:
    return "\n".join(f"<p>{p}</p>" for p in paras)


def cc_page(w: Words, i: int, url_id: str) -> tuple:
    """One page of archetype ``CC_CYCLE[i % 100]``: (url, html bytes,
    expected extracted text, archetype)."""
    rng = w.rng
    kind = CC_CYCLE[i % len(CC_CYCLE)]
    title = f"Story {url_id}"
    n_paras = rng.randint(3, 12)
    paras = [w.paragraph(rng.randint(45, 110)) for _ in range(n_paras)]
    url = f"https://site{i % 97}.example.test/{kind}/{url_id}"
    enc = "utf-8"
    if kind == "article":
        # small image and hidden block inside the article: both removed
        body = (f"<article><h1>{title}</h1>\n{_paras(paras)}\n"
                f'<img src="/pix/{url_id}.gif" width="1" height="1">'
                '<div style="display:none">hidden beacon text</div>'
                "</article>")
        html = _head(title) + "<body>" + _CLUTTER_TOP + body + _CLUTTER_BOTTOM
        text = " ".join(paras)
    elif kind == "main":
        body = (f'<main><h1>{title}</h1><div class="wrapper"><div class="inner">'
                f"{_paras(paras)}</div></div></main>")
        html = _head(title) + "<body>" + _CLUTTER_TOP + body + _CLUTTER_BOTTOM
        text = " ".join(paras)
    elif kind == "scored":
        # no entry-point element: selection falls through to the scorer
        body = f"<div>{_paras(paras)}</div>"
        html = (_head(title) + "<body>"
                '<header><div class="logo">Example Site</div></header>\n'
                '<nav><a href="/">Home</a></nav>\n' + body
                + "\n<footer>(c) 2024 Example Site</footer>")
        text = " ".join(paras)
    elif kind == "table":
        body = ('<table width="800"><tr><td>Left rail</td><td>'
                f"{_paras(paras)}</td><td>Right rail</td></tr></table>")
        html = (_head(title) + "<body>"
                '<header><div class="logo">Example Site</div></header>\n'
                + body + "\n<footer>(c) 2024 Example Site</footer>")
        text = " ".join(paras)
    elif kind == "retry":
        # under 200 words with a partial-selector byline: the kernel
        # retries without partial selectors and keeps the byline
        short = w.paragraph(rng.randint(60, 150))
        body = (f"<article><h1>{title}</h1><p>{short}</p>"
                f'<div class="byline">{RETRY_BYLINE}</div></article>')
        html = (_head(title) + "<body><header>H</header><nav>N</nav>" + body
                + "<footer>F</footer>")
        text = short + RETRY_BYLINE
    elif kind == "github":
        author = f"user{i % 50}"
        day = i % 9 + 1
        url = f"https://github.com/acme/repo{i % 13}/issues/{url_id}"
        html = (
            f"<html><head><title>{title}</title>"
            '<meta name="octolytics-url" '
            'content="https://collector.github.com/github/collect"></head>'
            f'<body><div data-testid="issue-title">{title}</div>'
            '<div data-testid="issue-viewer-issue-container">'
            f'<a data-testid="issue-body-header-author" href="/{author}">'
            f"{author}</a>"
            f'<relative-time datetime="2024-02-0{day}T12:00:00Z">'
            "</relative-time>"
            '<div data-testid="issue-body-viewer"><div class="markdown-body">'
            f"{_paras(paras)}</div></div></div>")
        text = (f"{author} opened this issue on February {day}, 2024"
                + " ".join(paras))
    elif kind == "cp1252":
        enc = "cp1252"
        paras = [p + " " + rng.choice(_ACCENTED) + "." for p in paras]
        body = f"<article><h1>{title}</h1>\n{_paras(paras)}</article>"
        html = (_head(title, charset="windows-1252") + "<body>"
                + _CLUTTER_TOP + body + _CLUTTER_BOTTOM)
        text = " ".join(paras)
    else:  # jsonld
        ld = ('<script type="application/ld+json">{"@context":'
              '"https://schema.org","@type":"NewsArticle","headline":"'
              f'{title}","author":{{"@type":"Person","name":"Writer {i % 31}"}},'
              '"datePublished":"2024-01-15T00:00:00Z","publisher":{"@type":'
              '"Organization","name":"Example Site"}}</script>'
              '<meta property="og:title" content="' + title + '">'
              '<meta name="description" content="A generated story.">')
        body = f"<article><h1>{title}</h1>\n{_paras(paras)}</article>"
        html = (_head(title, extra=ld) + "<body>" + _CLUTTER_TOP + body
                + _CLUTTER_BOTTOM)
        text = " ".join(paras)
    html += "</body></html>"
    return url, html.encode(enc), text, kind


def cc_pages(seed: int, n: int, prefix: str = "p") -> list:
    """``n`` pages as dicts in the pages input shape
    ``(url, warc_ts, html, text, lang)``; ``text`` is what extraction must
    return."""
    w = Words(seed)
    order = list(range(n))
    w.rng.shuffle(order)
    rows = []
    for k, i in enumerate(order):
        url, html, text, _kind = cc_page(w, i, f"{prefix}{seed}-{i}")
        rows.append({"url": url,
                     "warc_ts": datetime.datetime(2024, 1, 1)
                     + datetime.timedelta(minutes=k),
                     "html": html, "text": text, "lang": "en"})
    return rows


# ---------------------------------------------------------------------------
# warc_heavy_tail: Pareto-sized, element-heavy pages in gzip WARC archives
# ---------------------------------------------------------------------------

def pareto_sizes(n: int, xm: int, alpha: float, cap: int) -> list:
    """Page sizes at the midpoint quantiles of a Pareto(xm, alpha) law,
    capped: the same multiset for every seed."""
    return [min(cap, int(xm * (1.0 - (k + 0.5) / n) ** (-1.0 / alpha)))
            for k in range(n)]


def heavy_page(w: Words, url_id: str, target_bytes: int) -> tuple:
    """An element-heavy page of about ``target_bytes``: sections of nested
    divs holding paragraph runs, with link lists and scripts between
    them. Returns (html bytes, expected text)."""
    rng = w.rng
    title = f"Report {url_id}"
    head = _head(title, extra="<script>var cfg={a:1,b:[2,3]};</script>")
    parts = [head, "<body>", _CLUTTER_TOP, f"<article><h1>{title}</h1>\n"]
    size = sum(len(p) for p in parts)
    text = []
    s = 0
    while size < target_bytes:
        paras = [w.paragraph(rng.randint(30, 80)) for _ in range(rng.randint(3, 6))]
        text.extend(paras)
        links = "".join(f'<li><a href="/s{s}/{j}">{w.vocab[(s * 7 + j) % len(w.vocab)]}</a></li>'
                        for j in range(6))
        block = (f'<div class="section" id="s{s}"><div class="body"><div>'
                 f"{_paras(paras)}</div></div>"
                 f'<nav class="toc"><ul>{links}</ul></nav>'
                 f"<script>track({s});</script></div>\n")
        parts.append(block)
        size += len(block)
        s += 1
    parts.append("</article>" + _CLUTTER_BOTTOM + "</body></html>")
    return "".join(parts).encode(), " ".join(text)


def heavy_pages(seed: int, n: int, xm: int, alpha: float, cap: int) -> list:
    """(url, html bytes, expected text) for ``n`` Pareto-sized pages, in
    seeded order."""
    w = Words(seed)
    sizes = pareto_sizes(n, xm, alpha, cap)
    w.rng.shuffle(sizes)
    out = []
    for i, size in enumerate(sizes):
        url_id = f"h{seed}-{i}"
        html, text = heavy_page(w, url_id, size)
        out.append((f"https://tail{i % 89}.example.test/r/{url_id}", html, text))
    return out
