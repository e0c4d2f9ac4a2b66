"""Synthetic fetcher for the drain benchmark.

``fetch(url)`` stands in for the HTTP fetch: a ~6 KB HTML page derived
only from the URL. The page is built from a recipe whose link and span
counts are known without parsing, so the benchmark can check the
program's parse totals against ``expected_counts`` instead of against a
second run of the parser.

This module is shipped to the Python workers with ``addPyFile``: the
product only ships its own package, so a fetcher living outside it
would fail to import on the workers.
"""

from __future__ import annotations

_WORDS = (
    "data web crawl spark frontier queue host link page index archive "
    "report dataset analysis summary figure quote fact study survey"
).split()
_PARAS = [
    " ".join(_WORDS[(r + k) % len(_WORDS)] for k in range(150))
    for r in range(len(_WORDS))
]


def page_id(url: str) -> int:
    """The page id is the URL's last path segment (``.../<section>/<id>``)."""
    return int(url.rsplit("/", 1)[1])


def recipe(pid: int) -> tuple[int, int, int]:
    """(internal, external, file) links on page ``pid``; all distinct."""
    return 4 + pid % 5, 1 + pid % 3, pid % 4


def expected_counts(pid: int) -> tuple[int, int]:
    """(links, spans) the parser must report for page ``pid``: every link
    is distinct, and each file link is preceded by text, so the page has
    one media span and one text span per file link plus the text tail."""
    n_int, n_ext, n_file = recipe(pid)
    return n_int + n_ext + n_file, 2 * n_file + 1


def fetch(url: str) -> str:
    pid = page_id(url)
    n_int, n_ext, n_file = recipe(pid)
    para = _PARAS[pid % len(_PARAS)]
    hrefs = [f"/p/{pid}-{j}" for j in range(n_int)]
    hrefs += [f"https://ext{j}.bench.net/r/{pid}-{j}" for j in range(n_ext)]
    hrefs += [f"/files/{pid}-{j}.pdf" for j in range(n_file)]
    parts = [f"<html><head><title>{pid}</title></head><body><h1>page {pid}</h1>"]
    for j, href in enumerate(hrefs):
        parts.append(f"<p>{para[: 400 + (pid + 37 * j) % 250]}</p><a href=\"{href}\">link {j}</a>")
    parts.append(f"<p>{para}</p><a href=\"#\">top</a></body></html>")
    return "".join(parts)
