"""Seeded input tables for the crawl_extract and clustered_checkpoint workloads.

Every table is a pure function of (workload, seed): the same seed gives
byte-identical parquet.  Generation uses numpy and pyarrow only, so it runs
in the benchmark's own process before any Spark session or timer starts.

Page sizes are drawn by stratified quantiles (one draw per 1/n slice of the
distribution, in seeded order), so the heavy tail is present on every seed
while the total html bytes stay nearly constant from seed to seed.  That keeps
the run-to-run spread about the program, not about the sample.
"""

from __future__ import annotations

import os
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from htmpark.corpus import FRAGMENTS, LANGS

# extract_pages' default cap; the one oversize page must exceed it
MAX_HTML_BYTES = 16 * 1024 * 1024

SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("lang", pa.string()),
])

WORDS = ("data page crawl index engine table query spark text parse token "
         "value merge stream window batch column vector order market river "
         "garden history science music travel health energy policy report "
         "review market city school north south light water stone").split()

SCRIPT_BLOCK = ("<script>var cfg{i} = {{a: [1, 2, 3], b: '<p>not a tag</p>'}}; "
                "for (var k = 0; k < 10 && cfg{i}.a.length > k; k++) {{}}"
                "</script><style>.c{i} > p {{ margin: 0 }} a:hover {{ x: y }}"
                "</style><noscript><p>enable js {i}</p></noscript>")
ENTITY_BLOCK = ("<p>caf&eacute; &amp; cr&egrave;me &lt;{i}&gt; &#169; &#x263A; "
                "&notin; &nbsp;&mdash;&hellip; &quot;q&quot; &copy &amp &unknown;"
                "</p>")
NAV_BLOCK = ("<nav><ul><li><a href=/n/{i}/1>one</a><li><a href=/n/{i}/2>two</a>"
             "<li><a href=/n/{i}/3>three</a></ul></nav><header><h2>Site {i}"
             "</h2></header>")
TABLE_BLOCK = ("<table><tr><th>k</th><th>v</th></tr><tr><td>{i}</td><td><b>"
               "bold</b> <i>it</i></td></tr><tr><td colspan=2>span</td></tr>"
               "</table>")
DENSE_BLOCKS = FRAGMENTS + [SCRIPT_BLOCK, ENTITY_BLOCK, NAV_BLOCK, TABLE_BLOCK]

# degenerate page kinds planted in crawl_extract, one count per 1000 pages.
# Invalid UTF-8 is not among them: such a page fails its whole extraction
# task (the surrogate-escaped text cannot be encoded into the Arrow batch),
# so it is measured apart, by the traced run's job.invalid_utf8_failures.
DEGENERATE = ("null", "truncated", "deep")


def _sizes(rng, n: int, median: float, sigma: float, lo: int, hi: int):
    u = (rng.permutation(n) + rng.random(n)) / n
    z = np.array([NormalDist().inv_cdf(min(max(x, 1e-9), 1 - 1e-9)) for x in u])
    return np.clip(median * np.exp(sigma * z), lo, hi).astype(int)


def _head(i: int, title: str) -> str:
    return (f"<!DOCTYPE html><html><head><meta charset=utf-8><title>{title}"
            f"</title><meta name=description content='page {i}'></head><body>")


def _dense_page(rng, i: int, size: int) -> bytes:
    parts = [_head(i, f"Page {i} &amp; more")]
    n = len(parts[0])
    idx = rng.integers(0, len(DENSE_BLOCKS), size=size // 40 + 4)
    k = 0
    while n < size:
        frag = DENSE_BLOCKS[idx[k % len(idx)]].replace("{i}", str(i + k))
        frag = frag.replace("{{", "{").replace("}}", "}")
        parts.append(frag)
        n += len(frag)
        k += 1
    parts.append("</body></html>")
    return "".join(parts).encode("utf-8")


def _sparse_page(rng, i: int, size: int) -> bytes:
    parts = [_head(i, f"Article {i}"), f"<article><h1>Article {i}</h1>"]
    n = sum(map(len, parts))
    words = rng.integers(0, len(WORDS), size=size // 5 + 16)
    k = 0
    while n < size:
        para = " ".join(WORDS[w] for w in words[k:k + 120])
        k = (k + 120) % max(1, len(words) - 120)
        parts.append(f"<p>{para}.</p>\n")
        n += len(para) + 9
    parts.append("</article></body></html>")
    return "".join(parts).encode("utf-8")


def invalid_utf8_page(i: int) -> bytes:
    return (_head(i, f"Bad {i}") + "<p>bytes ").encode() + \
        b"\xff\xfe\xc3( \xed\xa0\x80 tail</p></body></html>"


def _degenerate(kind: str, i: int) -> bytes | None:
    if kind == "null":
        return None
    if kind == "truncated":
        return (_head(i, f"Cut {i}") + "<div><p>cut here <a hr").encode()
    # deep nesting
    return (_head(i, f"Deep {i}") + "<div>" * 3000 + "bottom" + "</div>" * 3000
            + "</body></html>").encode()


def _ts(rng, n: int):
    base = np.datetime64("2025-01-01T00:00:00", "us")
    return base + rng.integers(0, 30 * 86400, size=n).astype("timedelta64[s]")


def crawl_table(seed: int, n_pages: int) -> tuple[pa.Table, list[int]]:
    """Crawl-order, host-interleaved, tag-dense pages with a seeded share of
    degenerate pages and exactly one page over MAX_HTML_BYTES.  Returns the
    table and the row numbers of its degenerate pages."""
    rng = np.random.default_rng([seed, 1])
    n_hosts = 300
    w = 1.0 / np.arange(1, n_hosts + 1) ** 1.1
    hosts = rng.choice(n_hosts, size=n_pages, p=w / w.sum())
    sizes = _sizes(rng, n_pages, median=2000, sigma=0.9, lo=300, hi=100_000)
    n_deg = max(1, n_pages // 1000)
    slots = rng.permutation(n_pages)
    kinds = {int(s): DEGENERATE[k % len(DEGENERATE)]
             for k, s in enumerate(slots[:n_deg * len(DEGENERATE)])}
    oversize = int(slots[n_deg * len(DEGENERATE)])
    urls, htmls = [], []
    for i in range(n_pages):
        urls.append(f"https://www.site{hosts[i]:03d}.example/{i % 7}/p{i}.html")
        if i == oversize:
            htmls.append(b"<html><body><p>" + b"x" * MAX_HTML_BYTES + b"</p>")
        elif i in kinds:
            htmls.append(_degenerate(kinds[i], i))
        else:
            htmls.append(_dense_page(rng, i, int(sizes[i])))
    return _table(rng, urls, htmls), sorted([*kinds, oversize])


def clustered_table(seed: int, n_pages: int,
                    hot_share: float = 0.65) -> tuple[pa.Table, list[int]]:
    """Host-sorted (SURT-like) table of tag-sparse text pages in which one hot
    host owns ``hot_share`` of the rows; a few pages have null html.  Returns
    the table and the row numbers of its degenerate (null) pages."""
    rng = np.random.default_rng([seed, 2])
    n_hot = int(round(n_pages * hot_share))
    hosts = np.concatenate([np.zeros(n_hot, int),
                            rng.integers(1, 60, size=n_pages - n_hot)])
    sizes = _sizes(rng, n_pages, median=18_000, sigma=0.4, lo=4000, hi=80_000)
    nulls = set(int(x) for x in rng.choice(n_pages, size=max(1, n_pages // 500),
                                           replace=False))
    rows = []
    for i in range(n_pages):
        host = "hot.example" if hosts[i] == 0 else f"h{hosts[i]:02d}.example"
        url = f"https://{host}/a/{i:06d}"
        html = None if i in nulls else _sparse_page(rng, i, int(sizes[i]))
        rows.append((".".join(reversed(host.split("."))), url, html))
    rows.sort(key=lambda r: (r[0], r[1]))
    return (_table(rng, [r[1] for r in rows], [r[2] for r in rows]),
            [k for k, r in enumerate(rows) if r[2] is None])


def _table(rng, urls, htmls) -> pa.Table:
    n = len(urls)
    langs = [LANGS[k] for k in rng.integers(0, len(LANGS), size=n)]
    return pa.table([pa.array(urls), pa.array(_ts(rng, n)),
                     pa.array(htmls, pa.binary()), pa.array(langs)],
                    schema=SCHEMA)


def write_table(table: pa.Table, path: str, files: int, row_group: int) -> None:
    """Split ``table``, in row order, into ``files`` parquet files holding
    about the same bytes of parseable html each, in ``row_group``-row groups
    (url statistics on, as any parquet writer keeps them).  A scan task reads
    whole files here, so equal bytes keep a seed's heavy pages from landing
    in one straggler task and moving the pass time from seed to seed."""
    os.makedirs(path, exist_ok=True)
    sizes = [len(h) if h is not None and len(h) <= MAX_HTML_BYTES else 0
             for h in table.column("html").to_pylist()]
    cuts = np.searchsorted(np.cumsum(sizes), np.arange(1, files) * sum(sizes) / files)
    bounds = [0, *(int(c) + 1 for c in cuts), table.num_rows]
    for k in range(files):
        part = table.slice(bounds[k], bounds[k + 1] - bounds[k])
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:03d}.parquet"),
                           row_group_size=row_group)


class _Files:
    """The one DataFrame method detect_host_clustered reads: inputFiles()."""

    def __init__(self, path: str):
        self._files = sorted(os.path.join(path, f) for f in os.listdir(path)
                             if f.endswith(".parquet"))

    def inputFiles(self):
        return self._files


def salting_decision(path: str) -> bool | None:
    """detect_host_clustered's verdict on the written table, read from the
    parquet footers exactly as extract_pages(salt_buckets="auto") reads it."""
    from htmpark.job import detect_host_clustered
    return detect_host_clustered(_Files(path))


def describe(table: pa.Table, degenerate: list[int], path: str) -> dict:
    """Why the table loads the layer it does: size, tag density, host skew,
    degenerate share and the detector's salting decision."""
    html = table.column("html").to_pylist()
    urls = table.column("url").to_pylist()
    hosts = {}
    for u in urls:
        h = u.split("/")[2]
        hosts[h] = hosts.get(h, 0) + 1
    parsed = [h for h in html if h is not None and len(h) <= MAX_HTML_BYTES]
    return {
        "pages": len(html),
        "html_bytes": sum(len(h) for h in html if h is not None),
        "tags_per_page": sum(h.count(b"<") for h in parsed) / max(1, len(parsed)),
        "hot_host_share": max(hosts.values()) / len(urls),
        "degenerate_share": len(degenerate) / len(html),
        "salted": salting_decision(path),
    }
