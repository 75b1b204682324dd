"""Correctness gate: order-insensitive output checksums and row comparison.

The checksum of a set of extraction rows is the sum, modulo 2**256, of the
sha256 of each row's (url, text, main_text, title, outlinks, parse_ok).  A
sum, unlike a sorted hash, can be folded row by row in any order, and any
altered, missing or duplicated row changes it.
"""

from __future__ import annotations

import hashlib
import json

CHECKED = ("url", "text", "main_text", "title", "outlinks", "parse_ok")


def row_key(row: dict) -> bytes:
    return json.dumps([row[c] for c in CHECKED], ensure_ascii=False).encode(
        "utf-8", "surrogateescape")


def checksum(rows) -> str:
    total = 0
    for row in rows:
        total += int.from_bytes(hashlib.sha256(row_key(row)).digest(), "big")
    return f"{total % (1 << 256):064x}"


def reference_row(url: str, html) -> dict:
    """What the engine must emit for one page, computed without Spark by the
    same public per-document function extract_pages runs in its workers.
    None html (a null or oversize page) is an error row."""
    from htmpark.extract import extract_doc

    if html is None:
        return {"url": url, "text": "", "main_text": "", "title": "",
                "outlinks": [], "parse_ok": False}
    row = extract_doc(html)
    return {"url": url, **{c: row[c] for c in CHECKED[1:]}}


def compare_rows(got: list[dict], want: list[dict]) -> list[str]:
    """Per-url differences between engine rows and reference rows."""
    by_url = {r["url"]: r for r in got}
    problems = []
    for w in want:
        g = by_url.get(w["url"])
        if g is None:
            problems.append(f"{w['url']}: missing from output")
            continue
        bad = [c for c in CHECKED if g[c] != w[c]]
        if bad:
            problems.append(f"{w['url']}: {', '.join(bad)} differ")
    return problems
