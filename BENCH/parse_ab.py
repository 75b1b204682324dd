#!/usr/bin/env python3
"""Interleaved CPU-time A/B of ``extract_doc`` between two htmpark trees.

Loads ``TREE_A/htmpark`` and ``TREE_B/htmpark`` side by side in one process,
under the package names ``htmpark_a`` and ``htmpark_b``, and times
``extract_doc`` over the same crawl_extract pages (``perfbench/gen.py``;
the null and oversize pages, which extraction never parses, left out) on
each tree in turn.

- Time is process CPU time (``time.process_time``), not wall time, and the
  process is pinned to one core, so a neighbour's load or the host's turbo
  state moves both sides alike within a pass.
- Passes interleave A and B, alternating which goes first, and the garbage
  collector is paused during each pass (collected before it).
- Before timing, the two trees' rows are compared page by page; a mismatch
  is reported (``rows_equal: false``) and exits 1.

Prints a small table and one JSON line: min and median microseconds per page
for each tree, and the B/A ratios.

Usage:
  python BENCH/parse_ab.py TREE_A TREE_B [--seed 1] [--pages 500] [--reps 16]
  (TREE is a checkout root, the directory holding ``htmpark/``)
"""
import argparse
import gc
import importlib.util
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def load_tree(root: str, alias: str):
    """Import ``root/htmpark`` as package ``alias``; returns its extract_doc."""
    pkg = os.path.join(os.path.abspath(root), "htmpark")
    spec = importlib.util.spec_from_file_location(
        alias, os.path.join(pkg, "__init__.py"),
        submodule_search_locations=[pkg])
    mod = importlib.util.module_from_spec(spec)
    sys.modules[alias] = mod
    spec.loader.exec_module(mod)
    return importlib.import_module(alias + ".extract").extract_doc


def crawl_pages(seed: int, n: int) -> list:
    """The first ``n`` parseable pages of the 2,000-page crawl_extract table."""
    from perfbench.gen import MAX_HTML_BYTES, crawl_table
    htmls = crawl_table(seed, 2000)[0].column("html").to_pylist()
    return [h for h in htmls
            if h is not None and len(h) <= MAX_HTML_BYTES][:n]


def one_pass(fn, pages) -> float:
    gc.collect()
    gc.disable()
    try:
        t0 = time.process_time()
        for h in pages:
            fn(h)
        return time.process_time() - t0
    finally:
        gc.enable()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("tree_a")
    ap.add_argument("tree_b")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pages", type=int, default=500)
    ap.add_argument("--reps", type=int, default=16)
    args = ap.parse_args()

    cpu = max(os.sched_getaffinity(0))
    os.sched_setaffinity(0, {cpu})

    pages = crawl_pages(args.seed, args.pages)
    fns = {"a": load_tree(args.tree_a, "htmpark_a"),
           "b": load_tree(args.tree_b, "htmpark_b")}
    equal = all(fns["a"](h) == fns["b"](h) for h in pages)

    secs = {"a": [], "b": []}
    for rep in range(args.reps):
        for side in ("ab" if rep % 2 == 0 else "ba"):
            secs[side].append(one_pass(fns[side], pages))

    per_page = {k: [s / len(pages) * 1e6 for s in v] for k, v in secs.items()}
    out = {"seed": args.seed, "pages": len(pages), "reps": args.reps,
           "cpu": cpu, "rows_equal": equal}
    for k in ("a", "b"):
        out[f"{k}_min_us"] = round(min(per_page[k]), 1)
        out[f"{k}_median_us"] = round(statistics.median(per_page[k]), 1)
    out["ratio_min"] = round(out["b_min_us"] / out["a_min_us"], 3)
    out["ratio_median"] = round(out["b_median_us"] / out["a_median_us"], 3)

    print(f"extract_doc CPU us/page over {len(pages)} pages, {args.reps} "
          f"interleaved reps, pinned to cpu {cpu}")
    print(f"  A {args.tree_a}: min {out['a_min_us']}  median {out['a_median_us']}")
    print(f"  B {args.tree_b}: min {out['b_min_us']}  median {out['b_median_us']}")
    print(f"  B/A: min {out['ratio_min']}  median {out['ratio_median']}"
          f"  rows_equal {equal}")
    print(json.dumps(out))
    sys.exit(0 if equal else 1)


if __name__ == "__main__":
    main()
