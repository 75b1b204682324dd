#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads, one JSON result.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 6 --trace 0

The last line of stdout is {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics, and the spans of the run are
written to perfbench/out/.  The exit code is 1 when the correctness gate
fails and 2 when the program cannot be imported.  See perfbench/README.md
for what each workload and metric is and why.

This process never starts a JVM.  It generates the inputs, then starts each
Spark level as a fresh subprocess pinned with taskset, and checks the
outputs against a Spark-free reference and the checksums recorded in
perfbench/expected.json.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

# one explicit driver heap on every commit (the program's 16g local default
# is larger than a 15 GB host); recorded in the traced run's output
DRIVER_MEM = "2g"
SIZES = {"crawl_extract": 2000, "clustered_checkpoint": 700}
# the workload's pages sampled for the Spark-free reference and microbench
SAMPLE = 64
SF_DIR = os.path.join(HERE, "data", "sf0.01")
# one or more queries per family, among them the dedup memo consumers, the
# _fan_out sites mm_binary_meta and rel_events_minutely, and the r12
# regressions on untouched code warc_round_trip and rel_asof_attribution.
# The whole REGISTRY does not fit the run budget; see README.md
CURATION_QUERIES = (
    "html_parse_extract", "html_main_content", "html_node_stats",
    "dedup_minhash_pairs", "dedup_clusters",
    "sim_topk_bruteforce", "text_bpe_tokens", "rel_events_minutely",
    "rel_asof_attribution", "web_robots_gate", "stream_windowed_counts",
    "warc_round_trip", "mm_binary_meta", "sketch_distinct_kmv",
    "graph_pagerank", "pdf_parse_extract", "curation_pipeline")


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def run_level(spec: dict, n: int, work: str) -> dict:
    """Run level.py pinned to the first n cores this process may use, and
    return its result."""
    spec = dict(spec, cores=n)
    spec_path = os.path.join(work, f"spec{n}.json")
    out_path = os.path.join(work, f"out{n}.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(work, "tmp")
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_LOCAL_IP="127.0.0.1",
               HTMPARK_DRIVER_MEM=DRIVER_MEM, PYSPARK_PYTHON=sys.executable,
               SPARK_LOCAL_DIRS=os.path.join(work, "local"), TMPDIR=tmp,
               # spark-submit's own launcher JVM: no perf data in /tmp
               SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.makedirs(tmp, exist_ok=True)
    cpus = ",".join(map(str, sorted(os.sched_getaffinity(0))[:n]))
    cmd = ["taskset", "-c", cpus, sys.executable,
           os.path.join(HERE, "level.py"), spec_path, out_path]
    with open(os.path.join(work, f"level{n}.log"), "w") as log:
        # its own process group, so a timeout also stops the JVM and workers
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=150)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        with open(os.path.join(work, f"level{n}.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"level local[{n}] exited {proc.returncode}")
    with open(out_path) as f:
        result = json.load(f)
    _stop(result["pids"])
    return result


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop(pids: list[int], grace: float = 10.0) -> None:
    """Wait for ``pids`` to end (the JVM exits once the level's exit closes
    its stdin, and its Python workers follow); kill what is left after
    ``grace`` seconds."""
    end = time.time() + grace
    while any(map(_alive, pids)) and time.time() < end:
        time.sleep(0.1)
    for pid in filter(_alive, pids):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(map(_alive, pids)):
        time.sleep(0.1)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def make_inputs(workload: str, seed: int, work: str) -> dict:
    """Generate and describe the workload's input table; pick the seeded
    sample of pages the reference and the microbench use."""
    import gen

    if workload == "curation_queries":
        return {"sf": SF_DIR}
    make = gen.crawl_table if workload == "crawl_extract" else gen.clustered_table
    table, degenerate = make(seed, SIZES[workload])
    path = os.path.join(work, "input")
    if workload == "crawl_extract":
        gen.write_table(table, path, files=16, row_group=128)
    else:
        gen.write_table(table, path, files=8, row_group=64)
    urls = table.column("url").to_pylist()
    html = table.column("html").to_pylist()
    rand = random.Random(seed).sample(range(len(urls)), SAMPLE)
    # every degenerate page plus a seeded sample of the rest
    pick = sorted(set(rand) | set(degenerate))
    return {"input": path, "urls": sorted(urls),
            "sample": [(urls[i], html[i]) for i in pick],
            "bench": [html[i] for i in rand if i not in set(degenerate)],
            "describe": gen.describe(table, degenerate, path)}


def check_pages(workload: str, seed: int, inputs: dict, out: dict,
                problems: list[str]) -> None:
    """Gate for the extraction workloads: every input page comes out once,
    sampled rows equal the Spark-free reference, and the checksum equals
    the one recorded for this workload and seed."""
    from verify import compare_rows, reference_row

    import gen

    if out["urls"] != inputs["urls"]:
        problems.append(f"{workload}: output urls differ from input urls "
                        f"({out['rows']} rows for {len(inputs['urls'])} pages)")
    want = [reference_row(u, None if h is not None and len(h) > gen.MAX_HTML_BYTES
                          else h) for u, h in inputs["sample"]]
    problems.extend(compare_rows(out["sample_rows"], want))
    expected = load_expected().get(workload, {}).get(str(seed))
    if expected is not None and expected != out["checksum"]:
        problems.append(f"{workload}: checksum {out['checksum'][:16]} != "
                        f"recorded {expected[:16]} for seed {seed}")


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


@contextmanager
def _gc_paused():
    gc.disable()
    try:
        yield
    finally:
        gc.enable()
        gc.collect()


def microbench(pages: list[bytes], batch_rows: int = 2048, reps: int = 5) -> dict:
    """Spark-free per-page cost of each layer, pinned to one core, over a
    seeded sample of the workload's own (non-degenerate) pages."""
    import pandas as pd

    from htmpark.extract import ExtractSink, extract_doc
    from htmpark.job import _parse_batches
    from htmpark.parser import Parser
    from htmpark.sinks import BaseSink

    strs = [(h.replace(b"\r\n", b"\n").replace(b"\r", b"\n")
             .decode("utf-8", "surrogateescape")) for h in pages]

    # (function, parses the pre-decoded str) per variant
    variants = [(lambda h: Parser().parse(h, BaseSink()), False),
                (lambda s: Parser().parse(s, BaseSink()), True),
                (lambda h: Parser().parse(h, ExtractSink()), False),
                (extract_doc, False)]
    # whole tiles of the sample, so the batch compares with its mean
    rows = batch_rows - batch_rows % len(pages)
    batch = pd.DataFrame({
        "url": [f"u{i}" for i in range(rows)],
        "warc_ts": pd.Timestamp("2025-01-01"),
        "html": [pages[i % len(pages)] for i in range(rows)],
        "lang": "en"})

    def sweep(tiles: int) -> list[float]:
        """Mean µs per page of each variant.  The variants take turns on
        each page, so a drift in clock speed lands on all of them alike, and
        the cyclic collector waits until the sweep ends, so its pauses do
        not land on whichever variant happens to cross its threshold."""
        total = [0.0] * len(variants)
        with _gc_paused():
            for _ in range(tiles):
                for h, s in zip(pages, strs):
                    for k, (fn, use_str) in enumerate(variants):
                        x = s if use_str else h
                        t0 = time.perf_counter()
                        fn(x)
                        total[k] += time.perf_counter() - t0
        return [t / tiles / len(pages) * 1e6 for t in total]

    old = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {min(old)})
    try:
        # an untimed sweep sizes the timed ones to about a second each; the
        # batch runs between them
        t0 = time.perf_counter()
        sweep(1)
        tiles = max(1, round(1.0 / (time.perf_counter() - t0)))
        sweeps = []
        for rep in range(reps):
            if rep == reps // 2:
                with _gc_paused():
                    t0 = time.perf_counter()
                    for _ in _parse_batches(iter([batch])):
                        pass
                    batch_us = (time.perf_counter() - t0) / rows * 1e6
            sweeps.append(sweep(tiles))
        null_b, null_s, sink, doc = (statistics.median(col) for col in zip(*sweeps))
    finally:
        os.sched_setaffinity(0, old)
    return {
        "parser.null_sink_us_per_page": null_b,
        "parser.decode_us_per_page": null_b - null_s,
        "extract.sink_us_per_page": sink - null_b,
        "extract.doc_us_per_page": doc - sink,
        "job.batch_us_per_page": batch_us - doc,
        "extract_doc_us": doc,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["crawl_extract", "clustered_checkpoint",
                             "curation_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this run's checksums in expected.json where "
                         "none is recorded yet, then check against them")
    args = ap.parse_args()

    try:
        import htmpark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "htmpark", "job.py")):
        print("perfbench: no htmpark package in this checkout", file=sys.stderr)
        return 2

    from spans import Tracer

    import metrics

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    tracer = Tracer(f"{args.workload}-{args.seed}-{int(time.time())}")
    try:
        t0 = time.time()
        inputs = make_inputs(args.workload, args.seed, work)
        generate_s = time.time() - t0
        spec = {"workload": args.workload, "seconds": args.seconds,
                "trace": bool(args.trace), "work": work,
                "input": inputs.get("input"), "sf": inputs.get("sf"),
                "sample": [u for u, _ in inputs.get("sample", [])],
                "num_parts": 4, "publish_every": 2, "min_passes": 3, "verify": True,
                "queries": list(CURATION_QUERIES)}
        k = cores()
        steal0, total0 = cpu_times()
        main_level = run_level(spec, k, work)
        single = None
        if args.trace and args.workload == "crawl_extract":
            # two timed passes, unchecked: a pass takes K times longer there
            single = run_level(dict(spec, seconds=0, min_passes=2, verify=False),
                               1, work)
        steal1, total1 = cpu_times()
        inputs["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
        bench = microbench(inputs["bench"]) if args.trace and "bench" in inputs \
            else None
        if args.record:
            metrics.record(args.workload, args.seed, main_level,
                           os.path.join(HERE, "expected.json"))
        problems: list[str] = []
        if args.workload == "curation_queries":
            metrics.check_queries(main_level, load_expected(), problems)
        else:
            check_pages(args.workload, args.seed, inputs, main_level["out"],
                        problems)
            if args.workload == "clustered_checkpoint":
                metrics.check_manifest(main_level, spec, len(inputs["urls"]),
                                       problems)
        result = metrics.build(args.workload, main_level, single, bench, inputs,
                               generate_s, bool(args.trace), tracer, t0,
                               DRIVER_MEM)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed = result.pop("attempted"), result.pop("failed")
    failed += len(problems)
    for p in problems[:20]:
        print(f"perfbench: WRONG OUTPUT: {p}", file=sys.stderr)
    if args.trace:
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(path)
        print(f"perfbench: spans written to {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": result["metrics"]}))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
