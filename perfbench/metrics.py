"""Metric definitions and the gates that need a level's result.

END_TO_END and PER_LAYER are the metric names and units BENCHMARK.json
lists; build() computes exactly one of the two sets for a run.  A per-layer
metric that a workload does not exercise reads 0 there (see README.md for
which metric each workload moves).
"""

from __future__ import annotations

import json
import statistics

END_TO_END = {
    "work_s": "s", "setup_s": "s",
    "jvm_peak_rss_mb": "MB", "worker_peak_rss_mb": "MB", "ok_frac": "ratio",
}

FAMILIES = ("html", "dedup", "sim", "text", "rel", "web", "stream", "warc",
            "mm", "sketch", "graph", "pdf", "curation")

PER_LAYER = {
    "input.pages": "count", "input.html_bytes": "B",
    "input.tags_per_page": "count", "input.hot_host_share": "ratio",
    "input.degenerate_share": "ratio",
    "parser.null_sink_us_per_page": "us", "parser.decode_us_per_page": "us",
    "extract.sink_us_per_page": "us", "extract.doc_us_per_page": "us",
    "job.batch_us_per_page": "us", "job.boundary_us_per_page": "us",
    "job.invalid_utf8_failures": "count",
    "job.salted": "bool", "job.detect_s": "s", "job.first_s": "s",
    "job.resume_s": "s", "job.resume_redo_pages": "count",
    "job.scan_amplification": "ratio", "job.shuffle_amplification": "ratio",
    "job.write_stage_ms": "ms", "job.audit_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.run_ms": "ms",
    "spark.jvm_cpu_ms": "ms", "spark.gc_ms": "ms",
    "spark.sched_delay_ms": "ms", "spark.shuffle_fetch_wait_ms": "ms",
    "spark.input_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.output_bytes": "B",
    "spark.spill_bytes": "B", "spark.peak_exec_mem_bytes": "B",
    "spark.task_p50_ms": "ms", "spark.task_max_ms": "ms",
    "spark.task_skew": "ratio",
    **{f"queries.{f}_s": "s" for f in FAMILIES},
    **{f"queries.{f}.gc_ms": "ms" for f in FAMILIES},
    **{f"queries.{f}.shuffle_bytes": "B" for f in FAMILIES},
    "queries.dedup_pairs_memo_s": "s", "queries.dedup_labels_memo_s": "s",
    "setup.session_s": "s", "setup.warm_s": "s", "setup.generate_s": "s",
    "setup.driver_heap_mb": "MB",
    "parser.elements_per_page": "count", "parser.text_nodes_per_page": "count",
    "parser.tok_errors": "count", "extract.main_text_chars_per_page": "count",
    "pages_per_s": "pages/s", "job_s": "s", "queries_s": "s",
    "scaling_eff_1to4": "ratio",
    "failed_frac": "ratio", "trace.overhead_s": "s", "host.steal_frac": "ratio",
}

MEMOS = {"dedup_pairs_memo": "queries.dedup_pairs_memo_s",
         "dedup_labels_memo": "queries.dedup_labels_memo_s"}


def _family(name: str) -> str:
    return "dedup" if name in MEMOS else name.split("_", 1)[0]


def check_queries(level: dict, expected: dict, problems: list[str]) -> None:
    """Every query ran, and its row count and value hash (as
    tools/check_oracle.py computes them) equal the recorded ones."""
    problems.extend(level["failed"])
    want = expected.get("curation_queries", {})
    for name, got in level["hashes"].items():
        if name not in want:
            problems.append(f"{name}: no recorded hash")
        elif got != want[name]:
            problems.append(f"{name}: rows/hash {got[0]}/{got[1][:12]} != "
                            f"recorded {want[name][0]}/{want[name][1][:12]}")


def check_manifest(level: dict, spec: dict, pages: int,
                   problems: list[str]) -> None:
    if level["manifest_rows"] != spec["num_parts"]:
        problems.append(f"manifest has {level['manifest_rows']} rows for "
                        f"{spec['num_parts']} parts")
    if level["manifest_pages"] != pages:
        problems.append(f"manifest n_pages sum {level['manifest_pages']} != "
                        f"{pages} input pages")


def record(workload: str, seed: int, level: dict, path: str) -> None:
    """Store this run's checksums as the recorded ones where none exist."""
    with open(path) as f:
        expected = json.load(f)
    if workload == "curation_queries":
        got = expected.setdefault(workload, {})
        for name, h in level["hashes"].items():
            got.setdefault(name, h)
    else:
        expected.setdefault(workload, {}).setdefault(str(seed),
                                                     level["out"]["checksum"])
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


def _stage_sum(stages, key) -> float:
    return sum(s[key] for s in stages)


def _failed_frac(workload: str, level: dict, pages: int) -> float:
    """Pages missing or emitted with parse_ok=false ÷ pages attempted; for
    the query workload, queries that raised ÷ queries attempted."""
    if workload == "curation_queries":
        return len(level["failed"]) / (level["attempted"] + len(MEMOS))
    return 1 - level["out"]["ok"] / pages


def _work_s(workload: str, level: dict) -> float:
    """Time of the workload's unit of work: the median extraction pass, the
    median job cycle (cut run + resume), or the whole query list."""
    if workload == "crawl_extract":
        return statistics.median(level["passes"])
    if workload == "clustered_checkpoint":
        return statistics.median(level["job_s"])
    return sum(level["times"].values())


def _end_to_end(workload: str, level: dict, pages: int) -> dict:
    return {"work_s": _work_s(workload, level),
            "setup_s": level["session_s"] + level["warm_s"],
            "jvm_peak_rss_mb": level["jvm_peak_rss_mb"],
            "worker_peak_rss_mb": level["worker_peak_rss_mb"],
            "ok_frac": 1 - _failed_frac(workload, level, pages)}


def _timed_calls(workload: str, level: dict) -> list[dict]:
    """The representative timed work: the last extraction pass, the last job
    cycle (first run + resume), or every query."""
    calls = [c for c in level["calls"] if c["phase"] == "workload"]
    if workload == "crawl_extract":
        return calls[-1:]
    if workload == "clustered_checkpoint":
        return [c for c in calls if c["name"].startswith("run_extraction")][-2:]
    return calls


def _write_and_audit(calls) -> tuple[list, list]:
    """Split a job cycle's stages into the data write (the stage that reads
    the salted shuffle and writes parquet) and the audit + publish stages
    that follow a write in the same call."""
    writes, audit = [], []
    for c in calls:
        w = [s for s in c["stages"] if s["output_bytes"] > 0
             and s["shuffle_read_bytes"] > 0]
        writes += w
        if w:
            after = min(s["end"] for s in w)
            audit += [s for s in c["stages"] if s not in w and s["start"] >= after]
    return writes, audit


def _per_layer(workload, level, single, bench, inputs, generate_s,
               driver_mem) -> dict:
    from sparkstats import summarize

    m = dict.fromkeys(PER_LAYER, 0.0)
    d = inputs.get("describe", {})
    pages = d.get("pages", 0)
    m.update({"input.pages": pages, "input.html_bytes": d.get("html_bytes", 0),
              "input.tags_per_page": d.get("tags_per_page", 0),
              "input.hot_host_share": d.get("hot_host_share", 0),
              "input.degenerate_share": d.get("degenerate_share", 0),
              "setup.session_s": level["session_s"],
              "setup.warm_s": level["warm_s"], "setup.generate_s": generate_s,
              "setup.driver_heap_mb": int(driver_mem.rstrip("g")) * 1024,
              "trace.overhead_s": level["hook_s"],
              "host.steal_frac": inputs["steal_frac"],
              "failed_frac": _failed_frac(workload, level, pages)})
    timed = _timed_calls(workload, level)
    stages = [s for c in timed for s in c["stages"]]
    m.update(summarize([j for c in timed for j in c["jobs"]], stages))
    if bench:
        m.update({k: v for k, v in bench.items() if k in PER_LAYER})
    if workload != "curation_queries":
        out = level["out"]
        m.update({"pages_per_s": pages / _work_s(workload, level),
                  "parser.elements_per_page": out["elements"] / pages,
                  "parser.text_nodes_per_page": out["text_nodes"] / pages,
                  "parser.tok_errors": out["tok_errors"],
                  "extract.main_text_chars_per_page":
                      out["main_text_chars"] / pages})
        # the parse stage: the one stage of a pass, or each wave's write
        parse = stages if workload == "crawl_extract" \
            else _write_and_audit(timed)[0]
        if bench:
            m["job.boundary_us_per_page"] = (_stage_sum(parse, "run_ms") * 1e3
                                             / pages - bench["extract_doc_us"])
    if workload == "crawl_extract":
        m["job.salted"] = int(bool(d.get("salted")))
        m["job.invalid_utf8_failures"] = level["invalid_utf8_failures"]
        if single:
            pps = statistics.median(pages / p for p in level["passes"])
            pps1 = statistics.median(pages / p for p in single["passes"])
            m["scaling_eff_1to4"] = pps / (level["cores"] * pps1)
    elif workload == "clustered_checkpoint":
        last = level["cycles"][-1]
        writes, audit = _write_and_audit(timed)
        m.update({
            "job.salted": int(bool(level["salted"])),
            "job.detect_s": level["detect_s"],
            "job.first_s": last["first_s"], "job.resume_s": last["resume_s"],
            "job.resume_redo_pages": last["first_pages"] + last["resume_pages"]
            - pages,
            "job.scan_amplification": _stage_sum(stages, "input_records")
            / pages,
            "job.shuffle_amplification": _stage_sum(stages, "shuffle_write_bytes")
            / d["html_bytes"],
            "job.write_stage_ms": sum((s["end"] - s["start"]) * 1e3
                                      for s in writes),
            "job.audit_ms": sum((s["end"] - s["start"]) * 1e3 for s in audit),
            "job_s": _work_s(workload, level),
        })
    else:
        times = level["times"]
        for name, t in times.items():
            if name in MEMOS:
                m[MEMOS[name]] = t
            m[f"queries.{_family(name)}_s"] += t
        for c in timed:
            fam = _family(c["name"])
            for s in c["stages"]:
                m[f"queries.{fam}.gc_ms"] += s["gc_ms"]
                m[f"queries.{fam}.shuffle_bytes"] += s["shuffle_write_bytes"]
        m["queries_s"] = _work_s(workload, level)
    return m


def build(workload, level, single, bench, inputs, generate_s, trace, tracer,
          t0, driver_mem) -> dict:
    """The run's metrics (end-to-end or per-layer), its attempted/failed
    counts, and its spans grafted into ``tracer``."""
    pages = inputs.get("describe", {}).get("pages", 0)
    if trace:
        metrics = _per_layer(workload, level, single, bench, inputs,
                             generate_s, driver_mem)
        units = PER_LAYER
    else:
        metrics = _end_to_end(workload, level, pages)
        units = END_TO_END
    if workload == "curation_queries":
        attempted = level["attempted"] + len(MEMOS)
        failed = len(level["failed"])
    else:
        attempted, failed = pages, pages - level["out"]["rows"]
    _graft(tracer, workload, level, single, t0)
    return {"attempted": attempted, "failed": max(failed, 0),
            "metrics": {k: {"value": metrics[k], "unit": units[k]}
                        for k in units}}


def _graft(tracer, workload, level, single, t0) -> None:
    spans = level["spans"] + (single["spans"] if single else [])
    end = max(s["end"] for s in spans)
    setup = [s for s in level["spans"] if s.get("phase") == "setup"]
    work = [s for s in level["spans"] if s.get("phase") == "workload"]
    run = tracer.add("run", t0, end)
    sid = tracer.add("setup", t0, max(s["end"] for s in setup), parent=run)
    wid = tracer.add(f"workload.{workload}", min(s["start"] for s in work),
                     end, parent=run)
    tracer.extend(level["spans"],
                  lambda s: sid if s.get("phase") == "setup" else wid)
    if single:
        tracer.extend(single["spans"], lambda s: wid)
