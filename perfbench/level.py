"""One Spark level of a benchmark run, in its own process.

    python3 perfbench/level.py SPEC.json OUT.json

run.py starts this under ``taskset`` so the driver JVM and its Python workers
stay on the cores of the level.  It starts one session, warms it, runs the
workload's timed calls for the spec's seconds, collects what the correctness
gate needs, reads peak RSS from /proc, and writes one JSON result.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from spans import Tracer  # noqa: E402
from verify import CHECKED, checksum  # noqa: E402

OUT_COLS = list(CHECKED) + ["n_elements", "n_text_nodes", "tok_errors"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Recorder:
    """Times calls into the program.  With tracing on, each call runs under
    its own job group, and its Spark jobs and stages become child spans."""

    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.trace = trace
        self.tracer = Tracer("level")
        self.calls: list[dict] = []
        self.hook_s = 0.0
        self.phase = "workload"

    def call(self, name: str, fn, phase: str | None = None):
        phase = phase or self.phase
        group = f"{name}#{len(self.calls)}"
        if self.trace:
            self.sc.setJobGroup(group, name)
        t0 = time.time()
        value = fn()
        t1 = time.time()
        sid = self.tracer.add(f"call.{name}", t0, t1, phase=phase)
        call = {"name": name, "phase": phase, "s": t1 - t0,
                "jobs": [], "stages": []}
        if self.trace:
            from sparkstats import group_stats
            call["jobs"], call["stages"] = group_stats(self.sc, group)
            for j in call["jobs"]:
                jsid = self.tracer.add(f"spark.job.{j['id']}", j["start"] or t0,
                                       j["end"] or t1, parent=sid)
                for st in call["stages"]:
                    if st["job"] == j["id"]:
                        self.tracer.add(
                            f"spark.stage.{st['id']}", st["start"], st["end"] or t1,
                            parent=jsid, **{k: v for k, v in st.items()
                                            if k not in ("id", "start", "end",
                                                         "task_ms")})
            self.hook_s += time.time() - t1
        self.calls.append(call)
        return value, t1 - t0


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def peak_rss(sc) -> dict:
    """VmHWM of the driver JVM and the largest of its Python workers, and
    the pids of all of them, for run.py to wait on."""
    jvm = sc._gateway.proc.pid
    workers = _descendants(jvm)
    return {"jvm_peak_rss_mb": _vm_hwm_mb(jvm),
            "worker_peak_rss_mb": max(map(_vm_hwm_mb, workers), default=0.0),
            "pids": [jvm] + workers}


def _rows(df) -> list[dict]:
    return df.select(*OUT_COLS).toArrow().to_pylist()


def _row_summary(rows: list[dict], sample: set[str]) -> dict:
    return {
        "rows": len(rows),
        "ok": sum(1 for r in rows if r["parse_ok"]),
        "checksum": checksum(rows),
        "urls": sorted(r["url"] for r in rows),
        "sample_rows": [{c: r[c] for c in CHECKED} for r in rows
                        if r["url"] in sample],
        "elements": sum(r["n_elements"] or 0 for r in rows),
        "text_nodes": sum(r["n_text_nodes"] or 0 for r in rows),
        "tok_errors": sum(r["tok_errors"] or 0 for r in rows),
        "main_text_chars": sum(len(r["main_text"] or "") for r in rows),
    }


def _until(seconds: float, minimum: int, step) -> list[float]:
    """Run ``step`` until ``seconds`` have passed and at least ``minimum``
    times; returns each step's timed seconds."""
    out, end = [], time.time() + seconds
    while len(out) < minimum or time.time() < end:
        out.append(step())
    return out


def crawl_extract(spark, spec, rec) -> dict:
    from htmpark.job import extract_pages

    df = spark.read.parquet(spec["input"])
    rec.call("extract_pages", lambda: noop(extract_pages(df, salt_buckets="auto")),
             phase="setup")
    passes = _until(spec["seconds"], spec["min_passes"], lambda: rec.call(
        "extract_pages",
        lambda: noop(extract_pages(df, salt_buckets="auto")))[1])
    result = {"passes": passes}
    if not spec["verify"]:
        return result
    rows = _rows(extract_pages(df, salt_buckets="auto"))
    result["out"] = _row_summary(rows, set(spec["sample"]))
    if spec["trace"]:
        result["invalid_utf8_failures"] = _invalid_utf8_probe(spark, rec)
    return result


def _invalid_utf8_probe(spark, rec) -> int:
    """1 when a one-page table holding invalid UTF-8 fails its extraction
    job instead of yielding an error row, else 0."""
    from gen import invalid_utf8_page
    from htmpark.job import extract_pages

    df = spark.createDataFrame([("https://bad.example/", invalid_utf8_page(0))],
                               "url string, html binary")
    try:
        rec.call("extract_pages.invalid_utf8",
                 lambda: noop(extract_pages(df, salt_buckets=0)), phase="probe")
    except Exception:  # the failure is what the probe counts
        return 1
    return 0


def clustered_checkpoint(spark, spec, rec) -> dict:
    from htmpark.job import detect_host_clustered, run_extraction

    df = spark.read.parquet(spec["input"])
    parts, every = spec["num_parts"], spec["publish_every"]
    half = -(-parts // every) // 2
    salted, detect_s = rec.call("detect_host_clustered",
                                lambda: detect_host_clustered(df))

    cycles = []

    def cycle():
        out = os.path.join(spec["work"], f"job{len(rec.calls)}")
        first, first_s = rec.call("run_extraction", lambda: run_extraction(
            spark, df, out, num_parts=parts, publish_every=every,
            max_waves=half))
        resume, resume_s = rec.call("run_extraction.resume", lambda: run_extraction(
            spark, df, out, num_parts=parts, publish_every=every))
        if cycles:
            shutil.rmtree(cycles[-1]["out"])
        cycles.append({"out": out, "first_s": first_s, "resume_s": resume_s,
                       "first_pages": first["pages"],
                       "resume_pages": resume["pages"]})
        return first_s + resume_s

    # an untimed first cycle warms the salted parse, the partitioned write,
    # the manifest audit and the resume's manifest read; their first use
    # costs more than a whole steady cycle, whatever the size of the input
    rec.phase = "setup"
    cycle()
    rec.phase = "workload"
    job_s = _until(spec["seconds"], 1, cycle)
    del cycles[0]
    last = cycles[-1]
    man = spark.read.parquet(os.path.join(last["out"], "manifest")).collect()
    rows = _rows(spark.read.parquet(os.path.join(last["out"], "data")))
    return {"job_s": job_s, "cycles": [dict(c, out=None) for c in cycles],
            "salted": salted, "detect_s": detect_s,
            "manifest_rows": len(man),
            "manifest_pages": sum(r["n_pages"] for r in man),
            "out": _row_summary(rows, set(spec["sample"]))}


def curation_queries(spark, spec, rec) -> dict:
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from BENCH.bench_common import warm_session
    from check_oracle import frame_hash
    from htmpark.queries import REGISTRY, candidate_pairs, q_dedup_clusters

    sf = spec["sf"]
    rec.call("warm_session", lambda: warm_session(spark, sf, registry_head=0),
             phase="setup")
    times, failed = {}, []
    _, times["dedup_pairs_memo"] = rec.call(
        "dedup_pairs_memo", lambda: candidate_pairs(spark, sf))
    _, times["dedup_labels_memo"] = rec.call(
        "dedup_labels_memo", lambda: noop(q_dedup_clusters(spark, sf)))
    names = [n for n in REGISTRY if n in spec["queries"]]
    hashes = {}
    for name in names:
        try:
            tab, times[name] = rec.call(
                name, lambda: REGISTRY[name][0](spark, sf).toArrow())
        except Exception as e:  # a raising query is a counted failure
            failed.append(f"{name}: {type(e).__name__}: {e}"[:300])
            continue
        cols = tab.column_names
        rows = [tuple(d[c] for c in cols) for d in tab.to_pylist()]
        hashes[name] = [len(rows), frame_hash(cols, rows)]
    return {"times": times, "failed": failed, "hashes": hashes,
            "attempted": len(names)}


WORKLOADS = {f.__name__: f for f in (crawl_extract, clustered_checkpoint,
                                     curation_queries)}


def main(spec_path: str, out_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    t0 = time.time()
    from htmpark.job import build_session

    spark = build_session(
        f"local[{spec['cores']}]", shuffle_partitions=max(8, 2 * spec["cores"]),
        app_name=f"perfbench-{spec['workload']}",
        extra_conf={"spark.ui.enabled": "false",
                    "spark.sql.warehouse.dir": os.path.join(spec["work"], "wh"),
                    # JVM temp files stay in the checkout and no perf data
                    # goes to /tmp; the heap is committed and touched up
                    # front, so the JVM's peak RSS is that fixed heap plus
                    # what lives off it (Arrow buffers, metaspace, code),
                    # not an accident of when the collector grew the heap
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                        f"-Xms{os.environ['HTMPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch"})
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.time()
    rec = Recorder(spark, spec["trace"])
    rec.tracer.add("session", t0, t1, phase="setup")
    try:
        result = WORKLOADS[spec["workload"]](spark, spec, rec)
        result.update(peak_rss(spark.sparkContext))
        result.update({
            "session_s": t1 - t0,
            "warm_s": sum(c["s"] for c in rec.calls if c["phase"] == "setup"),
            "spans": rec.tracer.spans, "calls": rec.calls,
            "hook_s": rec.hook_s, "cores": spec["cores"],
        })
    finally:
        spark.stop()
    with open(out_path, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
