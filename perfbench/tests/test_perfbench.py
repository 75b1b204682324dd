"""Tests of the benchmark's own code (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
from spans import Tracer, covered, with_self_time  # noqa: E402
from verify import checksum, compare_rows, reference_row  # noqa: E402


@pytest.mark.parametrize("make", [gen.crawl_table, gen.clustered_table])
def test_generator_is_deterministic_per_seed(make, tmp_path):
    a, deg_a = make(7, 300)
    b, deg_b = make(7, 300)
    c, _ = make(8, 300)
    assert a.equals(b) and deg_a == deg_b
    assert not a.equals(c)
    gen.write_table(a, str(tmp_path / "a"), files=2, row_group=64)
    gen.write_table(b, str(tmp_path / "b"), files=2, row_group=64)
    for name in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / name).read_bytes() == \
            (tmp_path / "b" / name).read_bytes()


def test_crawl_table_plants_each_degenerate_kind_and_one_oversize_page():
    table, degenerate = gen.crawl_table(3, 2000)
    html = table.column("html").to_pylist()
    assert len(degenerate) == 2 * len(gen.DEGENERATE) + 1
    assert sum(h is None for h in html) == 2
    assert sum(h is not None and len(h) > gen.MAX_HTML_BYTES for h in html) == 1
    assert all(html[i] is None or len(html[i]) > gen.MAX_HTML_BYTES
               or b"<div>" * 100 in html[i] or html[i].endswith(b"<a hr")
               for i in degenerate)


def test_detector_decision_flips_between_the_generated_tables(tmp_path):
    crawl, _ = gen.crawl_table(1, 600)
    hot, _ = gen.clustered_table(1, 600)
    cool, _ = gen.clustered_table(1, 600, hot_share=0.3)
    for name, table, rows in (("crawl", crawl, 128), ("hot", hot, 64),
                              ("cool", cool, 64)):
        gen.write_table(table, str(tmp_path / name), files=4, row_group=rows)
    assert gen.salting_decision(str(tmp_path / "crawl")) is False
    assert gen.salting_decision(str(tmp_path / "hot")) is True
    # the decision follows the hot host's share, not the sort order alone
    assert gen.salting_decision(str(tmp_path / "cool")) is False


def _rows():
    pages = [(f"https://h.example/{i}", f"<p>page {i}<a href=/x{i}>x</a>".encode())
             for i in range(5)] + [("https://h.example/null", None)]
    return [reference_row(u, h) for u, h in pages]


def test_checksum_is_order_insensitive_and_fails_on_one_altered_row():
    rows = _rows()
    base = checksum(rows)
    assert checksum(list(reversed(rows))) == base
    altered = [dict(r) for r in rows]
    altered[2]["text"] += " "
    assert checksum(altered) != base
    assert compare_rows(altered, rows) == [f"{rows[2]['url']}: text differ"]
    assert checksum(rows[:-1]) != base
    assert checksum(rows + rows[:1]) != base
    assert compare_rows(rows[1:], rows) == [f"{rows[0]['url']}: missing from output"]


def test_reference_error_row_for_a_null_page():
    row = _rows()[-1]
    assert row["parse_ok"] is False and row["text"] == "" and row["outlinks"] == []


def test_self_time_is_duration_minus_covered_child_time():
    t = Tracer("r")
    root = t.add("call", 0.0, 10.0)
    # two overlapping children cover [1, 5]; a third covers [7, 8]; one
    # child runs past the parent's end and is clipped to it
    t.add("a", 1.0, 4.0, parent=root)
    t.add("b", 2.0, 5.0, parent=root)
    t.add("c", 7.0, 8.0, parent=root)
    t.add("d", 9.5, 12.0, parent=root)
    spans = {s["name"]: s for s in with_self_time(t.spans)}
    assert covered(0.0, 10.0, [(1, 4), (2, 5), (7, 8), (9.5, 12)]) == 5.5
    assert spans["call"]["duration"] == 10.0
    assert spans["call"]["self_time"] == pytest.approx(10.0 - 5.5)
    assert spans["a"]["self_time"] == 3.0


def test_grafted_spans_keep_their_tree():
    sub = Tracer("sub")
    call = sub.add("call.x", 1.0, 2.0, phase="workload")
    sub.add("spark.job.0", 1.1, 1.9, parent=call)
    t = Tracer("run")
    run = t.add("run", 0.0, 3.0)
    t.extend(sub.spans, lambda s: run)
    assert [(s["name"], s["parent"]) for s in t.spans] == [
        ("run", None), ("call.x", 0), ("spark.job.0", 1)]
    assert all(s["run"] == "run" for s in t.spans)


def test_benchmark_json_lists_exactly_the_metrics_the_run_prints():
    import json
    import re

    import metrics

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == metrics.PER_LAYER
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
             for m in doc[k]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    units = [m["unit"] for k in ("end_to_end", "per_layer") for m in doc[k]]
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", u) for u in units)
    assert all(0 < m["bound"] <= 0.25 for m in doc["end_to_end"])
    setup = [m for m in doc["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in doc["end_to_end"])
