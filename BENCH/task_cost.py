#!/usr/bin/env python3
"""What a Spark task costs when it carries almost nothing, by kind.

Reproduces the BENCH/BASELINE.md "Per-task cost" table: each call moves
4,000 rows over N tasks (``spark.range(0, 4000, 1, N)``) into a ``noop``
sink, for N in 4/12/24/48, through

- ``_map_rows`` identity: htmpark's row-local Python stage
  (``queries._map_rows``, which enters through ``job.python_stage``);
- JVM-only ``selectExpr("id * 2")``: the control, no Python worker.

One ``local[4]`` session (2g driver heap unless ``HTMPARK_DRIVER_MEM``
says otherwise, ``spark.ui.enabled=false``).  One untimed call of each
kind at 4 and at 48 tasks warms the Python workers and codegen; then
``--rounds`` rounds, each running every kind at every N in turn, so host
drift lands on all cells alike.  Prints the median wall seconds per call
with [min-max] over the rounds, the slope from 4 to 48 tasks (wall
seconds per extra task, times the slot count = slot seconds per task),
and one JSON line.

Usage (pin it to the slots it uses; the slope is host-specific):
  taskset -c 0-3 python3 BENCH/task_cost.py [--tree CHECKOUT] [--rounds 7]

``--tree`` imports ``htmpark`` from another checkout (the directory
holding ``htmpark/``), so two commits can be measured with the same
script; run them alternately to interleave the commits too.
"""
import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TASKS = (4, 12, 24, 48)
SLOTS = 4
ROWS = 4000


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--tree", default=ROOT)
    ap.add_argument("--rounds", type=int, default=7)
    args = ap.parse_args()
    tree = os.path.abspath(args.tree)
    sys.path.insert(0, tree)
    # Python workers import htmpark from their working directory
    os.chdir(tree)
    os.environ.setdefault("HTMPARK_DRIVER_MEM", "2g")

    from htmpark.job import build_session
    from htmpark.queries import _map_rows

    spark = build_session(f"local[{SLOTS}]", shuffle_partitions=2 * SLOTS,
                          app_name="task-cost",
                          extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    def identity(i):
        yield (i,)

    kinds = {
        "_map_rows identity":
            lambda df: _map_rows(df, identity, "id bigint"),
        'JVM-only selectExpr("id * 2")':
            lambda df: df.selectExpr("id * 2 AS id"),
    }

    def call(kind, n) -> float:
        df = spark.range(0, ROWS, 1, n)
        t0 = time.perf_counter()
        kinds[kind](df).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for kind in kinds:
        for n in (TASKS[0], TASKS[-1]):
            call(kind, n)
    secs = {(k, n): [] for k in kinds for n in TASKS}
    for _ in range(args.rounds):
        for kind in kinds:
            for n in TASKS:
                secs[kind, n].append(call(kind, n))
    spark.stop()

    med = {key: statistics.median(v) for key, v in secs.items()}
    print(f"tree: {tree}, local[{SLOTS}], {args.rounds} rounds, "
          f"median wall s per call [min-max]")
    print("| kind | " + " | ".join(f"{n} tasks" for n in TASKS) + " |")
    print("|---|" + "---|" * len(TASKS))
    slopes = {}
    for kind in kinds:
        cells = [f"{med[kind, n]:.3f} [{min(secs[kind, n]):.2f}–"
                 f"{max(secs[kind, n]):.2f}]" for n in TASKS]
        print(f"| {kind} | " + " | ".join(cells) + " |")
        slopes[kind] = ((med[kind, TASKS[-1]] - med[kind, TASKS[0]])
                        / (TASKS[-1] - TASKS[0]))
    for kind, s in slopes.items():
        print(f"slope {kind}: {s:.4f} s wall per task, "
              f"{s * SLOTS:.3f} s of slot time per task")
    print(json.dumps({
        "tree": tree, "slots": SLOTS, "rounds": args.rounds,
        "median_s": {k: {str(n): round(med[k, n], 4) for n in TASKS}
                     for k in kinds},
        "min_s": {k: {str(n): round(min(secs[k, n]), 4) for n in TASKS}
                  for k in kinds},
        "max_s": {k: {str(n): round(max(secs[k, n]), 4) for n in TASKS}
                  for k in kinds},
        "slot_s_per_task": {k: round(s * SLOTS, 4)
                            for k, s in slopes.items()},
    }))


if __name__ == "__main__":
    main()
