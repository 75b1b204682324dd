"""Pipeline-level fixtures (FIXTURES.md §5): determinism, resume, skew."""
import os
import re

import pytest
from pyspark.sql import functions as F

import htmpark
from htmpark.corpus import synthesize_pages
from htmpark.extract import extract_doc
from htmpark.job import extract_pages, run_extraction, salted_repartition

N = 400


def test_corpus_is_deterministic(spark):
    a = synthesize_pages(spark, 50, partitions=1).collect()
    b = synthesize_pages(spark, 50, partitions=7).collect()
    am = {r.url: (bytes(r.html), r.lang, r.warc_ts) for r in a}
    bm = {r.url: (bytes(r.html), r.lang, r.warc_ts) for r in b}
    assert am == bm


def test_corpus_skew_shape(spark):
    rows = synthesize_pages(spark, 500).select("url").collect()
    host0 = sum(1 for r in rows if "host000" in r.url)
    assert host0 == 100  # i % 5 == 0 -> exactly 20%


def test_extraction_matches_local_parser(spark):
    """The distributed path must equal single-process extract_doc per url."""
    df = synthesize_pages(spark, N)
    local = {
        r.url: extract_doc(bytes(r.html))["text"] for r in df.collect()
    }
    dist = {r.url: r.text for r in extract_pages(df).collect()}
    assert dist == local


def test_parallelism_invariance(spark):
    """Same (url -> text) map regardless of partitioning/salting."""
    df = synthesize_pages(spark, N)
    a = {r.url: r.text for r in extract_pages(df, salt_buckets=1, num_partitions=2).collect()}
    b = {r.url: r.text for r in extract_pages(df, salt_buckets=16, num_partitions=13).collect()}
    assert a == b
    assert len(a) == N


def test_salted_repartition_balances_hot_host(spark):
    df = synthesize_pages(spark, 1000)
    parts = (
        salted_repartition(df, salt_buckets=8, num_partitions=8)
        .withColumn("pid", F.spark_partition_id())
        .where(F.col("url").contains("host000"))
        .groupBy("pid").count().collect()
    )
    # 200 host000 rows must spread over >1 partition (unsalted -> exactly 1)
    assert len(parts) > 1
    assert max(r["count"] for r in parts) < 200


def test_auto_salt_from_footer_statistics(spark, tmp_out):
    """salt_buckets='auto' must DERIVE the shuffle decision from parquet
    footer url min/max statistics: a host-interleaved corpus (crawl order)
    proves no clustering -> no Exchange in the plan; the same rows sorted
    by url (SURT-index / partitioned-by-domain order, hosts spanning whole
    row groups) prove clustering -> salted Exchange stays.  In-memory
    input (no files, no stats) keeps the 8-bucket insurance."""
    from htmpark.job import detect_host_clustered

    # 10 hosts x 2000 realistic ~2KB pages: once sorted, each host spans
    # many 64KB row groups (the domain-partitioned-table shape the
    # detector exists for)
    pages = spark.range(0, 20000).selectExpr(
        "concat('https://host', lpad(cast(id % 10 as string), 3, '0'),"
        " '.example.com/p/', cast(id as string)) as url",
        "cast(concat('<p>page ', cast(id as string), repeat(' filler', 300),"
        " '</p>') as binary) as html")
    inter_path = os.path.join(tmp_out, "corpus_interleaved")
    clus_path = os.path.join(tmp_out, "corpus_clustered")
    pages.write.option("parquet.block.size", 64 * 1024).parquet(inter_path)
    (pages.orderBy("url")
          .write.option("parquet.block.size", 64 * 1024).parquet(clus_path))

    inter = spark.read.parquet(inter_path)
    clus = spark.read.parquet(clus_path)
    assert detect_host_clustered(inter) is False
    assert detect_host_clustered(clus) is True
    # in-memory df: unknowable -> None -> extract keeps the insurance salt
    df = synthesize_pages(spark, 100)
    assert detect_host_clustered(df) is None

    plan_inter = (extract_pages(inter, salt_buckets="auto")
                  ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan_inter, plan_inter
    plan_clus = (extract_pages(clus, salt_buckets="auto")
                 ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange hashpartitioning" in plan_clus, plan_clus
    # the salted exchange must carry an EXPLICIT partition count: a bare
    # repartition(cols) is AQE-coalescible and the byte-based coalesce
    # target starves the CPU-bound parse (measured 8.5k -> 2.6k pages/s)
    assert "REPARTITION_BY_NUM" in plan_clus, plan_clus
    plan_mem = (extract_pages(df, salt_buckets="auto")
                ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange hashpartitioning" in plan_mem, plan_mem


def test_run_extraction_and_resume(spark, tmp_out):
    df = synthesize_pages(spark, N)
    # full run
    full_out = os.path.join(tmp_out, "full")
    res = run_extraction(spark, df, full_out, num_parts=8, salt_buckets=4)
    assert res["pages"] == N and res["parts_done"] == 8
    full = {r.url: r.text for r in spark.read.parquet(full_out + "/data").collect()}
    assert len(full) == N

    # interrupted run: crash after 3 of 8 parts committed — simulated
    # deterministically via one published wave of 3 parts
    part_out = os.path.join(tmp_out, "partial")
    run_extraction(spark, df, part_out, num_parts=8, salt_buckets=4,
                   publish_every=3, max_waves=1)
    done_before = spark.read.parquet(part_out + "/manifest").select("part_id").distinct().count()
    assert done_before == 3

    res2 = run_extraction(spark, df, part_out, num_parts=8, salt_buckets=4)
    assert res2["parts_done"] == 5  # only the remaining parts were processed
    resumed = {r.url: r.text for r in spark.read.parquet(part_out + "/data").collect()}
    assert resumed == full  # identical to the uninterrupted run

    # lineage: one manifest row per part with counters
    man = spark.read.parquet(part_out + "/manifest")
    assert man.select("part_id").distinct().count() == 8
    total = man.agg(F.sum("n_pages")).collect()[0][0]
    assert total == N

    # re-running a completed job is a no-op
    res3 = run_extraction(spark, df, part_out, num_parts=8, salt_buckets=4)
    assert res3 == {"parts_done": 0, "pages": 0}


def test_run_extraction_resumes_over_warc_input(spark, tmp_out):
    """The north rule's resumable-checkpoint loop over ARCHIVE input:
    pages exported as gzip-member WARC shards, ingested via
    read_table(fmt='warc'), run interrupted after one published wave,
    resumed — bit-identical to an uninterrupted run, with per-part
    lineage intact.  (Consumers filter the html-NULL rotten-shard
    sentinels, per the read_warc contract.)"""
    from htmpark.job import read_table
    from htmpark.warc import write_warc_shards

    shards = os.path.join(tmp_out, "shards")
    write_warc_shards(
        synthesize_pages(spark, N).repartition(4, "url"), shards)
    src = (read_table(spark, shards, fmt="warc")
           .where(F.col("html").isNotNull()))

    full_out = os.path.join(tmp_out, "full")
    res = run_extraction(spark, src, full_out, num_parts=8, salt_buckets=4)
    assert res["pages"] == N and res["parts_done"] == 8
    full = {r.url: r.text
            for r in spark.read.parquet(full_out + "/data").collect()}
    assert len(full) == N

    part_out = os.path.join(tmp_out, "partial")
    run_extraction(spark, src, part_out, num_parts=8, salt_buckets=4,
                   publish_every=3, max_waves=1)
    res2 = run_extraction(spark, src, part_out, num_parts=8, salt_buckets=4)
    assert res2["parts_done"] == 5
    resumed = {r.url: r.text
               for r in spark.read.parquet(part_out + "/data").collect()}
    assert resumed == full

    man = spark.read.parquet(part_out + "/manifest")
    assert man.select("part_id").distinct().count() == 8
    assert man.agg(F.sum("n_pages")).collect()[0][0] == N


def test_run_extraction_publishes_empty_parts(spark, tmp_out):
    """Empty partitions (guaranteed when distinct urls hash into fewer than
    num_parts buckets) must still publish manifest rows (n_pages=0) —
    otherwise they stay in `remaining` forever and every resume re-runs a
    full scan+parse wave for a job that already finished."""
    df = synthesize_pages(spark, 3)  # 3 urls can fill at most 3 of 16 parts
    out = os.path.join(tmp_out, "sparse")
    res = run_extraction(spark, df, out, num_parts=16, salt_buckets=2)
    assert res["parts_done"] == 16 and res["pages"] == 3

    man = spark.read.parquet(out + "/manifest")
    assert man.select("part_id").distinct().count() == 16
    assert man.where(F.col("n_pages") == 0).count() == 16 - man.where(
        F.col("n_pages") > 0).count()
    assert man.agg(F.sum("n_pages")).collect()[0][0] == 3

    # completed job -> resume is the parts_done==0 early exit, no new wave
    res2 = run_extraction(spark, df, out, num_parts=16, salt_buckets=2)
    assert res2 == {"parts_done": 0, "pages": 0}


def test_static_overwrite_session_does_not_truncate(spark, tmp_out):
    """The dynamic overwrite mode is pinned at the WRITE SITE: a caller
    session configured with static partitionOverwriteMode must not truncate
    previously published partitions on resume (silent data loss)."""
    out = os.path.join(tmp_out, "static_mode")
    df = synthesize_pages(spark, 100)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        run_extraction(spark, df, out, num_parts=4, salt_buckets=2,
                       publish_every=2, max_waves=1)
        first = {r.url for r in spark.read.parquet(out + "/data").collect()}
        assert first  # wave 1 published something
        run_extraction(spark, df, out, num_parts=4, salt_buckets=2)  # resume
        after = {r.url for r in spark.read.parquet(out + "/data").collect()}
        assert first <= after and len(after) == 100
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_num_parts_mismatch_fails_fast(spark, tmp_out):
    out = os.path.join(tmp_out, "modulus")
    df = synthesize_pages(spark, 50)
    run_extraction(spark, df, out, num_parts=4, salt_buckets=2)
    with pytest.raises(ValueError, match="num_parts"):
        run_extraction(spark, df, out, num_parts=8, salt_buckets=2)


def test_wave_publish_bounds_redo(spark, tmp_out):
    """publish_every=k: a run stopped after wave 1 has published exactly k
    parts, and the resume rewrites only unpublished parts (published part
    directories stay byte-untouched)."""
    out = os.path.join(tmp_out, "waves")
    df = synthesize_pages(spark, N)
    res1 = run_extraction(spark, df, out, num_parts=8, salt_buckets=2,
                          publish_every=3, max_waves=1)
    assert res1["parts_done"] == 3
    man = spark.read.parquet(out + "/manifest")
    assert man.select("part_id").distinct().count() == 3

    def part_files(pid):
        d = os.path.join(out, "data", f"part_id={pid}")
        return {f: os.path.getmtime(os.path.join(d, f))
                for f in os.listdir(d) if f.endswith(".parquet")}

    published = [r[0] for r in man.select("part_id").distinct().collect()]
    before = {pid: part_files(pid) for pid in published}

    res2 = run_extraction(spark, df, out, num_parts=8, salt_buckets=2,
                          publish_every=3)
    assert res2["parts_done"] == 5
    for pid in published:
        assert part_files(pid) == before[pid]  # untouched on resume
    total = spark.read.parquet(out + "/manifest").agg(F.sum("n_pages")).collect()[0][0]
    assert total == N
    assert spark.read.parquet(out + "/data").count() == N


def _clustered_input(spark, path, n_files):
    """400 small pages in SURT order, one hot host owning 3/4 of them,
    written as ``n_files`` parquet files."""
    pages = spark.range(0, 400, 1, n_files).selectExpr(
        "concat('https://', CASE WHEN id < 300 THEN 'hot' ELSE "
        "concat('tail', cast(id % 5 as string)) END, "
        "'.example.com/p/', lpad(cast(id as string), 6, '0')) as url",
        "timestamp'2025-01-01 00:00:00' as warc_ts",
        "cast(concat('<p>page ', cast(id as string), repeat(' filler', 50),"
        " '</p>') as binary) as html",
        "'en' as lang")
    (pages.sortWithinPartitions("url")
          .write.option("parquet.block.size", 8 * 1024).parquet(path))
    return spark.read.parquet(path)


def _salted_width(df, **kw):
    plan = (extract_pages(df, salt_buckets=8, **kw)
            ._jdf.queryExecution().executedPlan().toString())
    m = re.search(r"Exchange hashpartitioning\(.*, (\d+)\), REPARTITION_BY_NUM",
                  plan)
    assert m, plan
    return int(m.group(1))


def test_salted_exchange_sized_by_scan_splits(spark, tmp_out):
    """The salted exchange takes max(defaultParallelism, scan splits) parse
    tasks: every Python task carries a fixed cost, so a fixed multiple of
    the slots would make a small input pay for tasks that carry almost
    nothing, while a many-split input keeps one parse task per split."""
    par = spark.sparkContext.defaultParallelism
    few = _clustered_input(spark, os.path.join(tmp_out, "few"), 1)
    assert few.rdd.getNumPartitions() < par
    assert _salted_width(few) == par
    # many small files under a small split target: Spark's byte-based
    # sizing yields more splits than slots, and the exchange follows them
    path = os.path.join(tmp_out, "many")
    _clustered_input(spark, path, par + 4)
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8k")
    try:
        many = spark.read.parquet(path)
        splits = many.rdd.getNumPartitions()
        assert splits > par
        assert _salted_width(many) == splits
        # a caller-pinned count still wins
        assert _salted_width(many, num_partitions=5) == 5
    finally:
        spark.conf.set(key, prev)


def test_run_extraction_job_shape(spark, tmp_out):
    """One wave of a salted job is five Spark jobs: the salted exchange and
    the partitioned write (AQE runs the exchange as its own job), the audit
    aggregate collected to the driver (again two), and one manifest append.
    A resume adds one manifest read; a finished job is that read alone.
    The parse stage runs max(defaultParallelism, scan splits) tasks."""
    from htmpark.job import detect_host_clustered

    sc = spark.sparkContext
    inp = _clustered_input(spark, os.path.join(tmp_out, "in"), 1)
    assert detect_host_clustered(inp) is True  # the salted branch
    out = os.path.join(tmp_out, "out")

    def run(group, **kw):
        sc.setJobGroup(group, group)
        try:
            res = run_extraction(spark, inp, out, num_parts=4, publish_every=2,
                                 **kw)
        finally:
            sc._jsc.clearJobGroup()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = [tracker.getStageInfo(st).numTasks for j in jobs
                 for st in tracker.getJobInfo(j).stageIds]
        return res, len(jobs), max(tasks, default=0)

    first, n_first, widest = run("shape-first", max_waves=1)
    assert first["parts_done"] == 2
    assert n_first <= 5
    assert widest == sc.defaultParallelism  # 1 split -> the floor
    rest, n_rest, _ = run("shape-resume")
    assert rest["parts_done"] == 2 and first["pages"] + rest["pages"] == 400
    assert n_rest <= 6
    done, n_done, _ = run("shape-done")
    assert done == {"parts_done": 0, "pages": 0} and n_done <= 1

    man = spark.read.parquet(out + "/manifest")
    assert man.count() == 4
    assert man.agg(F.sum("n_pages")).collect()[0][0] == 400
    # warc_ts bounds cross the driver exactly (every page has the same ts)
    ts = inp.select("warc_ts").first()[0]
    bounds = man.select("min_ts", "max_ts").distinct().collect()
    assert [tuple(r) for r in bounds] == [(ts, ts)]


def test_bucketed_join_is_exchange_free(spark, tmp_out):
    """write_bucketed pays the shuffle at write time: a join between two
    co-bucketed tables must contain NO Exchange in the plan (bucket i of
    both sides is read into the same task), and with sortBy no per-task
    Sort either."""
    from htmpark.job import write_bucketed

    a = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7 % 97).alias("x"))
    b = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 13 % 89).alias("y"))
    try:
        write_bucketed(a, "bk_a", "doc_id", buckets=8,
                       path=os.path.join(tmp_out, "bk_a"), sort_col="doc_id")
        write_bucketed(b, "bk_b", "doc_id", buckets=8,
                       path=os.path.join(tmp_out, "bk_b"), sort_col="doc_id")
        # merge hint = what the planner picks on its own once both sides
        # exceed the broadcast threshold (these test tables are tiny)
        j = spark.table("bk_a").hint("merge").join(spark.table("bk_b"), "doc_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        got = {(r.doc_id, r.x, r.y) for r in j.collect()}
        assert len(got) == 1000
        assert (5, 35, 65) in got
        # aggregation on the bucket key is exchange-free too
        g = spark.table("bk_a").groupBy("doc_id").agg(F.sum("x").alias("sx"))
        gplan = g._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in gplan, gplan
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_aqe_splits_skewed_join_partition(spark):
    """The skew defenses are layered: explicit salting for hot-host
    mapInPandas partitions (AQE can't fix those), AQE skew-join for
    runtime join skew.  This pins the second layer: a 95%-one-key fact
    joined to a dim must show SortMergeJoin(skew=true) with an
    AQEShuffleRead that split the hot partition (thresholds lowered to
    sandbox row counts; on the 100 TB config the defaults fire at 256MB)."""
    saved = {k: spark.conf.get(k) for k in (
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold")}
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        fact = spark.range(0, 100000).select(
            F.when(F.col("id") % 20 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("p"))
        dim = spark.range(0, 100000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
        j = fact.join(dim, "k")
        # collect() executes THIS DataFrame's plan (count() would build a
        # separate execution and leave j's AQE plan unfinalized)
        assert len(j.collect()) == 100000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "skewed" in plan  # AQEShuffleRead split the hot partition
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_oversize_guard_is_byte_exact_on_strings(spark):
    """max_html_bytes counts BYTES even for string html columns: a
    multi-byte-heavy page over the byte limit must be nulled."""
    import datetime
    from pyspark.sql.types import (StringType, StructField, StructType,
                                   TimestampType)

    schema = StructType([
        StructField("url", StringType()), StructField("warc_ts", TimestampType()),
        StructField("html", StringType()), StructField("lang", StringType()),
    ])
    # 600 chars but 1800 bytes of UTF-8 (3-byte chars) inside <p>...</p>
    fat = "<p>" + "€" * 600 + "</p>"
    rows = [("ascii", datetime.datetime(2025, 1, 1), "<p>ok</p>", "en"),
            ("fat", datetime.datetime(2025, 1, 1), fat, "en")]
    df = spark.createDataFrame(rows, schema)
    out = {r.url: r for r in
           extract_pages(df, salt_buckets=1, max_html_bytes=1000).collect()}
    assert out["ascii"].parse_ok
    assert not out["fat"].parse_ok  # 608 chars but ~1807 bytes -> nulled


def test_outlinks_extraction():
    """Outlinks: every <a href> in document order, entity-decoded, including
    chrome/nav links (frontier building wants ALL links; main-text chrome
    rules do not apply here)."""
    html = (b'<body><a href="/a?x=1&amp;y=2">l1</a><p>t</p>'
            b"<a href='/b'>l2</a><nav><a href=n>n</a></nav>"
            b'<a name=x>no-href</a></body>')
    row = extract_doc(html)
    assert row["outlinks"] == ["/a?x=1&y=2", "/b", "n"]


def test_outlinks_through_pipeline(spark):
    df = synthesize_pages(spark, 20)
    out = extract_pages(df, salt_buckets=0).collect()
    # corpus fragment 1 carries nav/footer links; fragment 9 an inline link
    linked = [r for r in out if r.outlinks]
    assert linked and all(isinstance(l, str) for r in linked for l in r.outlinks)
    frag1 = [r for r in out if "/p/1" == r.url[-4:]]
    assert frag1 and list(frag1[0].outlinks) == ["/a", "/b", "/c"]


def test_noindex_gate(spark):
    """drop_noindex removes exactly the pages whose <meta name=robots>
    contains noindex — pure JVM expression, no UDF."""
    import datetime
    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType, TimestampType)

    from htmpark.job import drop_noindex

    schema = StructType([
        StructField("url", StringType()), StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()), StructField("lang", StringType()),
    ])
    ts = datetime.datetime(2025, 1, 1)
    rows = [
        ("keep1", ts, b"<head><meta name=robots content='index,follow'></head><p>a</p>", "en"),
        ("keep2", ts, b"<p>no meta at all</p>", "en"),
        ("drop1", ts, b"<head><meta name=robots content='noindex'></head><p>b</p>", "en"),
        ("drop2", ts, b'<head><meta name="robots" content="all,noindex,nofollow"></head>', "en"),
        # meta name/content are attribute VALUES (tokenizer lowercases names,
        # not values) — the opt-out must match case-insensitively
        ("drop3", ts, b'<head><meta name="Robots" content="NOINDEX"></head><p>c</p>', "en"),
        ("drop4", ts, b"<head><meta name=ROBOTS content='NoIndex,nofollow'></head>", "en"),
    ]
    out = drop_noindex(extract_pages(spark.createDataFrame(rows, schema),
                                     salt_buckets=1))
    assert {r.url for r in out.collect()} == {"keep1", "keep2"}


def test_export_jsonl_roundtrip(spark, tmp_out):
    """JSONL training-data export: every kept document round-trips through
    Spark's JSON reader byte-identically; empty-text docs are dropped."""
    import json
    import gzip
    import glob

    from htmpark.job import export_jsonl

    df = synthesize_pages(spark, 60)
    parsed = extract_pages(df, salt_buckets=0)
    out = os.path.join(tmp_out, "jsonl")
    export_jsonl(parsed, out)

    back = {r.url: (r.text, r.lang, r.title)
            for r in spark.read.json(out).collect()}
    src = {r.url: (r.text, r.lang, r.title) for r in parsed.collect() if r.text}
    assert back == src and len(back) == 60

    # the files really are gzipped JSON lines (downstream tokenizers read
    # them without Spark)
    files = glob.glob(os.path.join(out, "part-*.json.gz"))
    assert files
    with gzip.open(files[0], "rt", encoding="utf-8") as fh:
        row = json.loads(fh.readline())
    assert set(row) <= {"url", "lang", "title", "text"}


def test_poisoned_row_becomes_error_row(spark):
    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType, TimestampType)
    import datetime

    rows = [
        ("u1", datetime.datetime(2025, 1, 1), b"<p>fine</p>", "en"),
        ("u2", datetime.datetime(2025, 1, 1), b"<frameset>", "en"),  # unfinished
        ("u3", datetime.datetime(2025, 1, 1), None, "en"),           # null html
        # invalid UTF-8 (D1): must not kill the task's Arrow batch
        ("u4", datetime.datetime(2025, 1, 1),
         b"<title>t\xff</title><p>a\xfe\xc3(b <a href=/x\xff>l</a></p>", "en"),
    ]
    schema = StructType([
        StructField("url", StringType()), StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()), StructField("lang", StringType()),
    ])
    df = spark.createDataFrame(rows, schema)
    out = {r.url: r for r in extract_pages(df, salt_buckets=1).collect()}
    assert out["u1"].parse_ok and out["u1"].text == "fine"
    assert not out["u2"].parse_ok
    assert not out["u3"].parse_ok and out["u3"].tree_errors >= 1
    # one row; each undecodable byte is U+FFFD in its strings and counted
    assert out["u4"].text == "t\ufffda\ufffd\ufffd(bl"
    assert out["u4"].title == "t\ufffd"
    assert out["u4"].outlinks == ["/x\ufffd"]
    assert out["u4"].tok_errors == 4
    # the minimal (url, html) input: absent warc_ts and lang come out null
    bare = spark.createDataFrame([("u4", rows[3][2])], "url string, html binary")
    (row,) = extract_pages(bare, salt_buckets=0).collect()
    assert row.text == out["u4"].text and row.warc_ts is None and row.lang is None


def test_main_text_strips_chrome():
    html = (b"<body><nav><a href=/>home</a><a href=/a>about</a></nav>"
            b"<h1>Title</h1><p>Real content paragraph here.</p>"
            b"<footer><a href=/c>contact</a></footer></body>")
    row = extract_doc(html)
    assert "home" not in row["main_text"]
    assert "contact" not in row["main_text"]
    assert "Real content paragraph here." in row["main_text"]
    # parity text keeps everything outside script/style
    assert "home" in row["text"]


def test_preserve_ws_through_spark(spark):
    import datetime
    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType, TimestampType)

    schema = StructType([
        StructField("url", StringType()), StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()), StructField("lang", StringType()),
    ])
    rows = [("u", datetime.datetime(2025, 1, 1), b"<pre>keep</pre><p> a\t b </p>", "en")]
    df = spark.createDataFrame(rows, schema)
    raw = extract_pages(df, salt_buckets=1, preserve_ws=True).collect()[0].text
    collapsed = extract_pages(df, salt_buckets=1).collect()[0].text
    assert raw == "keep a\t b "
    assert collapsed == "keepa b"


def test_oversize_page_becomes_error_row(spark):
    import datetime
    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType, TimestampType)

    schema = StructType([
        StructField("url", StringType()), StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()), StructField("lang", StringType()),
    ])
    rows = [("small", datetime.datetime(2025, 1, 1), b"<p>ok</p>", "en"),
            ("huge", datetime.datetime(2025, 1, 1), b"<p>" + b"x" * 2000 + b"</p>", "en")]
    df = spark.createDataFrame(rows, schema)
    out = {r.url: r for r in
           extract_pages(df, salt_buckets=1, max_html_bytes=1000).collect()}
    assert out["small"].parse_ok and out["small"].text == "ok"
    assert not out["huge"].parse_ok  # nulled JVM-side, surfaced as error row


def test_read_pages_parquet(spark, tmp_out):
    import os
    from htmpark.job import read_pages

    p = os.path.join(tmp_out, "pages")
    synthesize_pages(spark, 20).write.parquet(p)
    assert read_pages(spark, p).count() == 20


def test_title_column_extracted(spark):
    df = synthesize_pages(spark, 30)
    out = extract_pages(df, salt_buckets=1).collect()
    # corpus wraps every page in <title>T{i}</title>
    assert all(r.title.startswith("T") for r in out)
    assert {r.title for r in out} == {f"T{i}" for i in range(30)}


def test_write_read_table_formats_roundtrip(spark, tmp_out):
    """ORC/JSON/CSV sinks + sources round-trip the extraction output
    exactly (modulo csv's stringly types, pinned via explicit schema)."""
    from htmpark.job import read_table, write_table

    src = extract_pages(synthesize_pages(spark, 120)).select(
        "url", "text", "tok_errors")
    want = {(r.url, r.text, r.tok_errors) for r in src.collect()}

    for fmt in ("orc", "json"):
        p = f"{tmp_out}/t_{fmt}"
        write_table(src, p, fmt=fmt)
        got = {(r.url, r.text, r.tok_errors)
               for r in read_table(spark, p, fmt=fmt).collect()}
        assert got == want, fmt

    # extracted text embeds newlines -> csv read-back needs multiline
    p = f"{tmp_out}/t_csv"
    write_table(src, p, fmt="csv")
    got_csv = read_table(spark, p, fmt="csv", schema=src.schema,
                         multiline=True)
    assert {(r.url, r.text, r.tok_errors) for r in got_csv.collect()} == want

    with pytest.raises(ValueError):
        write_table(src, f"{tmp_out}/t_avro", fmt="avro")

    # errorifexists default: a second write to the same path must fail
    with pytest.raises(Exception):
        write_table(src, f"{tmp_out}/t_orc", fmt="orc")


def test_orc_scan_pushes_filters(spark, tmp_out):
    """ORC is a real columnar source: predicate pushdown + column pruning
    must reach the scan, same as parquet."""
    from htmpark.job import read_table, write_table

    src = extract_pages(synthesize_pages(spark, 120)).select(
        "url", "text", "tok_errors", "n_text_nodes")
    write_table(src, f"{tmp_out}/orc_scan", fmt="orc")
    q = (read_table(spark, f"{tmp_out}/orc_scan", fmt="orc")
         .where(F.col("n_text_nodes") > 2).select("url"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(n_text_nodes), GreaterThan(n_text_nodes,2)]" in plan
    assert "ReadSchema: struct<url:string,n_text_nodes:" in plan


def test_dynamic_partition_overwrite(spark, tmp_out):
    """Re-writing one partition with dynamic_overwrite must replace ONLY
    that partition; static overwrite truncates the whole root.  The
    session conf is forced to STATIC here so the test proves the
    PER-WRITER option does the work (build_session defaults the session
    to dynamic, which would mask a broken writer option)."""
    from htmpark.job import read_table, write_table

    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        p = f"{tmp_out}/dyn"
        d0 = spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 30)],
            "id int, day string, v int")
        write_table(d0, p, partition_by=("day",), mode="overwrite")
        # backfill day=a only, with corrected values
        fix = spark.createDataFrame([(1, "a", 11), (2, "a", 21)],
                                    "id int, day string, v int")
        write_table(fix, p, partition_by=("day",), mode="overwrite",
                    dynamic_overwrite=True)
        got = {(r.id, r.day, r.v) for r in read_table(spark, p).collect()}
        assert got == {(1, "a", 11), (2, "a", 21), (3, "b", 30)}

        # control: same overwrite WITHOUT the writer option under static
        # conf truncates day=b too — the hazard the option exists to avoid
        write_table(fix, p, partition_by=("day",), mode="overwrite")
        trunc = {(r.id, r.day, r.v) for r in read_table(spark, p).collect()}
        assert trunc == {(1, "a", 11), (2, "a", 21)}
    finally:
        spark.conf.set(key, old)


def test_hive_partition_pruning(spark, tmp_out):
    """A filter on the partition column must become a PartitionFilter
    (directory pruning — zero IO for other partitions), not a data
    filter."""
    from htmpark.job import read_table, write_table

    p = f"{tmp_out}/pruned"
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).cast("string").alias("day"))
    write_table(df, p, partition_by=("day",), mode="overwrite")
    q = read_table(spark, p).where(F.col("day") == "3").select("id")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan
    assert "(day" in plan.split("PartitionFilters:")[1][:80]
    # the data-filter list must NOT carry the partition predicate
    assert "PushedFilters: []" in plan
    assert q.count() == 1000 // 7 + (1 if 3 < 1000 % 7 else 0)


def test_package_runs_from_pyfiles_zip(tmp_out):
    """Cluster packaging (SURVEY §7.5): spark-submit --py-files ships
    htmpark/ as a zip that executors import via zipimport.  Prove the
    whole parse path (generated entity tables included) works from a zip
    with the repo dir NOT on sys.path."""
    import subprocess
    import sys
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zpath = os.path.join(tmp_out, "htmpark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(repo, "htmpark")
        for fn in os.listdir(pkg):
            if fn.endswith(".py"):
                z.write(os.path.join(pkg, fn), f"htmpark/{fn}")
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "import htmpark\n"
        "assert htmpark.__file__.startswith(sys.argv[1])\n"
        "t, m = htmpark.extract_text(b'<p>a &amp; b &notin; c</p>')\n"
        "assert t == 'a & b \\u00acin; c', repr(t)\n"
        "assert m['finished'] and m['tok_errors'] == 0\n"
        # a Python stage drops the zip finders; a submodule not yet
        # imported must still load from the zip afterwards
        "import zipimport\n"
        "from htmpark.job import _drop_zip_finders\n"
        "_drop_zip_finders()\n"
        "assert not any(isinstance(f, zipimport.zipimporter)\n"
        "               for f in sys.path_importer_cache.values())\n"
        "assert 'htmpark.robots' not in sys.modules\n"
        "import htmpark.robots\n"
        "assert htmpark.robots.__file__.startswith(sys.argv[1])\n"
        "assert htmpark.extract_text(b'<p>a &amp; b &notin; c</p>')[0] == t\n"
        "print('zip-ok')\n"
    )
    r = subprocess.run([sys.executable, "-c", code, zpath], cwd=tmp_out,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr
    assert "zip-ok" in r.stdout



def test_drop_zip_finders_keeps_imports_working(tmp_out):
    """_drop_zip_finders removes the zipimporter entries of
    sys.path_importer_cache and nothing else; a module of the same
    archive that was not yet imported still imports afterwards."""
    import sys
    import zipfile
    import zipimport

    from htmpark.job import _drop_zip_finders

    zpath = os.path.join(tmp_out, "mods.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("zdrop_a.py", "A = 1\n")
        z.writestr("zdrop_b.py", "B = 2\n")
    sys.path.insert(0, zpath)
    try:
        import zdrop_a
        cache = sys.path_importer_cache
        assert isinstance(cache[zpath], zipimport.zipimporter)
        kept = {p: f for p, f in cache.items()
                if not isinstance(f, zipimport.zipimporter)}
        assert any(type(f).__name__ == "FileFinder" for f in kept.values())
        _drop_zip_finders()
        assert cache.keys() == kept.keys()
        assert all(cache[p] is f for p, f in kept.items())
        import zdrop_b
        assert (zdrop_a.A, zdrop_b.B) == (1, 2)
        assert zdrop_b.__file__.startswith(zpath)
    finally:
        sys.path.remove(zpath)
        sys.path_importer_cache.pop(zpath, None)
        sys.modules.pop("zdrop_a", None)
        sys.modules.pop("zdrop_b", None)


def test_python_stage_leaves_worker_without_zip_finders(tmp_out):
    """On local[1] one reused Python worker runs every task, and pyspark
    starts each task with importlib.invalidate_caches(), which makes
    every zipimporter (one per pyspark subpackage imported out of
    pyspark.zip) re-read its archive.  Inside a second _map_rows stage
    the worker must hold no zipimporter."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from htmpark.job import build_session\n"
        "from htmpark.queries import _map_rows\n"
        "spark = build_session('local[1]', 1,\n"
        "                      extra_conf={'spark.ui.enabled': 'false'})\n"
        "def zips(_):\n"
        "    import sys, zipimport\n"
        "    yield (sum(isinstance(f, zipimport.zipimporter)\n"
        "               for f in sys.path_importer_cache.values()),)\n"
        "df = spark.range(1)\n"
        "n = [_map_rows(df, zips, 'n int').collect()[0].n for _ in range(2)]\n"
        "print('zip-finders', n[1])\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, HTMPARK_DRIVER_MEM="1g", PYTHONPATH=repo)
    r = subprocess.run([sys.executable, "-c", code], cwd=repo, env=env,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "zip-finders 0" in r.stdout, r.stdout


def test_every_python_stage_goes_through_python_stage():
    """Every mapInPandas in htmpark takes python_stage(fn), and every
    grouped UDF body (applyInPandas, applyInPandasWithState) starts with
    _drop_zip_finders(): a stage that skips both leaves its worker
    re-reading pyspark.zip at every task start."""
    import ast

    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "htmpark")
    maps = grouped = 0
    for fn in sorted(os.listdir(pkg)):
        if not fn.endswith(".py"):
            continue
        tree = ast.parse(open(os.path.join(pkg, fn)).read())
        # the def a call's first argument names, in the enclosing function
        named = {}
        for outer in ast.walk(tree):
            if isinstance(outer, ast.FunctionDef):
                local = {d.name: d for d in outer.body
                         if isinstance(d, ast.FunctionDef)}
                for c in ast.walk(outer):
                    if (isinstance(c, ast.Call) and c.args
                            and getattr(c.args[0], "id", None) in local):
                        named.setdefault(c, local[c.args[0].id])
        for call in ast.walk(tree):
            if not (isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)):
                continue
            where = f"{fn}:{call.lineno}"
            if call.func.attr == "mapInPandas":
                maps += 1
                a = call.args[0]
                assert (isinstance(a, ast.Call)
                        and getattr(a.func, "id", None) == "python_stage"
                        ), where
            elif call.func.attr in ("applyInPandas",
                                    "applyInPandasWithState"):
                grouped += 1
                body = named[call].body
                first = body[0]
                if (isinstance(first, ast.Expr)
                        and isinstance(first.value, ast.Constant)):
                    first = body[1]  # skip a docstring
                assert (isinstance(first, ast.Expr)
                        and isinstance(first.value, ast.Call)
                        and getattr(first.value.func, "id", None)
                        == "_drop_zip_finders"), where
    assert maps >= 10 and grouped == 2

def test_auto_salt_surt_sharded_hot_host(spark, tmp_out):
    """Hostile layout (r4 VERDICT fixture): a SURT-sorted corpus SHARDED
    ACROSS FILES — every row group is single-host (clustered), but the hot
    host's rows span many separate files rather than one contiguous run.
    Per-file locality must not fool the row-weighted detector: the
    scheduling hazard is the single-host ROW GROUP, wherever it lives, so
    auto must still salt."""
    from htmpark.job import detect_host_clustered

    # 1 hot host with 16000 rows + 8 tail hosts with 500 each, sorted by
    # url then range-sharded into 8 files: the hot host dominates ~6 of
    # the 8 shards, each shard holding only its slice of the sorted run
    pages = spark.range(0, 20000).selectExpr(
        "concat('https://', CASE WHEN id < 16000 THEN 'hot' ELSE "
        "concat('tail', cast(id % 8 as string)) END, "
        "'.example.com/p/', lpad(cast(id as string), 8, '0')) as url",
        "cast(concat('<p>page ', cast(id as string), repeat(' filler', 300),"
        " '</p>') as binary) as html")
    path = os.path.join(tmp_out, "surt_sharded")
    (pages.repartitionByRange(8, "url").sortWithinPartitions("url")
          .write.option("parquet.block.size", 64 * 1024).parquet(path))
    sharded = spark.read.parquet(path)
    assert len(sharded.inputFiles()) >= 8
    assert detect_host_clustered(sharded) is True
    plan = (extract_pages(sharded, salt_buckets="auto")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange hashpartitioning" in plan, plan


def test_auto_salt_giant_url_statistics_edge(spark, tmp_out):
    """Statistics-ambiguity edges (r4 VERDICT fixture): stats that cannot
    prove interleaving must NEVER be read as interleaved — dropping the
    salt on input that needs it is the asymmetric failure.

    (a) 4KB+ urls: both parquet writers in this stack (Spark's parquet-mr
    and pyarrow) OMIT min/max for values over the 4096-byte statistics
    limit, so every row group is stat-less -> detector returns None (not
    False) and auto keeps the 8-bucket insurance.
    (b) a truncated stat that ends inside the host (no path/query left)
    parses as ambiguous in _stat_host -> counted as clustered, never as
    proof of interleaving."""
    from htmpark.job import _stat_host, detect_host_clustered

    giant = "x" * 5000  # url > 4096B -> writer drops the column stat
    pages = spark.range(0, 300).selectExpr(
        f"concat('https://h', cast(id % 7 as string), '.example.com/{giant}/',"
        " cast(id as string)) as url",
        "cast('<p>x</p>' as binary) as html")
    path = os.path.join(tmp_out, "giant_urls")
    pages.write.parquet(path)
    giant_df = spark.read.parquet(path)
    import pyarrow.parquet as pq
    f = giant_df.inputFiles()[0]
    st = (pq.ParquetFile(f[len("file:"):]).metadata
          .row_group(0).column(0).statistics)
    assert st is None or not st.has_min_max  # the premise: stat was dropped
    assert detect_host_clustered(giant_df) is None
    plan = (extract_pages(giant_df, salt_buckets="auto")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange hashpartitioning" in plan, plan

    # (b) the truncation-ambiguity arm: a min/max cut mid-host has no
    # path/query/fragment -> ok=False -> detect counts the group clustered
    host, ok = _stat_host("https://aaaaaaaa")  # truncated inside the host
    assert not ok
    host2, ok2 = _stat_host("https://a.example.com/p/1")
    assert ok2 and host2 == "a.example.com"
