"""The distributed extraction pipeline (SURVEY.md §3.4, BASELINE.json north_rule).

Spark-first design:

* scan          — parquet/Iceberg read with column pruning (url, warc_ts,
                  html, lang only; Catalyst pushes the projection into the
                  scan — check ReadSchema in .explain()).
* skew defense  — explicit salted repartition on url host: one hot domain
                  (host000 owns 20% of the synthetic corpus) must not
                  serialize into one straggler task.  AQE only fixes
                  join/shuffle skew, not a hot mapInPandas partition, hence
                  the explicit salt (SURVEY.md §4c).
* parse         — ONE vectorized ``mapInPandas`` stage: Arrow batches of
                  html bytes in, extracted rows out.  No per-row Python UDFs
                  anywhere (input_hint mandate).
* checkpoint    — write-audit-publish per part_id: output written with
                  dynamic partition overwrite (idempotent under retry),
                  then ONE aggregate over the wave's written part_id dirs is
                  collected (at most wave-size rows), zero-filled for empty
                  parts on the driver, and appended to the manifest
                  (publish).  Resume = one collect of the manifest's
                  (part_id, num_parts) pairs into a driver-side set of done
                  part ids, then an ``isin`` filter on the remaining ones.
* metrics       — per-partition lineage row: counts + tokenizer/tree error
                  counters, aggregated from the written output (no second
                  parse); the job's totals are summed from the same rows.

At 10^12-document scale the same plan holds: the salt count scales with
max-host-share × executor count; the salted exchange takes as many parse
tasks as the input scan has splits (Spark's byte-based file sizing), never
fewer than defaultParallelism, so the parse width grows with the input
instead of a fixed multiple of the slots; part_id count scales with total
size / target partition bytes, and the manifest stays tiny (one row per
part).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, IntegerType, StringType, StructField, StructType,
    TimestampType,
)

from .extract import extract_doc

OUTPUT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("lang", StringType()),
    StructField("text", StringType()),
    StructField("main_text", StringType()),
    StructField("title", StringType()),
    StructField("outlinks", ArrayType(StringType())),
    StructField("meta_names", ArrayType(StringType())),
    StructField("meta_contents", ArrayType(StringType())),
    StructField("n_elements", IntegerType()),
    StructField("n_text_nodes", IntegerType()),
    StructField("tok_errors", IntegerType()),
    StructField("tree_errors", IntegerType()),
    StructField("parse_ok", BooleanType()),
])


def build_session(master: str | None = None, shuffle_partitions: int = 32,
                  app_name: str = "htmpark",
                  extra_conf: dict[str, str] | None = None) -> SparkSession:
    """``extra_conf``: session-builder conf overrides (codec, shuffle
    buffers, Arrow batch size, ...) — the local-mode stand-in for the
    ``--conf`` flags a spark-submit launch would carry; applied last so
    they win over the defaults below."""
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # pin the session zone: NTZ->TIMESTAMP casts (e.g. unix_micros in
        # the funnel/WARC gate queries) must not depend on the host TZ
        .config("spark.sql.session.timeZone", "UTC")
        # html blobs are KBs-sized: cap Arrow batches so a batch of pages
        # stays well inside executor memory even with MB-sized outliers
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # local-mode default raised 8g -> 16g in r12: the one driver JVM
        # hosts all 32 task slots PLUS every session-lifetime
        # materialization (signal frame, pair/label/frontier memos,
        # broadcast scorer sides), and late-session queries showed
        # one-off multi-second GC episodes at 8g (an untouched rollup
        # read 10.9s once vs its 1.8-3.7s isolated band).  Cluster
        # deployments size executors separately and keep overriding this
        # via HTMPARK_DRIVER_MEM / --conf, as before.
        .config("spark.driver.memory", os.environ.get("HTMPARK_DRIVER_MEM", "16g"))
    )
    if master:
        b = b.master(master)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Load the input table: Iceberg catalog table if resolvable, else a
    parquet path.  Production runs use Iceberg (snapshot isolation lets the
    checkpoint manifest reference a stable snapshot); this sandbox has no
    Iceberg runtime jar, so the parquet branch is the tested one.
    """
    if "/" not in source:
        try:
            return spark.read.format("iceberg").load(source)
        except Exception:
            return spark.table(source)
    return spark.read.parquet(source)


def _parse_batches(batches, preserve_ws: bool = False):
    """mapInPandas worker: Iterator[pd.DataFrame] -> Iterator[pd.DataFrame].

    Every row is one ``extract_doc`` call, which builds a fresh Parser and
    sink per document (the reference's per-doc state map never crosses
    documents; neither does ours).  Any exception becomes an error row.
    """
    import pandas as pd

    for pdf in batches:
        htmls = pdf["html"]
        n = len(pdf)
        texts = [None] * n
        mains = [None] * n
        titles = [None] * n
        links = [[]] * n
        mnames = [[]] * n
        mconts = [[]] * n
        n_els = [0] * n
        n_txts = [0] * n
        toks = [0] * n
        trees = [0] * n
        oks = [False] * n
        for k in range(n):
            h = htmls.iat[k]
            try:
                row = extract_doc(h, preserve_ws)
                texts[k] = row["text"]
                mains[k] = row["main_text"]
                titles[k] = row["title"]
                links[k] = row["outlinks"]
                mnames[k] = row["meta_names"]
                mconts[k] = row["meta_contents"]
                n_els[k] = row["n_elements"]
                n_txts[k] = row["n_text_nodes"]
                toks[k] = row["tok_errors"]
                trees[k] = row["tree_errors"]
                oks[k] = row["parse_ok"]
            except Exception:
                # engine guarantee: a poisoned document becomes an error row,
                # never a dead task (the reference just crashes the caller)
                texts[k] = ""
                mains[k] = ""
                titles[k] = ""
                trees[k] = 1
        yield pd.DataFrame({
            "url": pdf["url"],
            "warc_ts": pdf["warc_ts"],
            "lang": pdf["lang"],
            "text": texts,
            "main_text": mains,
            "title": titles,
            "outlinks": links,
            "meta_names": mnames,
            "meta_contents": mconts,
            "n_elements": pd.array(n_els, dtype="int32"),
            "n_text_nodes": pd.array(n_txts, dtype="int32"),
            "tok_errors": pd.array(toks, dtype="int32"),
            "tree_errors": pd.array(trees, dtype="int32"),
            "parse_ok": oks,
        })


def _drop_zip_finders() -> None:
    """Forget the zip-archive path finders this Python worker holds.

    pyspark's worker starts every task with ``importlib.invalidate_caches()``
    (``worker_util.setup_spark_files``), and on CPython 3.11 each
    ``zipimport.zipimporter`` answers that by re-reading its whole archive
    directory.  A reused worker holds one such finder per pyspark
    subpackage it imported out of ``pyspark.zip`` (16 on a warm worker,
    1,328 archive entries each), so every task re-read that directory 16
    times: ~0.2 s of CPU per task whatever the task carried
    (BENCH/BASELINE.md "Per-task cost").

    Only zip finders go; FileFinders and every loaded module (which keeps
    its own loader) stay.  A dropped path entry gets a fresh finder the
    next time an import searches it, so the archive is read once then,
    and an archive added later (``addPyFile``) is a new ``sys.path`` entry
    with its own finder."""
    import sys
    import zipimport

    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items()
                 if isinstance(f, zipimport.zipimporter)]:
        cache.pop(path, None)


def python_stage(fn):
    """``fn``, an Iterator[pd.DataFrame] -> Iterator[pd.DataFrame] map
    function, as the one entry every htmpark Python map stage goes
    through: the task drops the worker's zip finders
    (``_drop_zip_finders``) before ``fn`` runs, so the next task on this
    worker does not re-read pyspark.zip.  Grouped UDFs
    (``applyInPandas``, ``applyInPandasWithState``) cannot be wrapped —
    pyspark reads their arity — and call the helper on their first line
    instead."""

    def run(batches):
        _drop_zip_finders()
        return fn(batches)

    return run


def _stat_host(v) -> tuple[str, bool]:
    """(host, host_is_complete) for a url min/max statistic (str or
    bytes).  Parquet writers truncate long string stats (and increment
    max's last byte), so the host is only trustworthy when the value
    provably extends PAST the authority — i.e. a path/query/fragment
    follows it; a value that ends inside scheme://host may have had its
    host cut mid-way.  A bare "/" path does NOT count as complete: the
    truncate-and-INCREMENT done on max stats can turn a host "." (0x2E)
    into "/" (0x2F), making a cut host look like a complete one with a
    root path — treating root-path urls as ambiguous costs only the
    (safe) salting insurance on the rare row group whose max stat is a
    root url."""
    from urllib.parse import urlparse

    if isinstance(v, bytes):
        v = v.decode("utf-8", "replace")
    p = urlparse(v)
    return p.netloc, bool((p.path and p.path != "/") or p.query or p.fragment)


def _resolve_salt(df: DataFrame, salt_buckets: int | str) -> int:
    """Turn salt_buckets="auto" into a concrete bucket count: proven
    interleaving (detect_host_clustered is False) drops the shuffle;
    proven clustering or missing statistics keep the 8-bucket insurance."""
    if salt_buckets == "auto":
        return 0 if detect_host_clustered(df) is False else 8
    return salt_buckets


def detect_host_clustered(df: DataFrame, sample_files: int = 64,
                          threshold: float = 0.5) -> bool | None:
    """Is this scan's input HOST-CLUSTERED (each row group dominated by one
    url-host) or host-interleaved?  Decided from parquet FOOTER min/max
    statistics on the url column — a driver-side metadata read over (a
    strided sample of) ``df.inputFiles()``, never a Spark job.

    A row group whose url min and max share a host is (near-)certainly
    single-host; interleaved input puts the alphabetical extremes of many
    hosts in every group.  The metric is ROW-weighted: single-host row
    groups are precisely the scheduling units that can serialize a task,
    and a hot host (the skew that matters) by definition owns many rows
    and therefore whole row groups — small tail hosts that fit inside a
    mixed group are not a skew risk and should not trip the detector.
    Returns True when >= ``threshold`` of sampled ROWS live in
    single-host row groups, False when fewer, None when the answer is
    unknowable (no input files, non-parquet source, no url statistics) —
    the caller keeps its own default.  Real-world anchor: WARC/crawl-order
    tables are interleaved; SURT-sorted columnar indexes and
    partitioned-by-domain tables are clustered."""
    try:
        files = [f for f in df.inputFiles() if ".parquet" in f]
    except Exception:
        return None
    if not files:
        return None
    if len(files) > sample_files:
        stride = len(files) / sample_files
        files = [files[int(i * stride)] for i in range(sample_files)]
    import pyarrow.parquet as pq

    same = total = 0
    for f in files:
        path = f[len("file:"):] if f.startswith("file:") else f
        try:
            md = pq.ParquetFile(path).metadata
        except Exception:
            continue
        url_idx = None
        if md.num_row_groups:
            rg0 = md.row_group(0)
            for i in range(rg0.num_columns):
                if rg0.column(i).path_in_schema == "url":
                    url_idx = i
                    break
        if url_idx is None:
            continue
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            st = rgm.column(url_idx).statistics
            if st is None or not st.has_min_max:
                continue
            total += rgm.num_rows
            h_mn, ok_mn = _stat_host(st.min)
            h_mx, ok_mx = _stat_host(st.max)
            # a possibly-truncated host counts as clustered — the safe
            # direction: misreading clustered input as interleaved would
            # drop the salting insurance on exactly the input that needs
            # it, while a false positive only costs the shuffle premium
            if h_mn == h_mx or not (ok_mn and ok_mx):
                same += rgm.num_rows
    if total == 0:
        return None
    return same / total >= threshold


def _parse_width(df: DataFrame) -> int:
    """Task count of the salted exchange: the input scan's own split count
    (Spark's byte-based file sizing), floored at defaultParallelism — the
    getNumPartitions-vs-parallelism rule of doc_signals / _fan_out.  Each
    Python parse task carries a fixed cost (~0.07 s of slot time since
    python_stage, ~0.28 s before; BENCH/BASELINE.md "Per-task cost"), so
    a fixed multiple of the slots makes small inputs pay for tasks that
    carry almost nothing.  On a scan input (parquet, WARC
    shards) this is driver-side planning only, never a Spark job; an input
    whose plan already holds a shuffle would run it here under AQE, so
    such callers pass ``num_partitions``."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return max(par, df.rdd.getNumPartitions())


def salted_repartition(df: DataFrame, salt_buckets: int = 8,
                       num_partitions: int | None = None) -> DataFrame:
    """Spread each url-host over ``salt_buckets`` shuffle keys.

    Hot hosts stop being stragglers: tasks receive (host, salt) granules.
    Scale rule: salt_buckets >= ceil(max_host_share * target_parallelism).
    """
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    salt = F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets))
    if num_partitions:
        return df.repartition(num_partitions, host, salt)
    return df.repartition(host, salt)


def extract_pages(df: DataFrame, salt_buckets: int | str = 8,
                  num_partitions: int | None = None,
                  preserve_ws: bool = False,
                  max_html_bytes: int = 16 * 1024 * 1024) -> DataFrame:
    """The core pipeline: (optionally salted-shuffled) vectorized parse.

    ``salt_buckets=0`` skips the repartition entirely — the right plan when
    the input is already host-interleaved (crawl-frontier/WARC order mixes
    hosts), where a shuffle is pure overhead: BENCH/tune_shuffle.py
    measured the salted plan at 0.5-0.7x of plain at 32 cores across codec
    / buffer / tmpfs variants, attributing the premium to shuffle
    serialize/deserialize CPU on the html bytes (not disk I/O).  Keep
    salting ON for host-clustered inputs (e.g. re-partitioned-by-domain or
    SURT-sorted tables) where one hot host would otherwise serialize a
    task.  ``salt_buckets="auto"`` derives the decision per input from
    parquet footer url statistics (detect_host_clustered): proven
    interleaving drops the shuffle, proven clustering (or no statistics)
    keeps the 8-bucket insurance.

    ``num_partitions`` pins the salted exchange's task count; by default it
    is the input scan's split count, floored at defaultParallelism
    (``_parse_width``).

    ``max_html_bytes``: pages larger than this are nulled JVM-SIDE, so a
    pathological multi-GB blob never enters an Arrow batch (an Arrow batch
    is bounded by maxRecordsPerBatch in ROWS, not bytes — one giant row
    per 2048-row batch would otherwise OOM an executor at crawl scale).
    Nulled pages surface as error rows (parse_ok=false, tree_errors=1).
    """
    # explicit pruning (Catalyst pushes it into the scan); warc_ts and lang
    # are optional inputs that the output schema still carries, so an
    # absent one enters the parse as typed nulls
    df = df.select(*[F.col(c) if c in df.columns else F.lit(None).cast(t).alias(c)
                     for c, t in (("url", "string"), ("warc_ts", "timestamp"),
                                  ("html", "binary"), ("lang", "string"))])
    # drop WARC rotten-shard lineage sentinels (url AND html both NULL,
    # see warc.read_warc) — they are shard metadata, not pages, and must
    # not become phantom error rows in the extraction output.  Pages
    # nulled by the size cap below keep their url and DO surface as
    # error rows.
    df = df.where(F.col("url").isNotNull() | F.col("html").isNotNull())
    if max_html_bytes:
        # octet_length, not length: length() counts CHARACTERS on a string
        # column, letting a multi-byte-heavy page up to ~4x over the byte
        # limit into an Arrow batch; octet_length is bytes for both string
        # and binary html columns
        df = df.withColumn(
            "html",
            F.when(F.octet_length("html") <= max_html_bytes, F.col("html")))
    salt_buckets = _resolve_salt(df, salt_buckets)
    if salt_buckets > 0:
        # ALWAYS pin an explicit partition count on the salted exchange: a
        # bare repartition(cols) is AQE-coalescible, and AQE's byte-based
        # target (~64MB) is the wrong yardstick for a CPU-bound parse —
        # measured 8.5k -> 2.6k pages/s when a 260MB corpus coalesced to
        # ~4 parse tasks on 32 cores
        df = salted_repartition(df, salt_buckets,
                                num_partitions or _parse_width(df))
    fn = (lambda it: _parse_batches(it, True)) if preserve_ws else _parse_batches
    return df.mapInPandas(python_stage(fn), OUTPUT_SCHEMA)


def drop_noindex(df: DataFrame) -> DataFrame:
    """Curation gate: drop pages whose <meta name=robots> contains noindex
    (crawl etiquette: the page owner opted out of indexing/training use).
    Pure JVM array expression — fuses with the scan, no UDF.

    Matching is case-INSENSITIVE on both fields: the tokenizer lowercases
    attribute NAMES but not attribute VALUES, and real pages write
    <meta name="Robots" content="NOINDEX"> — an opt-out gate must not be
    bypassable by capitalization."""
    flagged = F.exists(
        F.arrays_zip("meta_names", "meta_contents"),
        lambda x: (F.lower(x["meta_names"]) == "robots")
        & F.contains(F.lower(x["meta_contents"]), F.lit("noindex")))
    return df.where(~F.coalesce(flagged, F.lit(False)))


def export_jsonl(df: DataFrame, output_path: str,
                 text_col: str = "text",
                 keep_cols: tuple = ("url", "lang", "title"),
                 min_text_chars: int = 1,
                 compression: str | None = "gzip") -> None:
    """Training-data handoff: write extracted documents as JSON Lines —
    the interchange format LLM tokenizer pipelines consume.

    JVM-side end to end: the filter and column pruning fuse with the scan,
    and Spark's native JSON writer streams partition-parallel .json(.gz)
    part files (no driver collection, no Python serialization).  At 100 TB
    the same call holds: output parallelism = input partitions, gzip is
    splittable-enough for downstream line readers because each PART is an
    independent file."""
    cols = [c for c in keep_cols if c in df.columns] + [text_col]
    out = df.select(*cols).where(F.length(text_col) >= min_text_chars)
    w = out.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(output_path)


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int = 64,
                   path: str | None = None, sort_col: str | None = None,
                   mode: str = "errorifexists") -> None:
    """Bucketed sink: pay the shuffle ONCE at write time so every later
    join/aggregate on ``key`` between co-bucketed tables is exchange-free
    (Spark reads bucket i of both sides into the same task).  This is the
    co-located-join strategy for 100 TB star joins and repeated self-joins:
    the extraction output bucketed by url-hash joins the next pipeline
    stage with zero shuffle, forever.  ``sort_col`` additionally sorts
    within buckets (sort-merge join then needs no per-task sort either).
    Bucketing requires the table catalog (``saveAsTable``); ``path`` makes
    it an external table so the files live where the caller says.  The
    default ``mode`` FAILS on an existing table name — silently replacing
    a shared catalog entry (and orphaning its files) must be opted into
    with mode="overwrite"."""
    w = df.write.mode(mode).format("parquet").bucketBy(buckets, key)
    if sort_col:
        w = w.sortBy(sort_col)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


_TABLE_FORMATS = ("parquet", "orc", "json", "csv", "warc")


def write_table(df: DataFrame, path: str, fmt: str = "parquet",
                mode: str = "errorifexists",
                partition_by: tuple | None = None,
                compression: str | None = None,
                dynamic_overwrite: bool = False) -> None:
    """General-format sink over Spark's built-in writers.

    Format guidance at 100 TB: parquet/orc are the only storage formats
    (columnar, predicate pushdown, column pruning, splittable compression);
    json/csv exist for interchange EXPORT only — they are row formats with
    no pushdown, so never the source of a second pipeline stage.

    ``partition_by`` lays files out hive-style for partition PRUNING on
    those columns.  ``dynamic_overwrite`` sets
    spark.sql.sources.partitionOverwriteMode=dynamic for this write: an
    overwrite then replaces ONLY the partitions present in ``df`` (the
    idempotent-backfill sink shape) instead of truncating the whole table
    root — with static overwrite, re-running one day's backfill would
    delete every other day.  The option is applied per-writer, not on the
    session, so concurrent writes keep their own semantics."""
    if fmt not in _TABLE_FORMATS:
        raise ValueError(f"fmt must be one of {_TABLE_FORMATS}")
    w = df.write.mode(mode).format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if dynamic_overwrite:
        w = w.option("partitionOverwriteMode", "dynamic")
    if compression:
        w = w.option("compression", compression)
    if fmt == "csv":
        # header + explicit quoting so text containing the delimiter
        # round-trips; newlines in values need multiLine=true at read
        w = w.option("header", True).option("escape", '"')
    w.save(path)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet",
               schema=None, multiline: bool = False) -> DataFrame:
    """General-format source.  parquet/orc carry their own schema and
    types; json/csv REQUIRE an explicit schema at scale — schema inference
    is a full extra pass over the data (and csv types everything string
    without it).  ``multiline`` is needed to read back csv whose quoted
    values embed newlines (extracted text does) — but it costs
    splittability (one task per file), so at scale either strip newlines
    before a csv export or use json, whose line-per-record escaping keeps
    the default splittable path."""
    if fmt not in _TABLE_FORMATS:
        raise ValueError(f"fmt must be one of {_TABLE_FORMATS}")
    if fmt == "warc":
        # Common-Crawl-style archive shards -> (url, warc_ts, html, ...)
        # via the binaryFile scan + Arrow-batched record splitter
        from .warc import read_warc

        return read_warc(spark, path)
    r = spark.read.format(fmt)
    if schema is not None:
        r = r.schema(schema)
    elif fmt == "csv":
        # csv-only option; the JSON reader always infers when no schema
        # is given, so setting it there would be a silent no-op
        r = r.option("inferSchema", True)
    if fmt == "csv":
        r = r.option("header", True).option("escape", '"')
        if multiline:
            r = r.option("multiLine", True)
    return r.load(path)


MANIFEST_SCHEMA = ("part_id", "n_pages", "n_ok", "tok_errors", "tree_errors",
                   "text_chars", "min_ts", "max_ts", "num_parts")
_MANIFEST_COUNTS = MANIFEST_SCHEMA[1:6]


def _part_expr(num_parts: int):
    return F.pmod(F.xxhash64(F.col("url")), F.lit(num_parts)).cast("int")


def _manifest_rows(audit, wave: list[int], num_parts: int):
    """A wave's manifest rows (Arrow) from its collected audit aggregate.

    EVERY part_id in the wave gets a row — including empty parts
    (n_pages=0, zero-filled here), which are guaranteed whenever distinct
    urls hash into fewer than num_parts buckets.  Without the zero rows an
    empty part stays in `remaining` forever: each resume re-scans +
    re-parses it and a completed job never reaches the parts_done==0 early
    exit."""
    import pyarrow as pa

    seen = set(audit["part_id"].to_pylist())
    empty = [p for p in wave if p not in seen]
    fill = {"part_id": empty, **{c: [0] * len(empty) for c in _MANIFEST_COUNTS}}
    zeros = pa.table({f.name: fill.get(f.name, [None] * len(empty))
                      for f in audit.schema}, schema=audit.schema)
    rows = pa.concat_tables([audit, zeros])
    return rows.append_column("num_parts",
                              pa.array([num_parts] * rows.num_rows, pa.int32()))


def run_extraction(spark: SparkSession, input_df: DataFrame, output_path: str,
                   num_parts: int = 64, salt_buckets: int | str = "auto",
                   resume: bool = True, publish_every: int | None = None,
                   max_waves: int | None = None) -> dict:
    """Resumable batch job with write-audit-publish checkpointing + lineage.

    ``salt_buckets`` defaults to "auto": the salted-shuffle decision is
    derived per input from parquet footer url statistics (see
    extract_pages / detect_host_clustered) — interleaved crawl-order
    input skips the shuffle, clustered or statistics-less input keeps the
    8-bucket insurance.  Pass an int to force either plan.

    Layout:  <output_path>/data/part_id=N/...   (dynamic overwrite)
             <output_path>/manifest/...          (append = publish)

    Publish granularity: by default all remaining parts are written in ONE
    Spark job and published together — a crash mid-write loses no
    correctness (dynamic overwrite is idempotent) but redoes every
    unpublished part on resume.  ``publish_every=k`` instead processes and
    publishes k parts per wave, bounding the redo window to one wave at the
    cost of one input scan per wave (the part_id predicate prunes nothing
    upstream — it is a hash of url).  ``max_waves`` stops after that many
    waves (budgeted/incremental runs; also how tests simulate interruption
    deterministically).

    Spark jobs: a salted wave is five — the salted exchange and the
    partitioned write (AQE runs the exchange as its own job), the audit
    aggregate over the wave's written part_id dirs collected to the driver
    (two again), and one manifest append; an unsalted wave skips the
    exchange job.  A resume adds one manifest read.  The salted exchange
    takes max(defaultParallelism, input scan splits) parse tasks, resolved
    once per call (``_parse_width``).

    Safety rails (round-2 hardening):
      * The dynamic partition-overwrite mode is pinned per-write via
        ``.option("partitionOverwriteMode", "dynamic")`` — a caller-supplied
        session configured static would otherwise TRUNCATE all previously
        completed partitions on resume while the manifest still marks them
        published.
      * ``num_parts`` is recorded on every manifest row; resuming with a
        different value recomputes part_id under a different modulus (pages
        silently skipped or double-published), so it fails fast instead.
    """
    data_path = os.path.join(output_path, "data")
    manifest_path = os.path.join(output_path, "manifest")

    done_ids: set[int] = set()
    if resume:
        # ONE read of the (tiny, one row per published part) manifest.  The
        # explicit schema skips the schema-inference job; a manifest written
        # before num_parts was recorded reads it as null and checks nothing.
        try:
            man = spark.read.schema("part_id int, num_parts int").parquet(
                manifest_path)
        except Exception:
            man = None
        if man is not None:
            pairs = man.collect()
            prev = {r.num_parts for r in pairs if r.num_parts is not None}
            if prev and prev != {num_parts}:
                raise ValueError(
                    f"resume with num_parts={num_parts} but the manifest at "
                    f"{manifest_path} was written with num_parts={sorted(prev)}; "
                    "part_id would be recomputed under a different modulus")
            done_ids = {r.part_id for r in pairs}

    remaining = sorted(set(range(num_parts)) - done_ids)
    if not remaining:
        return {"parts_done": 0, "pages": 0}

    if publish_every:
        waves = [remaining[i:i + publish_every]
                 for i in range(0, len(remaining), publish_every)]
    else:
        waves = [remaining]
    if max_waves is not None:
        waves = waves[:max_waves]

    # resolve the salting decision and the parse width ONCE for the whole
    # job — the input is fixed across waves, and re-deriving per wave would
    # repeat the driver-side file listing + footer reads and the planning
    salt_buckets = _resolve_salt(input_df, salt_buckets)
    width = _parse_width(input_df) if salt_buckets > 0 else None

    df = input_df.withColumn("part_id", _part_expr(num_parts))
    total_parts = 0
    total_pages = 0
    for wave in waves:
        sub = df if len(wave) == num_parts else df.where(F.col("part_id").isin(wave))
        parsed = extract_pages(sub.drop("part_id"), salt_buckets=salt_buckets,
                               num_partitions=width)
        parsed = parsed.withColumn("part_id", _part_expr(num_parts))
        # WRITE: dynamic partition overwrite -> retried parts replace
        # cleanly; mode pinned at the write site (see docstring)
        (parsed.write.mode("overwrite")
               .option("partitionOverwriteMode", "dynamic")
               .partitionBy("part_id").parquet(data_path))

        # AUDIT: one aggregate over the written files (columnar scan of
        # counters only, partition-pruned to this wave's part_id dirs — no
        # re-parse), collected as Arrow: at most one row per part of the
        # wave.  The explicit schema keeps the read valid even when the wave
        # produced zero rows.
        written = (spark.read.schema(parsed.schema).parquet(data_path)
                   .where(F.col("part_id").isin(wave)))
        audit = written.groupBy("part_id").agg(
            F.count("*").alias("n_pages"),
            F.sum(F.col("parse_ok").cast("int")).alias("n_ok"),
            F.sum("tok_errors").alias("tok_errors"),
            F.sum("tree_errors").alias("tree_errors"),
            F.sum(F.length("text")).alias("text_chars"),
            F.min("warc_ts").alias("min_ts"),
            F.max("warc_ts").alias("max_ts"),
        ).toArrow()
        # PUBLISH: one append of the driver-side rows (an Arrow table is
        # handed to the JVM as is — no Python task, no time zone round trip)
        rows = _manifest_rows(audit, wave, num_parts)
        spark.createDataFrame(rows).write.mode("append").parquet(manifest_path)
        total_parts += rows.num_rows
        total_pages += sum(rows["n_pages"].to_pylist())
    return {"parts_done": total_parts, "pages": total_pages}


# ---------------------------------------------------------------------------
# one-pass curation signal columns (r9 verdict item 6)

def _doc_signals_build(base: DataFrame) -> DataFrame:
    """Signal-frame plan over an already-persisted ``(doc_id, text)``
    projection — the shared core of doc_signals (query path) and
    write_doc_signals (sink path).  Every leg reads ``base`` (an
    InMemoryTableScan once the cache fills), so the documents source is
    scanned exactly ONCE however many signal families fan out of it.

    Signals (formulas identical to the standalone oracled queries —
    the curation capstone's oracle pins every derived flag, so a drift
    here fails the gate):
      * h — md5(text), the exact-dedup key (q_dedup_exact);
      * quality_ok / n_stopwords — the q_text_quality_filter keep rule
        and its stopword count;
      * n_words / n_distinct_words — array-local (q_text_repetition);
      * n_bigrams / top_bigram_n / rep_bp — heaviest-bigram share in
        basis points and its numerator/denominator, NULL for docs with
        < 2 words (q_text_repetition: absence of evidence);
      * n_tokens / lm_num / lm_cb — unigram-LM centibits with the
        exact integer numerator (q_text_unigram_lm);
      * corpus_cb — corpus-mean centibits, ONE scalar derived from the
        cf vocabulary (sum over docs of tf*bits(cf) == sum over terms
        of cf*bits(cf)), broadcast onto every row — constant columns
        RLE-compress to nothing in parquet and make the frame
        self-contained for a downstream gate pass.
    The frame carries every column of the three standalone gate
    queries (r10 verdict item 4), so a session/production run that
    built it once can answer text_quality_filter / text_repetition /
    text_unigram_lm via their ``signals=`` injection without ever
    re-scanning text.

    Scale shape: the row-local leg fuses with the cached scan; the
    repetition leg is two keyed partial-agg shuffles ((doc_id, gram)
    then doc_id); the LM leg is the canonical tf/cf pair (term
    shuffles with map-side combine) + a term-keyed scoring join; the
    three legs re-join on high-cardinality doc_id.  Nothing is
    proportional to anything but docs and distinct terms.

    Every composite formula comes from the SAME expression builder the
    standalone query uses (_quality_cols / _repetition_frame /
    _lm_frames_over + _lm_doc_frame / _corpus_cb_frame) — a threshold
    edit lands on both sides by construction, not by hand-mirroring
    (r10 review)."""
    from .queries import (_corpus_cb_frame, _lm_doc_frame, _lm_frames_over,
                          _quality_cols, _repetition_frame)

    quality_ok, n_words, n_stop = _quality_cols()
    row = base.select(
        "doc_id", F.md5("text").alias("h"), quality_ok.alias("quality_ok"),
        n_words.alias("n_words"), n_stop.alias("n_stopwords"),
        F.size(F.array_distinct(F.split("text", " ")))
        .alias("n_distinct_words"))
    rep = _repetition_frame(base).select("doc_id", "n_bigrams",
                                         "top_bigram_n", "rep_bp")
    tf, cf = _lm_frames_over(base)
    lm = _lm_doc_frame(tf, cf).select("doc_id", "n_tokens", "lm_num",
                                      "lm_cb")
    return (row.join(rep, "doc_id", "left")
            .join(lm, "doc_id", "left")
            .crossJoin(F.broadcast(_corpus_cb_frame(cf))))


def doc_signals(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """One-pass per-document curation signal frame: the documents
    source is scanned ONCE into a persisted (doc_id, text) projection,
    every signal family (_doc_signals_build) reads the cache, and the
    returned frame is itself materialized (persist + count) before the
    text cache is released — the narrow signal columns stay resident,
    the wide text does not.  The curation capstone
    (queries.q_curation_pipeline) consumes this frame instead of
    re-deriving each signal from its own scan (r9 verdict item 6: the
    composition used to recompute repetition/LM per call).

    At cluster scale the same contract holds with the projection
    spilling executor-local (MEMORY_AND_DISK); for a signal table that
    outlives the session, write_doc_signals is the parquet-sink twin
    (read once -> signal table; later gate passes scan signals, never
    text)."""
    from pyspark import StorageLevel

    from .queries import _fan_out

    # re-parallelize BEFORE caching: the sandbox documents table is one
    # parquet split, and every signal leg (bigram explode, LM explode +
    # joins) would inherit that 1-task parallelism from the cached scan
    # — measured 21.4s -> 4.4s at sf1.0 on local[32] (guide §2:
    # partitioning set where the expansion happens, not after it).  The
    # shuffle moves the small pre-explode projection once; at cluster
    # scale the scan already carries >= cluster parallelism and the
    # repartition is skipped.
    base = _fan_out(docs.select("doc_id", "text"))
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    sig = _doc_signals_build(base).persist(StorageLevel.MEMORY_AND_DISK)
    sig.count()
    base.unpersist()
    return sig


def write_doc_signals(spark: SparkSession, docs: DataFrame, path: str,
                      mode: str = "errorifexists",
                      cache_source: bool = True) -> None:
    """Sink twin of doc_signals: one pass over ``docs`` -> a parquet
    signal table at ``path`` (doc_id, h, quality_ok, n_words,
    n_stopwords, n_distinct_words, n_bigrams, top_bigram_n, rep_bp,
    n_tokens, lm_num, lm_cb, corpus_cb).  Production curation then
    gates against the signal table without ever re-reading text —
    including the three standalone gate queries via their ``signals=``
    injection.

    ``cache_source`` picks the scan-vs-cache trade-off: True (default)
    persists the (doc_id, text) projection so the source is scanned
    exactly ONCE however many signal legs fan out of it — right
    whenever the projection fits the cluster's aggregate memory+disk.
    At full corpus scale (100 TB of text) materializing the text
    column to executor disk can cost MORE than letting the three legs
    re-scan parquet with column pruning (three sequential columnar
    reads of an already-compressed column vs one write + three reads
    of an uncompressed cache) — pass False there: the legs each read
    the pruned source directly and the job needs no cache storage at
    all.  Signal values are identical either way (same plan, different
    materialization), pinned by test_doc_signals_one_pass_and_values."""
    from pyspark import StorageLevel

    from .queries import _fan_out

    # same under-partitioned-input guard as doc_signals: the signal
    # legs' explodes must not inherit a 1-split scan's parallelism
    base = _fan_out(docs.select("doc_id", "text"))
    if not cache_source:
        write_table(_doc_signals_build(base), path, "parquet", mode=mode)
        return
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        write_table(_doc_signals_build(base), path, "parquet", mode=mode)
    finally:
        base.unpersist()
