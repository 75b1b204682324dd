"""WARC (ISO 28500 / Common Crawl) source for the extraction pipeline.

The north rule's input is "Common-Crawl-style web pages"; the archival
interchange format those actually arrive in is WARC — concatenated
records, each optionally its own gzip member (the Common Crawl layout,
which keeps per-record random access while staying one file per shard).
This module is a stdlib-only reader/writer pair plus the Spark source
that turns a directory of ``.warc`` / ``.warc.gz`` shards into the
pipeline's canonical ``(url, warc_ts, html)`` frame.

Not derived from the reference (zadean/htmerl parses HTML only, no I/O
formats); the record grammar follows the public WARC 1.0/1.1 spec:
``WARC/1.x`` header block terminated by CRLF CRLF, ``Content-Length``
octets of block, CRLF CRLF record separator.  ``response`` records carry
an HTTP message whose payload (after the HTTP header block) is the page
body.

Scale shape: Spark reads shards via the built-in ``binaryFile`` source —
ONE task per shard, which is exactly the Common Crawl unit of work
(~1 GB gzip per shard, tens of thousands of shards per crawl, so file
count >> cluster parallelism and per-file tasks saturate any executor
fleet).  Record splitting + gunzip run inside an Arrow-batched
mapInPandas (no per-row Python), and both are STREAMED: gzip members
are decompressed one at a time from bounded input slices and pages are
emitted in bounded Arrow batches, so peak transient memory per task is
~(compressed shard + one record + one output batch) — never the 4-5 GB
decompressed image of a ~1 GB Common Crawl shard.  (The compressed
shard itself is one in-memory value: that is ``binaryFile``'s contract;
streaming the raw bytes too would need a custom DataSource.)
Malformed shards are tolerated and COUNTED (never silently dropped):
an unreadable shard tail — truncation, bit-rot, trailing garbage —
emits one html-NULL lineage sentinel row with ``shard_truncated = 1``,
so audits find rotten shards even when the rot precedes every page.
"""
from __future__ import annotations

import zlib
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from .job import python_stage

_CRLF2 = b"\r\n\r\n"
# feed zlib bounded input slices; a WARC header block larger than this is
# malformed (real headers are a few hundred bytes)
_CHUNK = 1 << 20
_MAX_HEADER = 1 << 16


def _iter_decompressed(buf, chunk_size: int = _CHUNK):
    """Yield decompressed chunks of a concatenation of gzip members (the
    Common Crawl layout: one member per record) WITHOUT materializing the
    whole decompressed shard: input is fed to zlib in bounded memoryview
    slices (no copies) and each member's output is yielded as produced,
    so peak transient memory is ~one member regardless of shard size.
    Plain (non-gzip) input is yielded in raw slices.

    A bit-rotten member (``zlib.error``: bad CRC / corrupt stream) and
    trailing non-gzip garbage both re-raise as ``ValueError`` so tolerant
    callers count a shard truncation instead of crashing the Spark task;
    a truncated final member yields what zlib buffered and lets the
    record grammar surface the cut."""
    n = len(buf)
    if not buf.startswith(b"\x1f\x8b"):
        mv = memoryview(buf)
        for pos in range(0, n, chunk_size):
            yield mv[pos:pos + chunk_size].tobytes()
        return
    mv = memoryview(buf)
    pos = 0
    d = zlib.decompressobj(wbits=31)
    carry = b""  # input fed but not yet consumed (max_length backpressure)
    # Feed each member a small first bite and grow geometrically: zlib
    # COPIES whatever it was fed beyond the member's end into
    # unused_data, so feeding a fixed 1 MB to a stream of KB-sized
    # members (the CC one-member-per-record layout) would memcpy
    # ~chunk_size per member — O(members x chunk_size) for the shard
    # (measured: ~10 GB of copying on a 20k-record shard).
    feed = min(8 << 10, chunk_size)
    while pos < n or carry:
        if not carry:
            carry = mv[pos:pos + feed]
            pos += len(carry)
            feed = min(feed * 4, chunk_size)
        try:
            # cap the output too: a single-stream .warc.gz (not the
            # member-per-record CC layout) could otherwise blow one input
            # slice up into an unbounded buffer
            out = d.decompress(carry, chunk_size)
        except zlib.error as e:
            raise ValueError(f"corrupt gzip member near offset {pos}: {e}")
        carry = d.unconsumed_tail
        if out:
            yield out
        if d.eof:
            pos -= len(d.unused_data)  # rewind to the next member start
            carry = b""
            feed = min(8 << 10, chunk_size)
            if pos < n and not buf.startswith(b"\x1f\x8b", pos):
                raise ValueError(
                    f"trailing non-gzip garbage at offset {pos}")
            d = zlib.decompressobj(wbits=31)
    if not d.eof:
        tail = d.flush()  # truncated final member: emit what decoded
        if tail:
            yield tail


def gunzip_members(buf: bytes) -> bytes:
    """Decompress a concatenation of gzip members into one buffer — the
    small-shard/test convenience over :func:`_iter_decompressed` (the
    Spark path streams and never calls this).  Plain input is returned
    unchanged; corrupt members raise ``ValueError``, never
    ``zlib.error``."""
    if not buf.startswith(b"\x1f\x8b"):
        return buf
    return b"".join(_iter_decompressed(buf))


def _parse_header_block(block: bytes) -> dict:
    """'Name: value' lines -> dict (names lower-cased; first line kept
    under 'version')."""
    lines = block.split(b"\r\n")
    hdr = {"version": lines[0].decode("utf-8", "replace")}
    for ln in lines[1:]:
        if b":" in ln:
            k, v = ln.split(b":", 1)
            hdr[k.strip().lower().decode("utf-8", "replace")] = \
                v.strip().decode("utf-8", "replace")
    return hdr


def iter_warc_records(buf: bytes):
    """Yield ``(headers, body)`` per WARC record; gzip members handled.

    ``headers`` is the parsed WARC header dict; ``body`` is the raw record
    block (for ``response`` records: an HTTP message).  STREAMING: records
    are parsed from a rolling buffer fed one decompressed gzip member at a
    time, so peak memory is ~one record, not the decompressed shard (the
    r5 scale-shape fix).  A truncated/corrupt shard raises ``ValueError``
    after the readable prefix has been yielded — callers that must
    tolerate rotten shard tails use :func:`parse_warc_shard` (or the
    Spark source's sentinel rows), which count instead."""
    pending = bytearray()  # cross-chunk spill only (records usually
    #                        align with gzip members, so this stays empty)
    end = [0]  # consumed-offset out-param of scan

    def scan(data, at_end: bool):
        pos, n = 0, len(data)
        while True:
            while data[pos:pos + 2] == b"\r\n":
                pos += 2  # skip inter-record CRLFs
            if pos >= n:
                break
            # the _MAX_HEADER limit applies to the header BLOCK; the
            # search bound leaves room for the CRLFCRLF terminator
            # itself so a legal header of exactly _MAX_HEADER bytes
            # still parses (find() needs the whole match inside the
            # bound)
            end_hdr = data.find(_CRLF2, pos,
                                pos + _MAX_HEADER + len(_CRLF2))
            if end_hdr < 0:
                if at_end or n - pos >= _MAX_HEADER + len(_CRLF2):
                    raise ValueError("malformed WARC header "
                                     "(no CRLFCRLF terminator)")
                break  # need more data
            if not data.startswith(b"WARC/", pos):
                raise ValueError("malformed WARC header (bad magic)")
            hdr = _parse_header_block(bytes(data[pos:end_hdr]))
            try:
                length = int(hdr["content-length"])
            except (KeyError, ValueError):
                raise ValueError("missing Content-Length in WARC header")
            body_start = end_hdr + 4
            if body_start + length > n:
                if at_end:
                    raise ValueError("truncated final WARC record")
                break  # need more data
            yield hdr, bytes(data[body_start:body_start + length])
            pos = body_start + length
        end[0] = pos

    for chunk in _iter_decompressed(buf):
        if pending:
            pending += chunk
            yield from scan(pending, False)
            del pending[:end[0]]
        else:
            yield from scan(chunk, False)
            if end[0] < len(chunk):
                pending += chunk[end[0]:]
    if pending:
        yield from scan(pending, True)


def http_payload(body: bytes) -> bytes:
    """Payload of an HTTP message block (everything after the header
    CRLF CRLF; the whole block if no header separator is present)."""
    sep = body.find(_CRLF2)
    return body[sep + 4:] if sep >= 0 else body


def parse_warc_shard(buf: bytes):
    """Tolerant shard parse: ``(pages, truncated)`` where pages is a list
    of ``(url, warc_date_str, html_bytes)`` from ``response`` records and
    ``truncated`` counts parse aborts (0 or 1 per shard — a WARC error,
    including a bit-rotten gzip member or trailing garbage, makes the
    remainder of the shard unaddressable, which is precisely what the
    per-partition lineage metrics must surface).  Materializes the page
    list — the small-shard/test convenience; the Spark source streams
    bounded batches instead (:func:`read_warc`)."""
    pages = []
    truncated = 0
    try:
        for hdr, body in iter_warc_records(buf):
            if hdr.get("warc-type") != "response":
                continue
            url = hdr.get("warc-target-uri", "")
            pages.append((url, hdr.get("warc-date", ""), http_payload(body)))
    except ValueError:
        truncated = 1
    return pages, truncated


def _parse_warc_date(s: str):
    """WARC-Date (ISO 8601 'YYYY-MM-DDTHH:MM:SSZ') -> naive-UTC datetime
    (matches the pipeline's TIMESTAMP_NTZ convention); None if absent."""
    if not s:
        return None
    try:
        dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
        return dt.astimezone(timezone.utc).replace(tzinfo=None)
    except ValueError:
        return None


READ_WARC_SCHEMA = ("url string, warc_ts timestamp_ntz, html binary, "
                    "lang string, shard string, shard_truncated int")


# flush thresholds for the streamed record splitter: an output batch is
# capped at ~2k pages or ~64 MB of payload, whichever comes first, so a
# 4-5 GB decompressed Common Crawl shard never exists as one Python list
_BATCH_ROWS = 2048
_BATCH_BYTES = 64 << 20


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Directory/glob of ``.warc`` / ``.warc.gz`` shards -> DataFrame
    (url, warc_ts, html, lang, shard, shard_truncated) — the pipeline's
    input-hint shape (``lang`` is NULL: a crawl archive carries no
    language; text_lang_id annotates it post-extraction) plus lineage.

    ``binaryFile`` scan (one task per shard — the Common Crawl work unit)
    feeding a STREAMED Arrow-batched mapInPandas record splitter: pages
    flow shard -> bounded decompress -> bounded pandas batches, so peak
    task memory is ~(compressed shard + one output batch).

    Lineage: page rows carry ``shard_truncated = 0``; a shard whose tail
    is unreadable (truncated record, bit-rotten gzip member, trailing
    garbage) additionally emits ONE sentinel row — url/warc_ts/html NULL,
    ``shard_truncated = 1`` — after its readable prefix.  Audits find
    rotten shards via ``max(shard_truncated) GROUP BY shard`` even when
    the rot precedes every page; ``extract_pages`` drops the sentinels
    (url AND html both NULL) before parsing, and other page consumers
    filter ``html IS NOT NULL``.  Errors are counted, never silently
    dropped — the run_extraction manifest pattern.

    Round-trip caveat: urls written through :func:`write_warc_shards`
    come back with CR/LF percent-encoded, never decoded (see
    :func:`_hdr_value`) — sanitize before lineage-joining on url."""
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.warc*")
             .load(path)
             .select("path", "content"))
    return files.mapInPandas(python_stage(_split_shard_batches), READ_WARC_SCHEMA)


def read_warc_stream(spark: SparkSession, path: str) -> DataFrame:
    """Structured-Streaming twin of :func:`read_warc`: a binaryFile FILE
    STREAM over a shard directory through the same record splitter —
    the continuous-crawl-ingest shape (new shards land, micro-batches
    pick them up; ``maxFilesPerTrigger`` bounds a backfill).  Stateless,
    so watermarks/state sizing don't apply; schema and lineage semantics
    are identical to the batch reader."""
    files = (spark.readStream.format("binaryFile")
             .schema("path string, modificationTime timestamp, "
                     "length long, content binary")
             .option("pathGlobFilter", "*.warc*")
             .load(path)
             .select("path", "content"))
    return files.mapInPandas(python_stage(_split_shard_batches), READ_WARC_SCHEMA)


def _split_shard_batches(batches):
    """mapInPandas splitter shared by the batch and streaming WARC
    sources: shard -> streamed records -> bounded pandas frames (page
    rows with shard_truncated=0; one html-NULL sentinel per rotten
    shard)."""
    import pandas as pd

    def frame(rows):
        url, ts, html, shard, trunc = zip(*rows)
        return pd.DataFrame({
            # explicit dtypes: a sparse batch otherwise infers float64
            # columns, which Arrow cannot cast to timestamp/int
            "url": pd.Series(url, dtype="object"),
            "warc_ts": pd.to_datetime(pd.Series(ts, dtype="object")),
            "html": pd.Series(html, dtype="object"),
            "lang": pd.Series([None] * len(rows), dtype="object"),
            "shard": pd.Series(shard, dtype="object"),
            "shard_truncated": pd.Series(trunc, dtype="int32"),
        })

    for pdf in batches:
        for p, content in zip(pdf["path"], pdf["content"]):
            buf = (content if isinstance(content, (bytes, bytearray))
                   else bytes(content))
            rows, nbytes = [], 0
            try:
                for hdr, body in iter_warc_records(buf):
                    if hdr.get("warc-type") != "response":
                        continue
                    payload = http_payload(body)
                    rows.append((hdr.get("warc-target-uri", ""),
                                 _parse_warc_date(
                                     hdr.get("warc-date", "")),
                                 payload, p, 0))
                    nbytes += len(payload)
                    if (len(rows) >= _BATCH_ROWS
                            or nbytes >= _BATCH_BYTES):
                        yield frame(rows)
                        rows, nbytes = [], 0
            except ValueError:
                rows.append((None, None, None, p, 1))  # lineage sentinel
            if rows:
                yield frame(rows)


READ_WET_SCHEMA = ("url string, warc_ts timestamp_ntz, text string, "
                   "shard string, shard_truncated int")


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """WET twin of :func:`read_warc`: ``conversion`` records (text/plain
    payload — the extracted-text product) from a directory of
    ``.warc.wet`` / ``.warc.wet.gz`` shards -> ``(url, warc_ts, text,
    shard, shard_truncated)``.  Same one-task-per-shard binaryFile scan,
    same streamed bounded-batch record splitting, same html-NULL-style
    lineage sentinel (here text-NULL) for rotten shard tails.  Text
    decodes as UTF-8 with surrogateescape so undecodable payload bytes
    round-trip instead of corrupting silently."""
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.wet*")
             .load(path)
             .select("path", "content"))
    return files.mapInPandas(python_stage(_split_wet_batches), READ_WET_SCHEMA)


def _split_wet_batches(batches):
    """mapInPandas splitter for WET shards — the ``conversion``-record
    mirror of :func:`_split_shard_batches` (kept separate, not
    parameterized: the response path's batching counts PAYLOAD bytes
    after the HTTP strip and is pinned by the property tests; sharing a
    core would couple the two record grammars for ~20 saved lines)."""
    import pandas as pd

    def frame(rows):
        url, ts, text, shard, trunc = zip(*rows)
        return pd.DataFrame({
            "url": pd.Series(url, dtype="object"),
            "warc_ts": pd.to_datetime(pd.Series(ts, dtype="object")),
            "text": pd.Series(text, dtype="object"),
            "shard": pd.Series(shard, dtype="object"),
            "shard_truncated": pd.Series(trunc, dtype="int32"),
        })

    for pdf in batches:
        for p, content in zip(pdf["path"], pdf["content"]):
            buf = (content if isinstance(content, (bytes, bytearray))
                   else bytes(content))
            rows, nbytes = [], 0
            try:
                for hdr, body in iter_warc_records(buf):
                    if hdr.get("warc-type") != "conversion":
                        continue
                    rows.append((hdr.get("warc-target-uri", ""),
                                 _parse_warc_date(hdr.get("warc-date", "")),
                                 body.decode("utf-8", "surrogateescape"),
                                 p, 0))
                    nbytes += len(body)
                    if (len(rows) >= _BATCH_ROWS
                            or nbytes >= _BATCH_BYTES):
                        yield frame(rows)
                        rows, nbytes = [], 0
            except ValueError:
                rows.append((None, None, None, p, 1))  # lineage sentinel
            if rows:
                yield frame(rows)


def write_warc(path: str, records, gzip_members: bool = False) -> int:
    """Deterministic WARC writer (tests + the export sink twin).

    ``records``: iterable of ``(url, warc_date_str, html_bytes)``.  Each
    becomes a ``response`` record wrapping a minimal HTTP 200 message;
    ``gzip_members=True`` writes the Common Crawl layout (one gzip member
    per record; zlib carries no mtime, so output is byte-deterministic).
    Returns the record count."""
    return _append_warc(path, records, gzip_members, fresh=True)


def write_wet(path: str, records, gzip_members: bool = False) -> int:
    """Deterministic WET writer — ``conversion`` records whose block IS
    the extracted text (the Common Crawl WET product, the standard
    extraction output format).  ``records``: iterable of ``(url,
    warc_date_str, text_str)``; framing in :func:`_append_wet`."""
    return _append_wet(path, records, gzip_members, fresh=True)


def write_warc_shards(df: DataFrame, out_dir: str,
                      gzip_members: bool = True) -> list:
    """Distributed WARC export: ONE ``.warc(.gz)`` shard per input
    partition — the inverse of :func:`read_warc`, for handing extracted
    or re-filtered corpora back to archive consumers.

    Input frame: ``(url, warc_ts, html)`` (extra columns ignored).  Each
    executor task streams its partition into
    ``{out_dir}/part-{pid:05d}.warc[.gz]`` and emits one manifest row —
    the job's collected result is the manifest ``[(shard, n_records,
    n_bytes)]``, tiny regardless of corpus size (same
    audit-before-publish shape as run_extraction's manifest; the page
    data itself never touches the driver).  Shard size = partition size:
    callers control it with repartition, exactly how Common Crawl sizes
    its ~1 GB shards.

    Urls containing raw CR/LF are written percent-encoded and stay that
    way on re-import (see :func:`_hdr_value` for the rationale)."""
    return _write_shards(df, out_dir, "html", bytes,
                         ".warc.gz" if gzip_members else ".warc",
                         _append_warc, gzip_members)


def write_wet_shards(df: DataFrame, out_dir: str,
                     gzip_members: bool = True) -> list:
    """Distributed WET export — the ``conversion``-record twin of
    :func:`write_warc_shards` for the pipeline's extracted TEXT output
    (one ``.warc.wet[.gz]`` shard per partition, same audited-manifest
    contract).  Input frame: ``(url, warc_ts, text)``."""
    return _write_shards(df, out_dir, "text", str,
                         ".warc.wet.gz" if gzip_members else ".warc.wet",
                         _append_wet, gzip_members)


def _write_shards(df: DataFrame, out_dir: str, payload_col: str,
                  payload_cast, ext: str, append_fn,
                  gzip_members: bool) -> list:
    """Shared shard-per-partition export core for the WARC (response)
    and WET (conversion) sinks: streams each partition through
    ``append_fn`` into ``{out_dir}/part-{pid:05d}{ext}`` and returns the
    collected manifest ``[(shard, n_records, n_bytes)]``."""
    import os

    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)

    def dump(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}{ext}")
        n = 0
        for pdf in batches:
            # vectorized date formatting (one .dt.strftime per Arrow
            # batch, not one strftime per record)
            dates = (pd.to_datetime(pdf["warc_ts"])
                     .dt.strftime("%Y-%m-%dT%H:%M:%SZ")
                     .fillna(""))
            # a NULL payload must fail LOUDLY before framing: bytes(None)
            # raises on the WARC path, but str(None) on the WET path
            # would silently serialize the 4-byte literal 'None' as a
            # record body (r9 review) — callers filter sentinel/parse-
            # failure rows (html/text IS NOT NULL) before exporting
            recs = []
            for url, date_s, payload in zip(pdf["url"], dates,
                                            pdf[payload_col]):
                if payload is None:
                    raise ValueError(
                        f"NULL {payload_col} for url {url!r}: filter "
                        f"sentinel/failed rows before the export sink")
                recs.append((url, date_s, payload_cast(payload)))
            # append mode: append_fn opens fresh only on the first batch
            n += append_fn(path, recs, gzip_members, fresh=(n == 0))
        size = os.path.getsize(path) if n else 0
        yield pd.DataFrame({"shard": pd.Series([path], dtype="object"),
                            "n_records": pd.Series([n], dtype="int64"),
                            "n_bytes": pd.Series([size], dtype="int64")})

    manifest = (df.select("url", "warc_ts", payload_col)
                .mapInPandas(python_stage(dump), "shard string, n_records long, "
                                   "n_bytes long")
                .collect())
    return [(r.shard, r.n_records, r.n_bytes) for r in manifest
            if r.n_records > 0]


def _hdr_value(s) -> str:
    """Sanitize a WARC header value: CR/LF would inject lines into the
    record grammar the property tests pin, so they are percent-encoded
    (RFC 3986 style — a URI may not contain raw CR/LF anyway).

    DELIBERATE write/read asymmetry (r6 ADVICE): the read path never
    percent-DEcodes, so a url containing raw CR/LF does not round-trip
    byte-identically through write_warc -> read_warc — it comes back
    with the literal '%0D'/'%0A'.  This is the intended contract (the
    injection tests pin it): such a "url" was never a legal URI, and
    decoding on read would turn every legitimately-%0A-bearing url into
    a header-injection vector.  Lineage joins on url must therefore
    sanitize with this same function (or reject CR/LF urls upstream)
    before comparing against re-imported records."""
    return str(s).replace("\r", "%0D").replace("\n", "%0A")


def _append_warc(path: str, records, gzip_members: bool,
                 fresh: bool) -> int:
    """write_warc's framing, append-capable (multi-batch partitions).
    Headers are UTF-8 (WARC 1.1 §4: header content is UTF-8 — an ASCII
    encode would crash the executor on any non-ASCII url)."""
    n = 0
    with open(path, "wb" if fresh else "ab") as f:
        for url, date_s, html in records:
            http = (b"HTTP/1.1 200 OK\r\n"
                    b"Content-Type: text/html\r\n\r\n" + html)
            hdr = (f"WARC/1.0\r\n"
                   f"WARC-Type: response\r\n"
                   f"WARC-Target-URI: {_hdr_value(url)}\r\n"
                   f"WARC-Date: {_hdr_value(date_s)}\r\n"
                   f"Content-Type: application/http; msgtype=response\r\n"
                   f"Content-Length: {len(http)}\r\n\r\n").encode("utf-8")
            rec = hdr + http + _CRLF2
            if gzip_members:
                gz = zlib.compressobj(9, zlib.DEFLATED, 31)
                rec = gz.compress(rec) + gz.flush()
            f.write(rec)
            n += 1
    return n


def _append_wet(path: str, records, gzip_members: bool,
                fresh: bool) -> int:
    """WET framing: ``conversion`` records whose block IS the extracted
    text (``Content-Type: text/plain`` — the Common Crawl WET layout;
    no HTTP wrapper, unlike response records).  ``WARC-Refers-To`` is
    the md5-urn of the record's own url — a DETERMINISTIC stand-in for
    the originating response record's uuid (this writer keeps no
    record-id registry, and byte-determinism is what the round-trip
    oracle and the gzip tests pin).  Text encodes as UTF-8 with
    surrogateescape, the exact inverse of :func:`read_wet`'s decode."""
    import hashlib

    n = 0
    with open(path, "wb" if fresh else "ab") as f:
        for url, date_s, text in records:
            block = text.encode("utf-8", "surrogateescape")
            refers = hashlib.md5(
                _hdr_value(url).encode("utf-8")).hexdigest()
            hdr = (f"WARC/1.0\r\n"
                   f"WARC-Type: conversion\r\n"
                   f"WARC-Target-URI: {_hdr_value(url)}\r\n"
                   f"WARC-Date: {_hdr_value(date_s)}\r\n"
                   f"WARC-Refers-To: <urn:md5:{refers}>\r\n"
                   f"Content-Type: text/plain\r\n"
                   f"Content-Length: {len(block)}\r\n\r\n").encode("utf-8")
            rec = hdr + block + _CRLF2
            if gzip_members:
                gz = zlib.compressobj(9, zlib.DEFLATED, 31)
                rec = gz.compress(rec) + gz.flush()
            f.write(rec)
            n += 1
    return n
