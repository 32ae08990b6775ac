"""WARC (ISO 28500) container source — Common-Crawl-style ingestion.

The BASELINE ``input_hint`` table ``(url, warc_ts, html, text, lang)``
is what a Common Crawl WARC segment parses INTO; this module performs
that parse as a distributed source. A DataFrame of
``(warc_file, data binary)`` blobs — one row per ``.warc.gz`` object,
exactly how Common Crawl ships segments — goes through an Arrow-batched
``mapInPandas`` parser that yields one row per WARC record. Reference
parity: SURVEY §2 S1/S7 (scan + system-node enrichment); the reference
scans a filesystem tree, the web-scale graft scans a WARC bucket.

Scale notes:
- Parallelism is per-blob (one task per WARC object; CC segments are
  ~1 GiB — when the blobs come from ``spark.read.format("binaryFile")``
  each file is already its own partition). Parsing is pure stdlib
  (``zlib`` for the per-record gzip members) so no extra deps.
- The parser materializes one *decompressed file* at a time inside the
  Arrow batch (CC segments decompress to ~4-5 GiB; for full-size segments
  pass ``spark.sql.execution.arrow.maxRecordsPerBatch=1`` so a task
  holds one blob). Memory is bounded by the blob, never the partition.
- The checked fields avoid timestamps-as-timestamps: ``warc_epoch`` is
  the integer epoch parsed from ``WARC-Date`` (second resolution per
  the spec), sidestepping session-timezone semantics in comparisons;
  ``warc_ts`` (timestamp) is also emitted for the API shape.

The writer half (``build_warc`` / ``warc_blobs_from_pages``) exists for
fixtures and tests: it produces spec-shaped ``.warc.gz`` bytes (one
gzip member per record — the Common Crawl layout that makes records
independently seekable) from a pages table, deterministically, so the
round-trip is oracle-checkable against the source parquet.
"""

from __future__ import annotations

import gzip
import io
import zlib
from calendar import timegm
from time import gmtime, strftime, strptime
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import WARC_BLOB_SCHEMA, WARC_RECORDS_SCHEMA

_GZIP_MAGIC = b"\x1f\x8b"
_CRLF2 = b"\r\n\r\n"


# Feed size for the chunked member walk. zlib copies ~(chunk - consumed)
# bytes into `unused_data` at each member boundary, so total copy cost is
# ~members x chunk: the chunk must be SMALL. 8 KiB makes 40k members cost
# ~320 MB of copies (~0.05s) while a large member pays only ~125k cheap
# decompress calls per GB. (1 MiB here re-created the quadratic blowup
# this walk exists to avoid: 40k members fed 1 MiB chunks copied ~40 GB.)
_GZ_CHUNK = 8 << 10


def _iter_members_chunked(data: bytes, keep_partial: bool = False):
    """Core member walk shared by :func:`_gunzip_members` and
    :func:`iter_gzip_members`: yields ``(offset, comp_len, plain)`` per
    complete gzip member. The decompressor is fed bounded chunks and
    advanced by ``len(chunk) - len(unused_data)`` per call, so the
    whole walk is O(filesize) — feeding the full remaining tail per
    member makes ``unused_data`` copy the tail once per member, which
    is quadratic (measured: 5k members 0.03s, 40k members 1.6s; a real
    ~1 GiB record-gzip segment has tens of thousands of members).

    A trailing truncated/corrupt member is dropped whole when
    ``keep_partial`` is False (the CDX geometry — an incomplete member
    is not fetchable), or yielded with whatever decoded when True (the
    parse path — a cut-off whole-file-gzip object must still give up
    its decodable record prefix)."""
    view = memoryview(data)
    n = len(data)
    pos = 0
    while pos < n and data[pos : pos + 2] == _GZIP_MAGIC:
        start = pos
        o = zlib.decompressobj(16 + zlib.MAX_WBITS)
        parts = []
        complete = False
        try:
            while pos < n:
                chunk = view[pos : pos + _GZ_CHUNK]
                parts.append(o.decompress(chunk))
                pos += len(chunk) - len(o.unused_data)
                if o.eof:
                    parts.append(o.flush())
                    complete = True
                    break
        except zlib.error:
            # corrupt member: surface its prefix if asked, stop either way
            if keep_partial and parts:
                yield (start, n - start, b"".join(parts))
            return
        if not complete:
            if keep_partial and parts:
                yield (start, n - start, b"".join(parts))
            return  # data exhausted mid-member (truncated tail)
        yield (start, pos - start, b"".join(parts))


def _gunzip_members(data: bytes) -> bytes:
    """Decompress a (possibly multi-member) gzip stream; pass through
    plain bytes. Member-by-member so a trailing truncated member
    degrades to 'records so far' — INCLUDING a truncated whole-file
    gzip, whose decodable prefix still parses (matching how CC readers
    tolerate a cut-off segment). O(filesize) — see
    :func:`_iter_members_chunked`."""
    if not data.startswith(_GZIP_MAGIC):
        return data
    return b"".join(
        plain
        for _, _, plain in _iter_members_chunked(bytes(data), keep_partial=True)
    )


def _hdr_decode(b: bytes) -> str:
    # WARC 1.1 allows UTF-8 header values (target URIs especially);
    # latin-1 is the total fallback for legacy/undeclared bytes.
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return b.decode("latin-1")


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n")[1:]:  # [0] is the version/status line
        k, sep, v = line.partition(b":")
        if sep:
            headers[_hdr_decode(k.strip()).lower()] = _hdr_decode(v.strip())
    return headers


def parse_warc(data: bytes) -> Iterator[dict]:
    """Iterate WARC records in ``data`` (gzipped or plain).

    Yields dicts with ``warc_type, url, warc_epoch, http_status,
    content_type, body``. For ``response`` records the HTTP envelope is
    stripped (status + Content-Type parsed out); other record types
    (``warcinfo``, ``request``, ``metadata``) carry their raw payload
    and ``http_status=None``. Malformed tails (missing header break,
    short payload) terminate iteration instead of raising — a cut-off
    object yields its complete prefix."""
    buf = _gunzip_members(bytes(data))
    pos = 0
    while True:
        i = buf.find(b"WARC/", pos)
        if i < 0:
            return
        hdr_end = buf.find(_CRLF2, i)
        if hdr_end < 0:
            return
        headers = _parse_headers(buf[i:hdr_end])
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            return
        payload = buf[hdr_end + 4 : hdr_end + 4 + clen]
        if len(payload) < clen:
            return  # truncated record
        pos = hdr_end + 4 + clen
        rec = {
            "warc_type": headers.get("warc-type", ""),
            "url": headers.get("warc-target-uri"),
            "warc_epoch": _parse_warc_date(headers.get("warc-date")),
            "http_status": None,
            "content_type": None,
            # revisit machinery (Common Crawl's cross-crawl dedup: an
            # unchanged page is stored as a digest pointer, no body)
            "payload_digest": headers.get("warc-payload-digest"),
            "refers_to": headers.get("warc-refers-to-target-uri"),
            "body": payload,
        }
        if payload.startswith(b"HTTP/"):
            he = payload.find(_CRLF2)
            if he >= 0:
                http = _parse_headers(payload[:he])
                status_line = payload[: payload.find(b"\r\n")].split(b" ")
                try:
                    rec["http_status"] = int(status_line[1])
                except (IndexError, ValueError):
                    pass
                rec["content_type"] = http.get("content-type")
                rec["body"] = payload[he + 4 :]
        yield rec


def iter_gzip_members(data: bytes):
    """Yield ``(offset, comp_len, plain_bytes)`` per gzip member — the
    random-access geometry CDX indexes record for record-gzipped WARCs
    (each member independently decompressible from its byte offset).
    Plain input yields one pseudo-member covering the whole buffer.
    O(filesize) chunked decompression (:func:`_iter_members_chunked`);
    a truncated final member is dropped, like :func:`_gunzip_members`."""
    data = bytes(data)
    if not data.startswith(_GZIP_MAGIC):
        yield (0, len(data), data)
        return
    yield from _iter_members_chunked(data)


def parse_warc_cdx(data: bytes) -> Iterator[dict]:
    """CDX-style index rows for a record-gzip WARC object: one row per
    response record with the ``(offset, length)`` of its gzip member in
    the COMPRESSED file — exactly what Common Crawl's cdx index stores,
    and what makes a 100 TB segment bucket point-addressable (fetch one
    record = one ranged read of ``length`` bytes at ``offset``, then
    :func:`fetch_warc_record`). Records inside a member inherit the
    member's geometry (spec layout is one record per member; a
    whole-file gzip yields one member spanning everything, which is
    honest: such a file is not random-accessible)."""
    for off, clen, plain in iter_gzip_members(data):
        for rec in parse_warc(plain):
            if rec["warc_type"] != "response":
                continue
            yield {
                "url": rec["url"],
                "warc_epoch": rec["warc_epoch"],
                "offset": off,
                "length": clen,
            }


def fetch_warc_record(
    data: bytes, offset: int, length: int, url: str | None = None
) -> dict | None:
    """Random access: decode the record at a CDX ``(offset, length)``
    slice of the compressed object (the slice is a complete gzip
    member, so only ``length`` bytes are ever touched). With ``url``
    given, returns the RESPONSE record for that target uri — the
    member-per-record layout has exactly one, but a whole-file-gzip
    object indexes every record at (0, total), where returning the
    blind first record would silently hand back warcinfo for every
    requested url."""
    for rec in parse_warc(bytes(data[offset : offset + length])):
        if url is None:
            return rec
        if rec["warc_type"] == "response" and rec["url"] == url:
            return rec
    return None


def warc_cdx_index(
    blobs: DataFrame, file_col: str = "warc_file", blob_col: str = "data"
) -> DataFrame:
    """Distributed CDX build: ``(warc_file, data)`` → one index row per
    response record ``(url, warc_file, warc_epoch, offset, length)``.
    At crawl scale this runs once per segment (one task per blob, same
    parallelism as the parse) and the output is the join key for
    point lookups — 'fetch these 10k urls out of 100 TB' becomes a
    broadcast semi-join against this table plus ranged reads, never a
    segment scan."""
    schema = (
        "warc_file string, url string, warc_epoch long, "
        "offset long, length long"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for name, data in zip(pdf[file_col], pdf[blob_col]):
                rows = [
                    (name, r["url"], r["warc_epoch"], r["offset"], r["length"])
                    for r in parse_warc_cdx(data)
                ]
                yield pd.DataFrame(
                    rows,
                    columns=["warc_file", "url", "warc_epoch", "offset", "length"],
                )

    return blobs.mapInPandas(gen, schema=schema)


def fetch_cdx_hits(blobs: DataFrame, hits: DataFrame) -> DataFrame:
    """Distributed point fetch: ``hits`` (``warc_file, url, offset,
    length`` — e.g. the CDX index semi-joined to a url list) against the
    segment blobs, one ranged slice per hit, never a full parse.

    Scale shape: the hit list per segment is grouped FIRST (one slim
    aggregate of offsets — the only shuffle), then joined to the blob
    table so each segment's bytes cross the join exactly once however
    many records it serves; slicing runs inside one Arrow batch. On a
    real bucket the blob read becomes a ranged GET per hit; here blobs
    are rows, so the slice IS the ranged read."""
    grouped = hits.groupBy("warc_file").agg(
        F.collect_list(F.struct("url", "offset", "length")).alias("_hits")
    )
    joined = grouped.join(blobs, "warc_file")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["warc_file", "url", "warc_epoch", "http_status", "body"]
        for pdf in batches:
            for name, hlist, data in zip(
                pdf["warc_file"], pdf["_hits"], pdf["data"]
            ):
                rows = []
                for h in hlist:
                    rec = fetch_warc_record(
                        data, h["offset"], h["length"], url=h["url"]
                    )
                    if rec is not None:
                        rows.append(
                            (
                                name,
                                rec["url"],
                                rec["warc_epoch"],
                                rec["http_status"],
                                rec["body"],
                            )
                        )
                yield pd.DataFrame(rows, columns=cols)

    return joined.mapInPandas(
        gen,
        schema="warc_file string, url string, warc_epoch long, "
        "http_status int, body binary",
    )


def _days_from_civil(y: int, m: int, d: int) -> int:
    """Days since 1970-01-01 (proleptic Gregorian) — Howard Hinnant's
    branchless civil-date algorithm, public domain."""
    y -= m <= 2
    era = (y if y >= 0 else y - 399) // 400
    yoe = y - era * 400
    doy = (153 * (m + (-3 if m > 2 else 9)) + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def _parse_warc_date(s: str | None) -> int | None:
    if not s:
        return None
    # fast path: the spec's fixed-width ISO-8601 Zulu form — strptime
    # was ~20% of a full parse (profiled); integer slicing is ~10x less
    try:
        if len(s) == 20 and s[4] == "-" and s[10] == "T" and s[19] == "Z":
            return (
                _days_from_civil(int(s[0:4]), int(s[5:7]), int(s[8:10])) * 86400
                + int(s[11:13]) * 3600
                + int(s[14:16]) * 60
                + int(s[17:19])
            )
        return timegm(strptime(s, "%Y-%m-%dT%H:%M:%SZ"))
    except ValueError:
        return None


def read_warc_records(
    blobs: DataFrame,
    file_col: str = "warc_file",
    blob_col: str = "data",
    only_responses: bool = False,
) -> DataFrame:
    """Distributed WARC parse: ``(warc_file, data)`` → one row per
    record (``WARC_RECORDS_SCHEMA``). ``only_responses`` pushes the
    ``warc_type='response'`` filter inside the parser so non-response
    payloads never cross the Arrow boundary."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = WARC_RECORDS_SCHEMA.fieldNames()
        for pdf in batches:
            for name, data in zip(pdf[file_col], pdf[blob_col]):
                rows = []
                for idx, rec in enumerate(parse_warc(data)):
                    if only_responses and rec["warc_type"] != "response":
                        continue
                    epoch = rec["warc_epoch"]
                    rows.append(
                        (
                            name,
                            idx,
                            rec["warc_type"],
                            rec["url"],
                            epoch,
                            # tz-AWARE: a naive timestamp would be
                            # reinterpreted in the session timezone and
                            # disagree with warc_epoch off-UTC
                            pd.Timestamp(epoch, unit="s", tz="UTC")
                            if epoch is not None
                            else pd.NaT,
                            rec["http_status"],
                            rec["content_type"],
                            rec["payload_digest"],
                            rec["refers_to"],
                            rec["body"],
                        )
                    )
                # one yield per FILE keeps peak memory at one decoded blob
                yield pd.DataFrame(rows, columns=cols)

    return blobs.mapInPandas(gen, schema=WARC_RECORDS_SCHEMA)


def _finish_pages(df: DataFrame) -> DataFrame:
    """(url, warc_ts, html) → the input_hint pages shape: codegen text
    extraction + stopword lang-id, no Python."""
    from ..functions.html import extract_html_text
    from ..functions.text import lang_id_heuristic

    text = extract_html_text(F.col("html"))
    return df.select(
        "url",
        "warc_ts",
        "html",
        text.alias("text"),
        lang_id_heuristic(text).alias("lang"),
    )


def pages_from_warc(
    blobs: DataFrame,
    prior_pages: DataFrame | None = None,
    **read_kw,
) -> DataFrame:
    """WARC blobs → the flagship pages table, end to end: parse the
    records (``read_warc_records``), extract text with the
    whole-stage-codegen HTML automaton (functions/html.py), classify
    language with the stopword-vote heuristic (functions/text.py).
    Output is exactly the BASELINE ``input_hint`` shape
    ``(url, warc_ts, html, text, lang)`` — i.e. this is the missing
    first mile: a Common Crawl segment bucket in, the dedup pipeline's
    input table out, with Python touched only inside the one Arrow
    parser; extraction and lang-id stay JVM-side codegen.

    ``prior_pages``: the previous crawl's pages table — when given,
    ``revisit`` records in the blobs (unchanged pages stored as digest
    pointers) are resolved against it (:func:`resolve_revisits`), so a
    crawl-diff ingests complete; without it revisits are dropped and
    only full responses ingest.

    Real segments carry redirects, error pages, and non-HTML payloads;
    only ``2xx`` responses (a record with no HTTP envelope keeps a null
    status and passes) whose Content-Type is
    ``text/html``/``application/xhtml`` (a missing header also passes)
    become pages — image bytes cast to 'html' would otherwise pollute
    the dedup corpus and lang stats."""

    def _page_gate(recs: DataFrame) -> DataFrame:
        ct = F.lower(F.coalesce(F.col("content_type"), F.lit("")))
        return recs.where(
            F.col("http_status").isNull()
            | F.col("http_status").between(200, 299)
        ).where(
            (ct == "")
            | ct.startswith("text/html")
            | ct.startswith("application/xhtml")
        )

    if prior_pages is not None:
        recs = _page_gate(read_warc_records(blobs, **read_kw))
        return _finish_pages(resolve_revisits(recs, prior_pages))
    recs = _page_gate(read_warc_records(blobs, only_responses=True, **read_kw))
    return _finish_pages(
        recs.select("url", "warc_ts", F.col("body").alias("html"))
    )


def build_wet(records: list[tuple[str, int, str]]) -> bytes:
    """WET-shaped ``.warc.gz`` bytes: a ``warcinfo`` header, then
    ``WARC-Type: conversion`` records carrying extracted plain text
    (UTF-8), one gzip member each — the Common Crawl *.wet.gz layout
    most text pipelines consume."""
    out = io.BytesIO()
    info = b"software: dedupe-algo-spark/fixture\r\nformat: WARC/1.0 WET\r\n"
    rec = (
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
        b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
        b"Content-Type: application/warc-fields\r\n"
        + f"Content-Length: {len(info)}\r\n\r\n".encode()
        + info
        + b"\r\n\r\n"
    )
    out.write(gzip.compress(rec, mtime=0))
    for url, epoch, text in records:
        date = strftime("%Y-%m-%dT%H:%M:%SZ", gmtime(int(epoch)))
        payload = text.encode("utf-8")
        rec = (
            b"WARC/1.0\r\nWARC-Type: conversion\r\n"
            + f"WARC-Target-URI: {url}\r\n".encode("utf-8")
            + f"WARC-Date: {date}\r\n".encode()
            + b"Content-Type: text/plain\r\n"
            + f"Content-Length: {len(payload)}\r\n\r\n".encode()
            + payload
            + b"\r\n\r\n"
        )
        out.write(gzip.compress(rec, mtime=0))
    return out.getvalue()


def pages_from_wet(blobs: DataFrame, **read_kw) -> DataFrame:
    """WET blobs → pages: ``conversion`` records carry extracted plain
    text, so no HTML pass — text decodes straight from the body,
    lang-id runs in codegen, ``html`` is null (the WET format does not
    ship markup). Same parallelism as the WARC reader: one task per
    segment object."""
    from ..functions.text import lang_id_heuristic

    recs = read_warc_records(blobs, **read_kw).where(
        F.col("warc_type") == "conversion"
    )
    text = F.col("body").cast("string")
    return recs.select(
        "url",
        "warc_ts",
        F.lit(None).cast("binary").alias("html"),
        text.alias("text"),
        lang_id_heuristic(text).alias("lang"),
    )


def read_blobs(spark, path: str) -> DataFrame:
    """Segment objects as ``(warc_file, data)`` rows via ``binaryFile``
    — one task per file. The single blob reader behind every WARC/WET
    entry point (batch jobs here; the streaming twin re-declares the
    same projection on ``readStream``). ``binaryFile`` holds a whole
    object in one byte array, capped at the JVM's 2 GB int limit —
    standard CC segments are ~1 GB so this is the right default; for
    oversized segments use :func:`read_blobs_ranged`."""
    return (
        spark.read.format("binaryFile")
        .load(path)
        .select(F.col("path").alias("warc_file"), F.col("content").alias("data"))
    )


def _local_path(p: str) -> str:
    """Strip the ``file:`` scheme ``binaryFile``/``warc_cdx_index``
    carry so task-side ``open()`` works on the same identifiers:
    ``file:/x``, ``file:///x`` and ``file://localhost/x`` all map to
    ``/x``. Any other authority names a remote host and raises."""
    from urllib.parse import urlsplit

    u = urlsplit(p, allow_fragments=False)
    if u.scheme != "file":
        return p
    if u.netloc not in ("", "localhost"):
        raise ValueError(f"{p!r}: file URI names a remote host {u.netloc!r}")
    return u.path + (f"?{u.query}" if u.query else "")


def _list_segment_files(path: str) -> list[str]:
    """``binaryFile``-style listing for the ranged reader: a directory
    lists its files, anything else is a glob pattern."""
    import glob as _glob
    import os as _os

    p = _local_path(path)
    cands = (
        sorted(_glob.glob(_os.path.join(p, "*")))
        if _os.path.isdir(p)
        else sorted(_glob.glob(p))
    )
    return [c for c in cands if _os.path.isfile(c)]


def file_member_geometry(
    spark, path: str, num_partitions: int | None = None
) -> DataFrame:
    """``(warc_file, offset, length)`` for every complete gzip member
    of every segment under ``path`` — the no-CDX bootstrap for
    :func:`read_blobs_ranged`. One task per file; each task ``mmap``-s
    its file and runs the same chunked member walk as the in-memory
    parse, so resident memory is one decompressed member plus the OS
    page cache's sequential window — a 100 GB segment indexes without
    ever being held, and 64-bit offsets sidestep the ``binaryFile``
    2 GB cap entirely."""
    files = _list_segment_files(path)
    if not files:
        # mirror binaryFile's behavior on a bad/empty path: a loud
        # error, not a silently empty ingest that "succeeds" with 0
        # rows because of a typo'd directory
        raise FileNotFoundError(
            f"file_member_geometry: no segment files under {path!r}"
        )
    if num_partitions is None:
        num_partitions = min(len(files), spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import mmap
        import os as _os

        for pdf in batches:
            for p in pdf["warc_file"]:
                if _os.path.getsize(p) == 0:
                    # a truncated-to-empty download would otherwise
                    # vanish from the ingest without a trace
                    raise ValueError(f"{p}: empty segment file (0 bytes)")
                with open(p, "rb") as fh, mmap.mmap(
                    fh.fileno(), 0, access=mmap.ACCESS_READ
                ) as mm:
                    if mm[:2] != b"\x1f\x8b":
                        # a plain (uncompressed) .warc has no gzip
                        # members — the member walk would yield
                        # nothing and the file's pages would vanish
                        # silently; the 'warc' (binaryFile) format
                        # parses such files via its plain-bytes
                        # passthrough, so point the caller there
                        raise ValueError(
                            f"{p}: not gzip — ranged ingest needs "
                            "member-gzip segments; use "
                            "input_format='warc' for plain WARCs"
                        )
                    rows = [
                        (p, off, clen)
                        for off, clen, _ in _iter_members_chunked(mm)
                    ]
                yield pd.DataFrame(
                    rows, columns=["warc_file", "offset", "length"]
                )

    return (
        spark.createDataFrame([(p,) for p in files], "warc_file string")
        .repartition(max(num_partitions, 1))
        .mapInPandas(gen, schema="warc_file string, offset long, length long")
    )


# Ranged-chunk target: enough members per task to amortize the open()
# and scheduling, far below executor memory even decompressed.
DEFAULT_RANGE_BYTES = 128 << 20


def read_blobs_ranged(
    spark,
    path: str,
    cdx: DataFrame | None = None,
    target_bytes: int = DEFAULT_RANGE_BYTES,
    num_partitions: int | None = None,
) -> DataFrame:
    """Splittable ranged ingest for segments ``binaryFile`` cannot hold
    (its byte array caps at the JVM 2 GB int limit; remote stores have
    the same shape with ranged GETs). Produces the exact
    ``(warc_file, data)`` blob rows :func:`read_warc_records` /
    :func:`pages_from_warc` already consume — each row is a run of
    complete gzip members re-packed as one multi-member stream — so
    every downstream parser works unchanged while a single oversized
    file fans out across many bounded tasks.

    Geometry: ``cdx`` (a :func:`warc_cdx_index`-shaped table, e.g. the
    index Common Crawl ships next to its segments) supplies
    ``(warc_file, offset, length)`` directly — the reader then
    ingests exactly the indexed records (CC's CDX indexes responses,
    so warcinfo/request filler bytes are skipped, which is the point
    of an index-driven fetch). Without one, :func:`file_member_geometry`
    streams the member walk per file, covering every record type.

    Chunking is distributed: a per-file cumulative-sum window over the
    slim geometry rows assigns members to ≤``target_bytes`` chunks
    (one shuffle of (file, offset, length) triples — nothing else
    moves), then one task per chunk seeks and reads only its ranges.
    A member larger than ``target_bytes`` gets a chunk to itself;
    memory per task is bounded by max(chunk, one member) compressed
    plus one decompressed member downstream, never the file."""
    geom = (
        cdx.select("warc_file", "offset", "length")
        if cdx is not None
        else file_member_geometry(spark, path)
    )
    w = Window.partitionBy("warc_file").orderBy("offset")
    chunks = (
        geom.withColumn("_end", F.sum("length").over(w))
        .withColumn(
            "_chunk",
            ((F.col("_end") - F.col("length")) / F.lit(int(target_bytes))).cast(
                "long"
            ),
        )
        .groupBy("warc_file", "_chunk")
        .agg(
            F.sort_array(F.collect_list(F.struct("offset", "length"))).alias(
                "_ranges"
            )
        )
    )
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for name, ranges in zip(pdf["warc_file"], pdf["_ranges"]):
                with open(_local_path(name), "rb") as fh:
                    parts = []
                    for r in ranges:
                        fh.seek(int(r["offset"]))
                        parts.append(fh.read(int(r["length"])))
                yield pd.DataFrame(
                    {"warc_file": [name], "data": [b"".join(parts)]}
                )

    return chunks.repartition(max(int(num_partitions), 1)).mapInPandas(
        gen, schema="warc_file string, data binary"
    )


def load_pages(
    spark,
    path: str,
    input_format: str = "parquet",
    prior_path: str | None = None,
) -> DataFrame:
    """Job-facing pages loader shared by the spark-submit entry points:
    ``parquet`` reads the pages table as-is; ``warc``/``wet`` read
    ``path`` as a directory of segment objects (:func:`read_blobs`) and
    build the pages shape. ``prior_path`` (warc only): the previous
    crawl's pages parquet — revisit records resolve against it, so a
    crawl-diff bucket ingests complete."""
    if input_format in ("warc", "warc-ranged"):
        prior = spark.read.parquet(prior_path) if prior_path else None
        blobs = (
            read_blobs_ranged(spark, path)
            if input_format == "warc-ranged"
            else read_blobs(spark, path)
        )
        return pages_from_warc(blobs, prior_pages=prior)
    if input_format == "wet":
        return pages_from_wet(read_blobs(spark, path))
    if input_format == "parquet":
        return spark.read.parquet(path)
    raise ValueError(f"unknown input_format: {input_format!r}")


def build_warc(
    records: list[tuple[str, int, bytes]],
    warcinfo: bool = True,
    revisits: list[tuple[str, int, str, str]] | None = None,
) -> bytes:
    """Spec-shaped ``.warc.gz`` bytes from ``(url, epoch, html)`` rows:
    one gzip member per record (the Common Crawl layout — records stay
    independently seekable), an optional leading ``warcinfo`` member,
    HTTP/1.1 response envelope per page. Deterministic: record ids
    derive from the url, dates from the given epoch.

    ``revisits``: ``(url, epoch, payload_digest, refers_to_uri)`` rows
    appended as ``WARC-Type: revisit`` records — the crawl-side dedup
    convention (identical-payload-digest profile): a re-fetched page
    whose content is unchanged ships only its digest and a pointer to
    the earlier capture, no body."""
    out = io.BytesIO()

    def member(warc_headers: list[tuple[str, str]], payload: bytes) -> None:
        head = b"WARC/1.0\r\n" + b"".join(
            f"{k}: {v}\r\n".encode("utf-8") for k, v in warc_headers
        )
        rec = head + f"Content-Length: {len(payload)}\r\n\r\n".encode() + payload + b"\r\n\r\n"
        # mtime=0 + fixed filename keep the bytes reproducible run-to-run
        out.write(gzip.compress(rec, mtime=0))

    if warcinfo:
        info = b"software: dedupe-algo-spark/fixture\r\n"
        member(
            [
                ("WARC-Type", "warcinfo"),
                ("WARC-Date", "2026-01-01T00:00:00Z"),
                ("Content-Type", "application/warc-fields"),
            ],
            info,
        )
    for url, epoch, html in records:
        date = strftime("%Y-%m-%dT%H:%M:%SZ", gmtime(int(epoch)))
        http = (
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=utf-8\r\n"
            + f"Content-Length: {len(html)}\r\n\r\n".encode()
            + bytes(html)
        )
        member(
            [
                ("WARC-Type", "response"),
                ("WARC-Target-URI", url),
                ("WARC-Date", date),
                ("Content-Type", "application/http; msgtype=response"),
            ],
            http,
        )
    for url, epoch, digest, refers_to in revisits or ():
        date = strftime("%Y-%m-%dT%H:%M:%SZ", gmtime(int(epoch)))
        member(
            [
                ("WARC-Type", "revisit"),
                ("WARC-Target-URI", url),
                ("WARC-Date", date),
                ("WARC-Payload-Digest", digest),
                ("WARC-Refers-To-Target-URI", refers_to),
                ("WARC-Profile", "identical-payload-digest"),
            ],
            b"",
        )
    return out.getvalue()


def page_digest(html: Column = None) -> Column:
    """The engine's payload digest for revisit resolution:
    ``sha256:<hex>`` over the raw html bytes (Common Crawl uses
    sha1:base32; the labeled-prefix form is the convention, the
    algorithm is the writer's choice — ours is the same SHA-256 the
    dedup cascade already standardizes on)."""
    h = F.col("html") if html is None else html
    return F.concat(F.lit("sha256:"), F.sha2(h, 256))


def resolve_revisits(records: DataFrame, prior_pages: DataFrame) -> DataFrame:
    """Materialize a crawl that contains revisit records against the
    prior crawl's pages: responses keep their own body; revisits join
    ``prior_pages`` on payload digest and inherit the stored html.
    Output is one row per record url with the NEW capture's timestamp —
    i.e. the current crawl's pages table, bodies deduplicated across
    crawls exactly as the archive intended.

    Scale shape: the resolving join must NOT shuffle prior bodies by
    digest (at crawl scale ``prior_pages`` IS the big table). The slim
    ``(url, ts, digest)`` pointer set — bytes-per-row tiny and typically
    one batch of segments — broadcasts, so the prior table is probed in
    place, map-side, zero body movement. Unresolvable revisits (digest
    absent from ``prior_pages``) are dropped — surface them via lineage
    counts if needed."""
    # NB: no digest-dedup on the prior side — that would shuffle prior
    # bodies, the exact thing this plan exists to avoid. If several
    # prior pages share a digest their bodies are identical (that is
    # what the digest says), so the join may fan out and the output is
    # deduped by url AFTER the join, where rows number revisits, not
    # corpus.
    prior = prior_pages.select(
        page_digest().alias("payload_digest"),
        F.col("html").alias("_html"),
    )
    responses = records.where(F.col("warc_type") == "response").select(
        "url", "warc_ts", "warc_epoch", F.col("body").alias("html")
    )
    pointers = F.broadcast(
        records.where(F.col("warc_type") == "revisit").select(
            "url", "warc_ts", "warc_epoch", "payload_digest"
        )
    )
    revisits = (
        prior.join(pointers, "payload_digest")
        .select("url", "warc_ts", "warc_epoch", F.col("_html").alias("html"))
        .dropDuplicates(["url"])
    )
    return responses.unionByName(revisits)


def warc_blobs_from_pages(
    pages: DataFrame, per_file: int = 50, ts_col: str = "ts_epoch"
) -> DataFrame:
    """Pack a pages DataFrame ``(url, ts_epoch, html)`` into
    deterministic WARC blobs, ``per_file`` records each, urls sorted.

    Fixture-scale writer: the global ``row_number`` window is a single
    shuffle and fine for test corpora; at crawl scale WARC objects
    already exist on storage and this function is never on the path
    (``read_warc_records`` is). ``applyInPandas`` per file id keeps the
    build streaming — one file's records per task."""
    w = Window.orderBy("url")
    tagged = (
        pages.select("url", ts_col, "html")
        .withColumn("_rn", F.row_number().over(w) - F.lit(1))
        .withColumn("_fid", (F.col("_rn") / per_file).cast("long"))
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_rn")
        fid = int(pdf["_fid"].iloc[0])
        blob = build_warc(
            list(zip(pdf["url"], pdf[ts_col].astype(int), pdf["html"]))
        )
        return pd.DataFrame(
            {"warc_file": [f"crawl-{fid:05d}.warc.gz"], "data": [blob]}
        )

    return tagged.groupBy("_fid").applyInPandas(pack, schema=WARC_BLOB_SCHEMA)
