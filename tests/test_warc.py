"""WARC container source (sources/warc.py): writer/parser round-trip,
malformed-input tolerance, and the distributed mapInPandas read path."""

from __future__ import annotations

import gzip

from pyspark.sql import functions as F

from dedupe_algo_spark.sources.warc import (
    _gunzip_members,
    build_warc,
    parse_warc,
    read_warc_records,
    warc_blobs_from_pages,
)

PAGES = [
    ("http://ex.com/a", 1735689600, b"<html><body>alpha \xc3\xa9</body></html>"),
    ("http://ex.com/b", 1735689661, b"<p>beta</p>"),
    ("http://ex.com/c", 1735693200, b"x" * 5000),
]


def test_round_trip_gzip_members():
    blob = build_warc(PAGES)
    recs = list(parse_warc(blob))
    assert [r["warc_type"] for r in recs] == ["warcinfo", "response", "response", "response"]
    resp = recs[1:]
    assert [(r["url"], r["warc_epoch"], r["body"]) for r in resp] == PAGES
    assert all(r["http_status"] == 200 for r in resp)
    assert all(r["content_type"] == "text/html; charset=utf-8" for r in resp)
    # warcinfo carries no HTTP envelope
    assert recs[0]["http_status"] is None and recs[0]["url"] is None


def test_plain_uncompressed_warc():
    plain = _gunzip_members(build_warc(PAGES, warcinfo=False))
    assert not plain.startswith(b"\x1f\x8b")
    recs = list(parse_warc(plain))
    assert [(r["url"], r["body"]) for r in recs] == [(u, h) for u, _, h in PAGES]


def test_truncated_blob_yields_complete_prefix():
    blob = build_warc(PAGES, warcinfo=False)
    # cut inside the last gzip member: the first two records must survive
    cut = blob[: len(blob) - 100]
    recs = list(parse_warc(cut))
    assert 1 <= len(recs) < len(PAGES)
    assert recs[0]["body"] == PAGES[0][2]
    # cutting mid-record after decompression also degrades, never raises
    plain = _gunzip_members(blob)
    assert len(list(parse_warc(plain[: len(plain) - 10]))) == len(PAGES) - 1


def test_single_member_gzip_stream_parses():
    # a whole-file gzip (not per-record members) is also tolerated
    plain = _gunzip_members(build_warc(PAGES, warcinfo=False))
    whole = gzip.compress(plain, mtime=0)
    assert len(list(parse_warc(whole))) == len(PAGES)


def test_read_warc_records_distributed(spark):
    blobs = spark.createDataFrame(
        [("f0.warc.gz", bytearray(build_warc(PAGES)))], "warc_file string, data binary"
    )
    out = read_warc_records(blobs, only_responses=True).orderBy("rec_index")
    rows = out.collect()
    assert [r.url for r in rows] == [u for u, _, _ in PAGES]
    assert [bytes(r.body) for r in rows] == [h for _, _, h in PAGES]
    assert [r.warc_epoch for r in rows] == [t for _, t, _ in PAGES]
    # timestamp column mirrors the epoch (session tz is UTC)
    ts = out.select(F.unix_timestamp("warc_ts").alias("e")).collect()
    assert [r.e for r in ts] == [t for _, t, _ in PAGES]
    # non-response records are filtered inside the parser
    all_rows = read_warc_records(blobs).collect()
    assert len(all_rows) == len(PAGES) + 1


def test_warc_blobs_from_pages_deterministic(spark):
    pages = spark.createDataFrame(
        [(u, h, t) for u, t, h in PAGES], "url string, html binary, ts_epoch long"
    )
    b1 = {r.warc_file: bytes(r.data) for r in warc_blobs_from_pages(pages, per_file=2).collect()}
    b2 = {r.warc_file: bytes(r.data) for r in warc_blobs_from_pages(pages, per_file=2).collect()}
    assert b1 == b2  # byte-reproducible (mtime=0, url-sorted packing)
    assert sorted(b1) == ["crawl-00000.warc.gz", "crawl-00001.warc.gz"]
    # records land url-sorted across files, 2 then 1
    parsed = {f: [r["url"] for r in parse_warc(d) if r["warc_type"] == "response"] for f, d in b1.items()}
    assert parsed == {
        "crawl-00000.warc.gz": ["http://ex.com/a", "http://ex.com/b"],
        "crawl-00001.warc.gz": ["http://ex.com/c"],
    }


def test_pages_from_warc_reproduces_fixture(spark):
    """End-to-end first mile: fixture pages → WARC blobs → parsed pages.
    url/html are byte-identical; text matches the fixture's ground-truth
    extraction (the north-star byte-identity invariant, through the WARC
    round-trip); lang equals the heuristic applied to that text."""
    from dedupe_algo_spark.functions.text import lang_id_heuristic
    from dedupe_algo_spark.queries import HTML_SNAPSHOT
    from dedupe_algo_spark.sources.warc import pages_from_warc

    fix = spark.read.parquet(HTML_SNAPSHOT).limit(60)
    src = fix.select(
        "url", "html", (F.length("html") * 7 + 1735689600).alias("ts_epoch")
    )
    pages = pages_from_warc(warc_blobs_from_pages(src, per_file=25))
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    joined = pages.alias("p").join(fix.alias("f"), "url")
    n = fix.count()
    assert joined.count() == n
    ok = joined.where(
        (F.col("p.html") == F.col("f.html"))
        & (F.col("p.text") == F.col("f.text"))
        & (F.col("p.lang") == lang_id_heuristic(F.col("f.text")))
    ).count()
    assert ok == n


def test_warc_dir_via_binaryfile(spark, tmp_path):
    """The dedup_job --input-format warc glue: .warc.gz segment files on
    disk → binaryFile rows → pages table → exact cascade. One task per
    segment file, no staging table."""
    from dedupe_algo_spark.operators.dedup import exact_dup_assignments
    from dedupe_algo_spark.sources.warc import load_pages

    text = "dup dup dup words " * 20
    html = f"<html><body>{text.strip()}</body></html>".encode()
    seg = [
        ("http://w/a", 1735689600, html),
        ("http://w/b", 1735689601, html),  # exact dup of /a
        ("http://w/c", 1735689602, b"<p>unique page body entirely else</p>"),
    ]
    d = tmp_path / "segments"
    d.mkdir()
    (d / "seg-00000.warc.gz").write_bytes(build_warc(seg[:2]))
    (d / "seg-00001.warc.gz").write_bytes(build_warc(seg[2:]))

    pages = load_pages(spark, str(d), "warc")
    assert pages.count() == 3
    dup = exact_dup_assignments(pages.select("url", "text"))
    urls = sorted(r.url for r in dup.collect())
    assert urls == ["http://w/a", "http://w/b"]


def _ranged_fixture(tmp_path, n_per_file=6, n_files=3):
    d = tmp_path / "big_segments"
    d.mkdir()
    all_pages = []
    for f in range(n_files):
        seg = [
            (
                f"http://big/{f}/{i}",
                1735689600 + f * 100 + i,
                (f"<html><body>page {f}-{i} " + "w" * (200 * i) + "</body></html>").encode(),
            )
            for i in range(n_per_file)
        ]
        (d / f"seg-{f:05d}.warc.gz").write_bytes(build_warc(seg))
        all_pages += seg
    return d, all_pages


def test_file_member_geometry_tiles_each_file(spark, tmp_path):
    import os

    from dedupe_algo_spark.sources.warc import file_member_geometry

    d, _ = _ranged_fixture(tmp_path)
    geom = sorted(
        ((r.warc_file, r.offset, r.length)
         for r in file_member_geometry(spark, str(d)).collect())
    )
    by_file: dict[str, list[tuple[int, int]]] = {}
    for p, off, ln in geom:
        by_file.setdefault(p, []).append((off, ln))
    assert len(by_file) == 3
    for p, ranges in by_file.items():
        # contiguous from 0 and tiling the exact file size
        pos = 0
        for off, ln in sorted(ranges):
            assert off == pos
            pos += ln
        assert pos == os.path.getsize(p)
        assert len(ranges) == 7  # warcinfo + 6 responses


def test_read_blobs_ranged_matches_binaryfile(spark, tmp_path):
    """The 2 GB-cap fallback: multi-member segments read as ranged
    chunks must produce byte-identical pages to the binaryFile path —
    with target_bytes small enough that every file splits into several
    chunk tasks."""
    from dedupe_algo_spark.sources.warc import (
        pages_from_warc,
        read_blobs,
        read_blobs_ranged,
    )

    d, all_pages = _ranged_fixture(tmp_path)
    base = {
        (r.url, bytes(r.html))
        for r in pages_from_warc(read_blobs(spark, str(d))).collect()
    }
    ranged_blobs = read_blobs_ranged(spark, str(d), target_bytes=400)
    # chunking actually split: more chunk rows than files
    assert ranged_blobs.count() > 3
    got = {
        (r.url, bytes(r.html))
        for r in pages_from_warc(ranged_blobs).collect()
    }
    assert got == base == {(u, h) for u, _, h in all_pages}


def test_read_blobs_ranged_cdx_geometry(spark, tmp_path):
    """CDX-driven ranges: the shipped index's (offset, length) rows
    select exactly the response records — warcinfo bytes are never
    read — and the parse matches the full-scan baseline."""
    from dedupe_algo_spark.sources.warc import (
        read_blobs,
        read_blobs_ranged,
        read_warc_records,
        warc_cdx_index,
    )

    d, all_pages = _ranged_fixture(tmp_path)
    cdx = warc_cdx_index(read_blobs(spark, str(d)))
    recs = read_warc_records(
        read_blobs_ranged(spark, str(d), cdx=cdx, target_bytes=400)
    )
    assert recs.where(F.col("warc_type") != "response").count() == 0
    got = {
        (r.url, r.warc_epoch, bytes(r.body)) for r in recs.collect()
    }
    assert got == {(u, e, h) for u, e, h in all_pages}


def test_warc_cdx_index_point_lookup(spark):
    """CDX build + point lookup: the index rows' (offset, length) slices
    random-access their exact records through Spark, the way a 100 TB
    bucket is fetched — broadcast semi-join on the index, ranged reads,
    no segment scan."""
    from dedupe_algo_spark.sources.warc import fetch_warc_record, warc_cdx_index

    segs = {
        "s0.warc.gz": [("http://c/x", 1735689600, b"<p>xx</p>"), ("http://c/y", 1735689601, b"<p>yy</p>")],
        "s1.warc.gz": [("http://c/z", 1735689602, b"<p>zz</p>")],
    }
    blob_map = {f: build_warc(recs) for f, recs in segs.items()}
    blobs = spark.createDataFrame(
        [(f, bytearray(b)) for f, b in blob_map.items()],
        "warc_file string, data binary",
    )
    cdx = warc_cdx_index(blobs)
    rows = cdx.orderBy("url").collect()
    assert [(r.url, r.warc_epoch) for r in rows] == [
        ("http://c/x", 1735689600),
        ("http://c/y", 1735689601),
        ("http://c/z", 1735689602),
    ]
    for r in rows:
        rec = fetch_warc_record(blob_map[r.warc_file], r.offset, r.length)
        assert rec["url"] == r.url and rec["warc_epoch"] == r.warc_epoch


def test_fetch_cdx_hits(spark):
    """'Fetch these urls out of the bucket': url list → CDX semi-join →
    grouped ranged reads. Bodies come back exact; un-requested records
    never materialize."""
    from dedupe_algo_spark.sources.warc import fetch_cdx_hits, warc_cdx_index

    segs = {
        "s0.warc.gz": [(f"http://f/{i}", 1735689600 + i, b"<p>%d</p>" % i) for i in range(4)],
        "s1.warc.gz": [(f"http://g/{i}", 1735689700 + i, b"<q>%d</q>" % i) for i in range(3)],
    }
    blobs = spark.createDataFrame(
        [(f, bytearray(build_warc(recs))) for f, recs in segs.items()],
        "warc_file string, data binary",
    )
    cdx = warc_cdx_index(blobs)
    want = spark.createDataFrame(
        [("http://f/1",), ("http://f/3",), ("http://g/0",)], "url string"
    )
    hits = cdx.join(F.broadcast(want), "url")
    out = fetch_cdx_hits(blobs, hits).orderBy("url").collect()
    assert [(r.url, bytes(r.body)) for r in out] == [
        ("http://f/1", b"<p>1</p>"),
        ("http://f/3", b"<p>3</p>"),
        ("http://g/0", b"<q>0</q>"),
    ]
    assert all(r.http_status == 200 for r in out)


def test_revisit_records_resolve_against_prior_crawl(spark):
    """Cross-crawl dedup the archive way: crawl 2 re-captures two
    unchanged pages as revisit records (digest pointer, empty body) and
    one changed page as a full response. resolve_revisits materializes
    crawl 2's pages table with bodies inherited by digest from crawl 1;
    an unresolvable digest drops out."""
    import hashlib

    from dedupe_algo_spark.sources.warc import (
        read_warc_records,
        resolve_revisits,
    )

    c1 = {
        "http://r/a": b"<p>alpha</p>",
        "http://r/b": b"<p>beta</p>",
        "http://r/c": b"<p>gamma-old</p>",
    }
    prior = spark.createDataFrame(
        [(u, bytearray(h)) for u, h in c1.items()], "url string, html binary"
    )

    def dig(b):
        return "sha256:" + hashlib.sha256(b).hexdigest()

    blob = build_warc(
        [("http://r/c", 1800000000, b"<p>gamma-NEW</p>")],
        revisits=[
            ("http://r/a", 1800000001, dig(c1["http://r/a"]), "http://r/a"),
            ("http://r/b", 1800000002, dig(c1["http://r/b"]), "http://r/b"),
            ("http://r/gone", 1800000003, "sha256:" + "0" * 64, "http://r/gone"),
        ],
    )
    recs = read_warc_records(
        spark.createDataFrame(
            [("c2.warc.gz", bytearray(blob))], "warc_file string, data binary"
        )
    )
    # revisit headers surface on the record rows
    rv = {r.url: r for r in recs.where("warc_type = 'revisit'").collect()}
    assert rv["http://r/a"].payload_digest == dig(c1["http://r/a"])
    assert rv["http://r/a"].refers_to == "http://r/a"
    assert bytes(rv["http://r/a"].body) == b""

    out = {r.url: r for r in resolve_revisits(recs, prior).collect()}
    assert set(out) == {"http://r/a", "http://r/b", "http://r/c"}
    assert bytes(out["http://r/a"].html) == c1["http://r/a"]  # inherited
    assert bytes(out["http://r/b"].html) == c1["http://r/b"]
    assert bytes(out["http://r/c"].html) == b"<p>gamma-NEW</p>"  # own body
    # new capture's timestamps, not the prior crawl's
    assert out["http://r/a"].warc_ts.timestamp() == 1800000001


def test_dedup_warc_stream_first_seen(spark, tmp_path):
    """Streaming crawl-bucket dedup: segments arrive in two waves; each
    distinct text is emitted exactly once, on first arrival, across
    micro-batches (state store suppresses wave-2 re-captures)."""
    from dedupe_algo_spark.streaming import dedup_warc_stream

    text_a = "alpha " * 30
    text_b = "beta " * 30
    text_c = "gamma " * 30

    def page(url, ts, text):
        return (url, ts, f"<html><body>{text.strip()}</body></html>".encode())

    d = tmp_path / "bucket"
    d.mkdir()
    (d / "seg-0.warc.gz").write_bytes(
        build_warc([page("http://s/a", 1800000000, text_a), page("http://s/b", 1800000001, text_b)])
    )
    out = dedup_warc_stream(spark, str(d))
    # a live (non-availableNow) query so later waves land in the same
    # run and the state store must suppress re-captures
    q = (
        out.writeStream.format("memory")
        .queryName("warc_stream_t")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        pdf = spark.sql("select * from warc_stream_t").toPandas()
        assert sorted(pdf["url"]) == ["http://s/a", "http://s/b"]
        # wave 2: one dup of a (different url), one new page
        (d / "seg-1.warc.gz").write_bytes(
            build_warc([page("http://s/a2", 1800000100, text_a), page("http://s/c", 1800000101, text_c)])
        )
        q.processAllAvailable()
        pdf = spark.sql("select * from warc_stream_t").toPandas()
        assert sorted(pdf["url"]) == ["http://s/a", "http://s/b", "http://s/c"]
    finally:
        q.stop()


def test_resolve_revisits_plan_prior_bodies_never_shuffle(spark, tmp_path):
    """Scale assertion: the broadcast pointer set probes the
    prior corpus in place — no Exchange carries the prior
    html, and the resolving join is a broadcast join. The only body
    movement is the revisit-sized output dedup."""
    from dedupe_algo_spark.plans import exchange_columns, has_broadcast_join
    from dedupe_algo_spark.sources.warc import read_warc_records, resolve_revisits

    # prior corpus from parquet so the plan has a real scan to prune
    p = tmp_path / "prior"
    spark.createDataFrame(
        [(f"http://pl/{i}", bytearray(b"<p>%d</p>" % i)) for i in range(20)],
        "url string, html binary",
    ).write.parquet(str(p))
    prior = spark.read.parquet(str(p))

    import hashlib

    dig = "sha256:" + hashlib.sha256(b"<p>7</p>").hexdigest()
    blob = build_warc([], revisits=[("http://pl/7b", 1800000000, dig, "http://pl/7")])
    recs = read_warc_records(
        spark.createDataFrame(
            [("c.warc.gz", bytearray(blob))], "warc_file string, data binary"
        )
    )
    out = resolve_revisits(recs, prior)
    assert has_broadcast_join(out)
    # the prior-side body (aliased _html before the join) never enters
    # a shuffle — the broadcast probes the corpus in place. The only
    # body-carrying exchange is the post-join url dedup, whose rows
    # number revisits, not corpus (it carries the renamed `html`).
    assert "_html" not in exchange_columns(out)
    rows = out.collect()
    assert {r.url for r in rows} == {"http://pl/7b"}
    assert bytes(rows[0].html) == b"<p>7</p>"


def test_load_pages_warc_with_prior_resolves_revisits(spark, tmp_path):
    """dedup_job --input-format warc --prior: a crawl-diff bucket whose
    revisits point at the prior crawl ingests complete — resolved pages
    get extracted text like any response."""
    import hashlib

    from dedupe_algo_spark.sources.warc import load_pages

    old_html = b"<html><body>stable alpha content</body></html>"
    prior_dir = tmp_path / "prior"
    spark.createDataFrame(
        [("http://p/a", bytearray(old_html))], "url string, html binary"
    ).write.parquet(str(prior_dir))

    d = tmp_path / "bucket"
    d.mkdir()
    dig = "sha256:" + hashlib.sha256(old_html).hexdigest()
    (d / "seg.warc.gz").write_bytes(
        build_warc(
            [("http://p/b", 1800000000, b"<html><body>fresh beta</body></html>")],
            revisits=[("http://p/a", 1800000001, dig, "http://p/a")],
        )
    )
    pages = load_pages(spark, str(d), "warc", prior_path=str(prior_dir))
    out = {r.url: r for r in pages.collect()}
    assert set(out) == {"http://p/a", "http://p/b"}
    assert out["http://p/a"].text == "stable alpha content"  # inherited + extracted
    assert out["http://p/b"].text == "fresh beta"
    # without --prior the revisit drops, responses still ingest
    solo = load_pages(spark, str(d), "warc")
    assert [r.url for r in solo.collect()] == ["http://p/b"]


def test_wet_round_trip_and_load(spark, tmp_path):
    """WET (extracted-text) segments: conversion records parse to pages
    with text straight from the body, html null — the format most text
    pipelines consume."""
    from dedupe_algo_spark.sources.warc import build_wet, load_pages

    recs = [
        ("http://wet/a", 1800000000, "alpha text é one " * 5),
        ("http://wet/b", 1800000001, "beta text two " * 5),
    ]
    d = tmp_path / "wet"
    d.mkdir()
    (d / "seg.warc.wet.gz").write_bytes(build_wet(recs))
    pages = load_pages(spark, str(d), "wet")
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    out = {r.url: r for r in pages.collect()}
    assert set(out) == {"http://wet/a", "http://wet/b"}
    for url, _, text in recs:
        assert out[url].text == text
        assert out[url].html is None
    assert out["http://wet/a"].warc_ts.timestamp() == 1800000000


def test_page_gate_drops_errors_and_non_html(spark):
    """Real segments carry redirects/errors/binaries: only 2xx
    text/html responses become pages; records without an HTTP
    envelope or Content-Type pass (benefit of the doubt)."""
    from dedupe_algo_spark.sources.warc import pages_from_warc

    def raw(url, status, ctype, body):
        http = (
            f"HTTP/1.1 {status} X\r\nContent-Type: {ctype}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
            f"WARC-Date: 2026-01-01T00:00:00Z\r\n"
            f"Content-Length: {len(http)}\r\n\r\n"
        ).encode()
        import gzip as _g

        return _g.compress(head + http + b"\r\n\r\n", mtime=0)

    blob = (
        raw("http://g/ok", 200, "text/html; charset=utf-8", b"<p>keep</p>")
        + raw("http://g/redir", 301, "text/html", b"<p>moved</p>")
        + raw("http://g/err", 404, "text/html", b"<p>gone</p>")
        + raw("http://g/img", 200, "image/png", b"\x89PNG...")
        + raw("http://g/xhtml", 200, "application/xhtml+xml", b"<p>x</p>")
    )
    blobs = spark.createDataFrame(
        [("g.warc.gz", bytearray(blob))], "warc_file string, data binary"
    )
    urls = sorted(r.url for r in pages_from_warc(blobs).collect())
    assert urls == ["http://g/ok", "http://g/xhtml"]


def test_fetch_whole_file_gzip_matches_url(spark):
    """A whole-file-gzip object indexes every record at (0, total);
    fetch must return the requested url's response, not the blind first
    record (warcinfo)."""
    import gzip as _g

    from dedupe_algo_spark.sources.warc import (
        _gunzip_members,
        fetch_warc_record,
        parse_warc_cdx,
    )

    plain = _gunzip_members(build_warc(PAGES))  # includes warcinfo
    whole = _g.compress(plain, mtime=0)
    rows = list(parse_warc_cdx(whole))
    assert all((r["offset"], r["length"]) == (0, len(whole)) for r in rows)
    for u, e, h in PAGES:
        rec = fetch_warc_record(whole, 0, len(whole), url=u)
        assert (rec["url"], rec["warc_epoch"], rec["body"]) == (u, e, h)


def test_link_host_normalizes_like_host_of(spark):
    from dedupe_algo_spark.functions.html import link_host

    df = spark.createDataFrame(
        [("https://Example.COM:443/x?q=1",), ("HTTPS://b.com/y",), ("/rel",)],
        "t string",
    )
    got = [r.h for r in df.select(link_host(F.col("t")).alias("h")).collect()]
    assert got == ["example.com", "b.com", ""]


def test_member_walk_is_linear():
    # spot-guard the O(members x chunk) regression: 20k tiny members
    # must finish in well under a second per 10k (quadratic form took
    # ~1.6s at 40k; linear is ~0.1s at 20k)
    import time

    from dedupe_algo_spark.sources.warc import iter_gzip_members

    blob = build_warc(
        [(f"http://x/{i}", 1800000000, b"b" * 20) for i in range(20000)],
        warcinfo=False,
    )
    t0 = time.time()
    assert len(list(iter_gzip_members(blob))) == 20000
    assert time.time() - t0 < 2.0


def test_dedup_wet_stream(spark, tmp_path):
    """WET segments stream like WARC ones: conversion text hashes
    map-side, first-seen dedup across the bucket."""
    from dedupe_algo_spark.sources.warc import build_wet
    from dedupe_algo_spark.streaming import dedup_warc_stream

    d = tmp_path / "wetbucket"
    d.mkdir()
    t = "alpha text body " * 10
    (d / "s0.warc.wet.gz").write_bytes(
        build_wet([("http://ws/a", 1800000000, t), ("http://ws/b", 1800000001, t)])
    )
    out = dedup_warc_stream(spark, str(d), segment_format="wet")
    q = (
        out.writeStream.format("memory")
        .queryName("wet_stream_t")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        pdf = spark.sql("select * from wet_stream_t").toPandas()
        assert sorted(pdf["url"]) == ["http://ws/a"]  # dup content collapsed
    finally:
        q.stop()


def test_truncated_whole_file_gzip_keeps_prefix():
    """A cut-off single-member (whole-file) gzip object must still give
    up its decodable record prefix — the chunked member walk may not
    drop the partial member on the parse path."""
    import gzip as _g

    plain = _gunzip_members(build_warc(PAGES, warcinfo=False))
    whole = _g.compress(plain, mtime=0)
    cut = whole[: int(len(whole) * 0.9)]
    recs = list(parse_warc(cut))
    assert len(recs) >= 1  # prefix recovered, not zero
    assert recs[0]["body"] == PAGES[0][2]


def test_ranged_ingest_refuses_silent_drops(spark, tmp_path):
    """The ranged path must fail LOUDLY where binaryFile would: an
    empty/typo'd directory raises instead of yielding a 0-row
    'success', and a plain (non-gzip) .warc raises with a pointer to
    input_format='warc' instead of silently dropping the file."""
    import pytest

    from dedupe_algo_spark.sources.warc import file_member_geometry

    with pytest.raises(FileNotFoundError):
        file_member_geometry(spark, str(tmp_path / "no-such-dir"))

    d = tmp_path / "seg"
    d.mkdir()
    (d / "plain.warc").write_bytes(
        b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 0\r\n\r\n\r\n\r\n"
    )
    with pytest.raises(Exception, match="not gzip"):
        file_member_geometry(spark, str(d)).collect()


def test_ranged_ingest_refuses_empty_segment(spark, tmp_path):
    """A zero-byte segment (a download truncated to nothing) raises like
    a non-gzip one instead of vanishing from the geometry."""
    import pytest

    from dedupe_algo_spark.sources.warc import file_member_geometry

    d = tmp_path / "seg"
    d.mkdir()
    (d / "empty.warc.gz").write_bytes(b"")
    with pytest.raises(Exception, match="empty segment file"):
        file_member_geometry(spark, str(d)).collect()


def test_local_path_file_uri_forms():
    import pytest

    from dedupe_algo_spark.sources.warc import _local_path

    for p in ("file:/x", "file:///x", "file://localhost/x", "/x"):
        assert _local_path(p) == "/x", p
    assert _local_path("file:/d/a b#1.warc.gz") == "/d/a b#1.warc.gz"
    assert _local_path("rel/x.warc.gz") == "rel/x.warc.gz"
    with pytest.raises(ValueError, match="remote host"):
        _local_path("file://otherhost/x")
