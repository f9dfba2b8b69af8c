"""WARC source: member independence, split planning, parsing, errors.

The properties under test are the ones the 100-TB design leans on:
per-record gzip members are independently decodable at their CDX
(offset, length); the split planner packs by BYTES and always cuts on
member boundaries; malformed structure fails loudly with file+offset
context (R28 error-surface convention)."""

from __future__ import annotations

import json
import os
import zlib

import pytest

from georaster_spark.datagen import (
    WARC_EPOCH0,
    fixture_warc_paths,
    synth_warc_records,
    warc_doc_fields,
)
from georaster_spark.sources.warc import (
    WarcError,
    http_response_bytes,
    iter_warc_members,
    parse_warc_member,
    warc_records_df,
    warc_splits_df,
    write_warc,
)


def test_member_independence_via_cdx(tmp_path):
    """Any record decodes standalone from its CDX (offset, length)
    slice — the property that makes a 1 GB shard splittable."""
    p = str(tmp_path / "t.warc.gz")
    write_warc(p, synth_warc_records(0, 5, 0))
    idx = [json.loads(l) for l in open(p + ".cdx.jsonl")]
    blob = open(p, "rb").read()
    assert sum(e["l"] for e in idx) == len(blob)
    # pick the LAST response record, decode only its slice
    e = [e for e in idx if e["t"] == "response"][-1]
    slice_ = blob[e["o"] : e["o"] + e["l"]]
    [(off, ln, rec)] = list(iter_warc_members(slice_, p, e["o"]))
    assert (off, ln) == (e["o"], e["l"])
    rtype, url, ts_s, lang, status, ctype, payload = parse_warc_member(rec)
    exp_url, exp_ts, exp_html, exp_lang = warc_doc_fields(4)
    assert (rtype, url, ts_s, lang, status) == (
        "response", exp_url, exp_ts, exp_lang, 200
    )
    assert payload == exp_html  # byte-identical page bytes


def test_member_boundaries_match_sequential_walk(tmp_path):
    p = str(tmp_path / "t.warc.gz")
    write_warc(p, synth_warc_records(0, 3, 0))
    idx = [json.loads(l) for l in open(p + ".cdx.jsonl")]
    walked = [
        (off, ln)
        for off, ln, _ in iter_warc_members(open(p, "rb").read(), p)
    ]
    assert walked == [(e["o"], e["l"]) for e in idx]


def test_writer_is_deterministic(tmp_path):
    a = str(tmp_path / "a.warc.gz")
    b = str(tmp_path / "b.warc.gz")
    write_warc(a, synth_warc_records(10, 20, 1))
    write_warc(b, synth_warc_records(10, 20, 1))
    assert open(a, "rb").read() == open(b, "rb").read()


def test_non_response_records_parse(tmp_path):
    p = str(tmp_path / "t.warc.gz")
    write_warc(p, synth_warc_records(0, 1, 0))
    rows = [
        parse_warc_member(rec, p, off)
        for off, _, rec in iter_warc_members(open(p, "rb").read(), p)
    ]
    types = [r[0] for r in rows]
    assert types == ["warcinfo", "request", "response"]
    warcinfo = rows[0]
    assert warcinfo[1] is None and warcinfo[4] is None  # no URI, no status
    assert warcinfo[2] == WARC_EPOCH0
    request = rows[1]
    assert request[6].startswith(b"GET ")  # raw content, not HTTP-split


def test_corrupt_and_truncated_members_fail_loudly(tmp_path):
    p = str(tmp_path / "t.warc.gz")
    write_warc(p, synth_warc_records(0, 2, 0))
    blob = open(p, "rb").read()
    with pytest.raises(WarcError, match="no gzip magic"):
        list(iter_warc_members(b"xx" + blob[2:], p))
    with pytest.raises(WarcError, match="truncated gzip member"):
        list(iter_warc_members(blob[:-10], p))


def test_malformed_records_fail_loudly():
    def member(rec: bytes) -> bytes:
        co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
        return co.compress(rec) + co.flush()

    with pytest.raises(WarcError, match="missing WARC version"):
        parse_warc_member(b"HTTP/1.1 200 OK\r\n\r\n")
    rec = b"WARC/1.0\r\nWARC-Type: response\r\n\r\n"
    with pytest.raises(WarcError, match="Content-Length"):
        parse_warc_member(rec)
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Date: nonsense\r\n"
        b"Content-Length: 0\r\n\r\n\r\n\r\n"
    )
    with pytest.raises(WarcError, match="bad WARC-Date"):
        parse_warc_member(rec)
    rec = b"WARC/1.0\r\nContent-Length: 99\r\n\r\nshort\r\n\r\n"
    with pytest.raises(WarcError, match="content truncated"):
        parse_warc_member(rec)
    # the gzip layer surfaces those errors with offsets intact
    blob = member(b"WARC/1.0\r\nContent-Length: 99\r\n\r\nshort\r\n\r\n")
    off, _, rec2 = next(iter_warc_members(blob, "f"))
    with pytest.raises(WarcError, match="offset 0"):
        parse_warc_member(rec2, "f", off)


def test_split_planner_packs_by_bytes(spark, tmp_path):
    p = str(tmp_path / "t.warc.gz")
    write_warc(p, synth_warc_records(0, 50, 0))
    idx = [json.loads(l) for l in open(p + ".cdx.jsonl")]
    total = sum(e["l"] for e in idx)
    splits = warc_splits_df(spark, [p], split_bytes=2048).collect()
    assert len(splits) > 3
    assert sum(s.length for s in splits) == total
    assert sum(s.n_records for s in splits) == len(idx)
    # contiguous, boundary-aligned coverage
    starts = {e["o"] for e in idx}
    pos = 0
    for s in sorted(splits, key=lambda s: s.offset):
        assert s.offset == pos and s.offset in starts
        pos += s.length
    assert pos == total
    # every split is one ranged read's worth of whole members
    blob = open(p, "rb").read()
    for s in splits[:3]:
        members = list(
            iter_warc_members(blob[s.offset : s.offset + s.length], p, s.offset)
        )
        assert len(members) == s.n_records


def test_records_df_indexed_vs_whole_file(spark, tmp_path):
    """The indexed many-split read and the no-index single-split read
    of the same shard produce identical row sets."""
    import shutil

    src = fixture_warc_paths()[0]
    p = str(tmp_path / "f.warc.gz")
    shutil.copy(src, p)
    shutil.copy(src + ".cdx.jsonl", p + ".cdx.jsonl")
    a = warc_records_df(spark, [p], split_bytes=8192)
    rows_a = sorted(
        (r.offset, r.rec_type, r.url, r.ts_s, r.lang, bytes(r.payload))
        for r in a.collect()
    )
    assert a.rdd.getNumPartitions() >= 2  # index actually split the file
    os.remove(p + ".cdx.jsonl")
    b = warc_records_df(spark, [p])
    rows_b = sorted(
        (r.offset, r.rec_type, r.url, r.ts_s, r.lang, bytes(r.payload))
        for r in b.collect()
    )
    assert rows_a == rows_b
    assert len(rows_a) == 401  # warcinfo + 200 requests + 200 responses


def test_fixture_page_bytes_match_documents_formula(spark):
    """End-to-end byte identity: every extracted page payload from the
    archives equals the closed-form html for its url's doc index."""
    df = warc_records_df(spark, fixture_warc_paths(), split_bytes=16384)
    rows = df.where("rec_type = 'response'").collect()
    assert len(rows) == 600
    for r in rows:
        i = int(r.url.rsplit("/", 1)[1])
        url, ts, html, lang = warc_doc_fields(i)
        assert (r.url, r.ts_s, r.lang) == (url, ts, lang)
        assert bytes(r.payload) == html


def test_http_response_roundtrip():
    payload = b"<html><body>x</body></html>"
    rec = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://e/x\r\n"
        b"Content-Length: %d\r\n\r\n" % len(http_response_bytes(payload))
        + http_response_bytes(payload)
        + b"\r\n\r\n"
    )
    rtype, url, ts_s, lang, status, ctype, got = parse_warc_member(rec)
    assert (rtype, url, status, ctype) == (
        "response", "http://e/x", 200, "text/html"
    )
    assert got == payload


def test_multiline_body_text_through_both_extractors(spark, tmp_path, monkeypatch):
    """A page whose body spans lines and holds inline tags extracts
    whole, through the ``warc_ingest`` catalog entry and through the
    crawl ingest job alike; a page without a body extracts as ""."""
    import importlib.util

    from georaster_spark import datagen, queries

    body = "\n  <p>first line</p>\r\n  second <b>bold</b> line\n"
    pages = {
        "https://e.example/p/1": f"<html><head><title>t</title></head><body>{body}</body></html>",
        "https://e.example/p/2": "<html><head></head></html>",
    }
    p = str(tmp_path / "multi.warc.gz")
    write_warc(p, [
        ("response", {
            "WARC-Target-URI": url,
            "WARC-Date": "2024-01-02T03:04:05Z",
            "WARC-Identified-Content-Language": "en",
        }, http_response_bytes(html.encode()))
        for url, html in pages.items()
    ])
    want = {"https://e.example/p/1": body, "https://e.example/p/2": ""}

    monkeypatch.setattr(datagen, "fixture_warc_paths", lambda: [p])
    rows = queries.q_warc_ingest(spark, None).collect()
    assert {r.url: r.text for r in rows} == want

    spec = importlib.util.spec_from_file_location(
        "crawl_ingest_job",
        os.path.join(os.path.dirname(__file__), "..", "jobs", "crawl_ingest_job.py"),
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    rows = job.pages_from_warc(spark, [p], split_bytes=1 << 20, parts=4).collect()
    assert {r.url: r.text for r in rows} == want
