"""WARC/1.0 web-archive source (Common-Crawl-style).

The north-star input is "an Iceberg table of Common-Crawl-style web
pages" — this module supplies the step BEFORE that table exists: a
distributed reader that turns raw ``.warc.gz`` crawl archives into the
(url, warc_ts, html, …) rows the rest of the engine consumes, plus a
deterministic writer used by the test fixtures.

Format notes (all public: ISO 28500 / the Common Crawl docs):

- A WARC file is a sequence of records; each record is a header block
  (``WARC/1.0`` + name:value lines), CRLF CRLF, ``Content-Length``
  bytes of content, CRLF CRLF.
- Common Crawl compresses **each record as its own gzip member**, so
  a ``.warc.gz`` is a concatenation of independently-decodable gzip
  streams: any record can be read with one ranged request given its
  (offset, length) — which is exactly what the published CDX index
  provides. That is the property that makes a 1 GB shard splittable.
- ``response`` records carry an HTTP/1.1 message as content; the page
  bytes are the HTTP payload after the header/body split.

Scale design (the 100-TB shape):

- Stage 1 (``warc_splits_df``): archive paths → byte-range *splits*.
  With a CDX sidecar, consecutive member extents are greedily packed
  into ~``split_bytes`` splits, so one 1 GB shard parses as ~8
  parallel 128 MB tasks; without an index the whole file is one
  split (gzip members still stream-decode in O(1) memory). Packing
  balances **bytes**, not record counts, so a shard of few huge pages
  and a shard of many tiny ones cost a task the same.
- Stage 2 (``warc_records_df``): each split does ONE ranged read and
  walks the gzip members inside it. Records are parsed to small typed
  columns + the payload blob; downstream queries project/aggregate
  before any shuffle, so page bytes never cross an Exchange (the
  same blobs-never-shuffle invariant the TIFF/PMTiles ingest plans
  are audited for).
- Neither stage opens a file on the driver: both are the engine's
  per-row Arrow stage (``session.map_rows``), which the PMTiles
  ``tiles_df`` and TIFF ``chunk_plan_df`` readers use too, so paths
  and splits travel as tiny DataFrames.

Reference parity: the reference engine has no web-archive source (it
is a raster library); this source exists for the BASELINE.json north
star. Error surface follows the R28 convention
(src/error.rs — loud typed errors, no silent row drops): malformed
members raise ``WarcError`` with file + offset context.
"""

from __future__ import annotations

import calendar
import json
import os
import time
import zlib

__all__ = [
    "WarcError",
    "write_warc",
    "warc_splits_df",
    "warc_records_df",
    "parse_warc_member",
    "iter_warc_members",
    "body_text",
]


class WarcError(ValueError):
    """Malformed WARC/gzip structure (file + offset in the message)."""


# ------------------------------------------------------------- writer


def _gzip_member(data: bytes) -> bytes:
    """One complete gzip member with fixed mtime/OS (deterministic)."""
    co = zlib.compressobj(9, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    # zlib's gzip header uses mtime=0 and OS=255 already — stdlib
    # gzip.compress(mtime=0) differs only in the OS byte across
    # versions, so build via compressobj for a stable header.
    return co.compress(data) + co.flush()


def _warc_record(rec_type: str, headers: dict[str, str], content: bytes) -> bytes:
    head = ["WARC/1.0"]
    head.append(f"WARC-Type: {rec_type}")
    for k, v in headers.items():
        head.append(f"{k}: {v}")
    head.append(f"Content-Length: {len(content)}")
    return ("\r\n".join(head) + "\r\n\r\n").encode("ascii") + content + b"\r\n\r\n"


def http_response_bytes(payload: bytes) -> bytes:
    """Minimal deterministic HTTP/1.1 200 ``text/html`` message
    wrapping a payload."""
    head = (
        "HTTP/1.1 200 OK\r\n"
        "Content-Type: text/html\r\n"
        f"Content-Length: {len(payload)}\r\n"
        "\r\n"
    )
    return head.encode("ascii") + payload


def write_warc(path: str, records) -> str:
    """Write ``records`` as a per-member-gzipped WARC + CDX sidecar.

    ``records``: iterable of ``(rec_type, headers_dict, content_bytes)``.
    The sidecar ``<path>.cdx.jsonl`` holds one JSON line per record:
    ``{"o": offset, "l": length, "t": rec_type}`` — the same
    (offset, length) contract as Common Crawl's published CDX index,
    reduced to what the split planner needs.
    """
    off = 0
    with open(path, "wb") as f, open(path + ".cdx.jsonl", "w") as cdx:
        for rec_type, headers, content in records:
            member = _gzip_member(_warc_record(rec_type, headers, content))
            f.write(member)
            cdx.write(json.dumps({"o": off, "l": len(member), "t": rec_type}) + "\n")
            off += len(member)
    return path


# ------------------------------------------------------------- parser


def iter_warc_members(buf: bytes, path: str = "<buf>", base_offset: int = 0):
    """Yield ``(offset, length, record_bytes)`` for each gzip member
    in ``buf``. ``buf`` must start at a member boundary (offset 0 or a
    CDX offset). O(1) memory per member; loud on corruption."""
    pos = 0
    n = len(buf)
    while pos < n:
        if buf[pos : pos + 2] != b"\x1f\x8b":
            raise WarcError(
                f"{path}: no gzip magic at offset {base_offset + pos}"
            )
        dec = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            data = dec.decompress(buf[pos:])
        except zlib.error as exc:
            raise WarcError(
                f"{path}: corrupt gzip member at offset {base_offset + pos}: {exc}"
            ) from exc
        if not dec.eof:
            raise WarcError(
                f"{path}: truncated gzip member at offset {base_offset + pos}"
            )
        consumed = (n - pos) - len(dec.unused_data)
        yield base_offset + pos, consumed, data
        pos += consumed


def _split_headers(block: bytes, path: str, offset: int) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n"):
        if not line:
            continue
        k, sep, v = line.partition(b":")
        if not sep:
            raise WarcError(f"{path}: bad header line at offset {offset}: {line!r}")
        headers[k.decode("ascii").strip().lower()] = v.decode("utf-8").strip()
    return headers


def parse_warc_member(rec: bytes, path: str = "<buf>", offset: int = 0):
    """Parse one decompressed WARC record.

    Returns ``(rec_type, url, ts_s, lang, http_status, content_type,
    payload)`` — ``ts_s`` is WARC-Date as UTC epoch seconds parsed with
    ``calendar.timegm`` (never the engine timezone); non-``response``
    records return payload = raw content, http_status/content_type
    None."""
    if not rec.startswith(b"WARC/"):
        raise WarcError(f"{path}: missing WARC version at offset {offset}")
    nl = rec.index(b"\r\n")
    sep = rec.find(b"\r\n\r\n", nl)
    if sep < 0:
        raise WarcError(f"{path}: unterminated WARC header at offset {offset}")
    headers = _split_headers(rec[nl + 2 : sep], path, offset)
    try:
        clen = int(headers["content-length"])
    except (KeyError, ValueError) as exc:
        raise WarcError(
            f"{path}: missing/bad Content-Length at offset {offset}"
        ) from exc
    content = rec[sep + 4 : sep + 4 + clen]
    if len(content) != clen:
        raise WarcError(
            f"{path}: record content truncated at offset {offset} "
            f"({len(content)} of {clen} bytes)"
        )
    rec_type = headers.get("warc-type", "")
    url = headers.get("warc-target-uri")
    lang = headers.get("warc-identified-content-language")
    ts_s = None
    date = headers.get("warc-date")
    if date:
        try:
            ts_s = calendar.timegm(time.strptime(date, "%Y-%m-%dT%H:%M:%SZ"))
        except ValueError as exc:
            raise WarcError(
                f"{path}: bad WARC-Date {date!r} at offset {offset}"
            ) from exc
    http_status = None
    content_type = None
    payload = content
    if rec_type == "response" and content.startswith(b"HTTP/"):
        hsep = content.find(b"\r\n\r\n")
        if hsep < 0:
            raise WarcError(
                f"{path}: unterminated HTTP header at offset {offset}"
            )
        status_line, _, hblock = content[:hsep].partition(b"\r\n")
        parts = status_line.split(b" ", 2)
        if len(parts) < 2 or not parts[1].isdigit():
            raise WarcError(
                f"{path}: bad HTTP status line at offset {offset}: {status_line!r}"
            )
        http_status = int(parts[1])
        hh = _split_headers(hblock, path, offset) if hblock else {}
        content_type = hh.get("content-type")
        payload = content[hsep + 4 :]
    return rec_type, url, ts_s, lang, http_status, content_type, payload


# ---------------------------------------------------------- dataframes

_SPLIT_SCHEMA = (
    "path string, offset long, length long, n_records long"
)
_RECORD_SCHEMA = (
    "warc string, offset long, rec_type string, url string, ts_s long, "
    "lang string, http_status int, content_type string, "
    "payload binary, payload_len long"
)

DEFAULT_SPLIT_BYTES = 128 * 1024 * 1024  # matches files.maxPartitionBytes


def warc_splits_df(spark, paths, split_bytes: int = DEFAULT_SPLIT_BYTES):
    """Stage 1: archive paths → byte-range splits.

    With a ``<path>.cdx.jsonl`` sidecar, consecutive member extents
    pack greedily into ~``split_bytes`` splits (a split always starts
    on a member boundary, so stage 2 needs exactly one ranged read
    and no resync scan). Without a sidecar the file is one split —
    correct, just file-granular parallelism. Runs in the per-row
    Arrow stage (``session.map_rows``) over the path rows: the driver
    opens no files."""
    from georaster_spark.session import arrow_batch, map_rows, paths_df

    def split_rows(p):
        cdx = p + ".cdx.jsonl"
        if not os.path.exists(cdx):
            return [(p, 0, os.path.getsize(p), -1)]
        rows = []
        start = length = count = 0
        with open(cdx) as f:
            for line in f:
                e = json.loads(line)
                if length >= split_bytes:
                    rows.append((p, start, length, count))
                    start, length, count = e["o"], 0, 0
                length += e["l"]
                count += 1
        if length:
            rows.append((p, start, length, count))
        return rows

    return map_rows(
        paths_df(spark, paths),
        lambda row, schema: [arrow_batch(split_rows(row["path"]), schema)],
        _SPLIT_SCHEMA,
    )


def warc_records_df(spark, paths, split_bytes: int = DEFAULT_SPLIT_BYTES):
    """Stage 2: splits → one row per WARC record.

    Each split row preads its split once and walks the gzip members
    inside (independently decodable by construction), in the per-row
    Arrow stage (``session.map_rows``), one record batch per split.
    Only typed columns + the payload blob leave the kernel; callers
    filter/project before any shuffle so page bytes stay in the scan
    stage.

    The split table is repartitioned (over the default parallelism)
    before the parse kernel — without it, stage-2 task count would
    equal the stage-1 PATH partitioning and a single 1 GB shard would
    parse in one task no matter how many splits its index yields.
    This shuffles only the tiny (path, offset, length) descriptors (a
    handful of rows per GB of archive), never the page bytes."""
    from georaster_spark.session import arrow_batch, map_rows

    def split_records(row, schema):
        path, offset, length = row["path"], row["offset"], row["length"]
        with open(path, "rb") as f:
            f.seek(offset)
            buf = f.read(length)
        if len(buf) != length:
            raise WarcError(f"{path}: truncated read at {offset}+{length}")
        rows = []
        for off, _mlen, rec in iter_warc_members(buf, path, offset):
            rtype, url, ts_s, lang, status, ctype, payload = parse_warc_member(rec, path, off)
            rows.append((path, off, rtype, url, ts_s, lang, status, ctype, payload, len(payload)))
        return [arrow_batch(rows, schema)]

    splits = warc_splits_df(spark, paths, split_bytes=split_bytes).repartition(
        spark.sparkContext.defaultParallelism, "path", "offset"
    )
    return map_rows(splits, split_records, _RECORD_SCHEMA)


def body_text(payload):
    """The page text of an HTML payload Column (binary or string): what
    lies between ``<body>`` and the last ``</body>``, across line
    breaks and inline tags (a codegen'd regexp, no Python in the row
    path); ``""`` when the page has no body. The crawl ingest job and
    the ``warc_ingest`` catalog entry both extract with it."""
    from pyspark.sql import functions as F

    return F.regexp_extract(payload.cast("string"), "(?s)<body>(.*)</body>", 1)
