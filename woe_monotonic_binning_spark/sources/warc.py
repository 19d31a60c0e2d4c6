"""WARC (Web ARChive, ISO 28500) source — the CommonCrawl wire format
(round 16).

A web-scale corpus starts as WARC files: per crawl fetch one record
whose headers carry the target URI and whose block is the raw HTTP
response (status line + headers + body).  This module reads them
Spark-first, completing the crawl front-chain entirely in-engine::

    read_warc(...)                       # records: uri + HTTP headers + bytes
      -> decode_text(hint_col="http_content_type")   # charset from the header
      -> extract_html_text(...)          # markup -> text
      -> parse_url(...)                  # registered-domain gates

- :func:`read_warc` — ``binaryFile`` scan (one task per WARC file; like
  tar shards, the format ships as many ~1 GB files, so file count IS
  the parallelism) + a pure-stdlib record walk on the shared Arrow row
  runner (``_rows.map_rows``, one ``mapInArrow``).  Handles plain and
  gzip WARCs — including the member-per-record gzip framing CommonCrawl
  uses (stdlib ``gzip`` reads concatenated members).  Works unchanged
  as a Structured Streaming source.
- :func:`explode_warc_column` — the same record walk over an in-plan
  BINARY COLUMN (one blob per row): the certification surface (the
  oracle can predict records of a JVM-built blob) and the escape hatch
  for WARCs arriving through another transport (Kafka values, tar
  members).
- ``http_payload=True`` (default) splits response records' HTTP
  envelope: the body bytes surface in ``content``, the declared
  ``Content-Type`` in ``http_content_type`` (feed it straight to
  ``decode_text(hint_col=)``), the status code in ``http_status``
  (NULL unless it is three digits).
  Non-response records (request/metadata/warcinfo) pass their block
  through untouched with NULL http columns.
- **HTTP body decoding** (round 17): real CommonCrawl responses arrive
  chunked and/or compressed; ``content`` carries the DECODED bytes —
  ``Transfer-Encoding: chunked`` framing is removed first (RFC 9112
  §7.1: hex size lines, chunk extensions ignored, trailers tolerated),
  then ``Content-Encoding`` layers are undone in reverse declaration
  order (``gzip``/``x-gzip`` via stdlib gzip, ``deflate`` as zlib with
  the raw-stream fallback the dual RFC 9110 wild usage requires,
  ``identity`` a no-op).  The ORIGINAL declared values stay visible in
  ``http_transfer_encoding`` / ``http_content_encoding`` (lowercased).
  A body whose declared framing cannot be decoded — malformed chunk
  sizes, truncated chunks, corrupt gzip, or an encoding stdlib cannot
  undo (``br``, ``zstd``) — is the honest-reject row: ``content`` and
  ``n_bytes`` NULL with the encoding columns saying why.  Feeding
  compressed bytes to ``decode_text`` would produce silent mojibake;
  NULL never lies.

Malformed WARC framing (a record whose Content-Length overruns the
blob, a missing version line) raises — like the tar reader, a broken
ARCHIVE is a data-integrity incident, while tolerance for one crawl's
PAYLOAD (including its HTTP body framing, above) is per-record.
Reference: ISO 28500 / the WARC 1.1 spec at
iipc.github.io/warc-specifications and RFC 9110/9112 for the HTTP
envelope; the reference repo (a WOE binning library) has no file I/O
at all.
"""

from __future__ import annotations

import gzip
import io
import zlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from .._rows import map_rows

__all__ = [
    "WARC_RECORD_SCHEMA",
    "read_warc",
    "explode_warc_column",
]

WARC_RECORD_SCHEMA = (
    "shard string, record_idx int, warc_type string, target_uri string, "
    "http_status int, http_content_type string, "
    "http_transfer_encoding string, http_content_encoding string, "
    "content binary, n_bytes long"
)


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n"):
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower().decode("latin-1")] = v.strip().decode(
                "latin-1"
            )
    return headers


def _iter_warc_records(blob: bytes):
    """Yield (warc_headers: dict, block: bytes) per record.  Gzip blobs
    (single- or member-per-record) are decompressed first; framing
    errors raise ValueError naming the offset."""
    if blob[:2] == b"\x1f\x8b":
        with gzip.GzipFile(fileobj=io.BytesIO(blob)) as gz:
            blob = gz.read()  # stdlib gzip consumes concatenated members
    i = 0
    n = len(blob)
    while i < n:
        # tolerate inter-record CRLF padding
        while i < n and blob[i : i + 2] == b"\r\n":
            i += 2
        if i >= n:
            break
        if not blob[i : i + 5] == b"WARC/":
            raise ValueError(f"WARC framing error: no version line at {i}")
        hdr_end = blob.index(b"\r\n\r\n", i)
        headers = _parse_headers(blob[i:hdr_end])
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError(
                f"WARC framing error: bad Content-Length at {i}"
            ) from None
        body_start = hdr_end + 4
        if body_start + length > n:
            raise ValueError(
                f"WARC framing error: record at {i} overruns the file"
            )
        yield headers, blob[body_start : body_start + length]
        i = body_start + length


def _split_http(block: bytes):
    """(status:int|None, headers:dict|None, body:bytes) of an HTTP
    response block; a block without an HTTP status line passes through
    whole (an honest non-HTTP record, not an error)."""
    if not block.startswith(b"HTTP/"):
        return None, None, block
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        return None, None, block
    head = block[:sep]
    status_line = head.split(b"\r\n", 1)[0].split()
    status = None
    # a status code is three digits (RFC 9110 §15); anything else is an
    # unparseable status, not a value for the int column
    code = status_line[1] if len(status_line) >= 2 else b""
    if len(code) == 3 and code.isdigit():
        status = int(code)
    return status, _parse_headers(head), block[sep + 4 :]


def _dechunk(body: bytes) -> bytes:
    """Remove RFC 9112 §7.1 chunked framing: hex size line (chunk
    extensions after ';' ignored), that many bytes, CRLF; the 0-size
    chunk ends the stream (trailer fields tolerated).  Raises ValueError
    on malformed framing — the caller turns that into the NULL-content
    honest reject."""
    out: list[bytes] = []
    i, n = 0, len(body)
    while True:
        j = body.find(b"\r\n", i)
        if j < 0:
            raise ValueError("chunked: no size line")
        tok = body[i : j].split(b";", 1)[0].strip()
        if not tok:
            raise ValueError("chunked: empty size line")
        size = int(tok, 16)  # ValueError on junk propagates
        if size < 0:
            raise ValueError("chunked: negative size")
        i = j + 2
        if size == 0:
            return b"".join(out)  # trailers after this are tolerated
        if i + size + 2 > n:
            raise ValueError("chunked: chunk overruns body")
        if body[i + size : i + size + 2] != b"\r\n":
            raise ValueError("chunked: missing chunk CRLF")
        out.append(body[i : i + size])
        i += size + 2


def _inflate(body: bytes) -> bytes:
    """Content-Encoding: deflate — RFC 9110 says zlib-wrapped, the wild
    web ships raw streams too; try zlib first, fall back to raw."""
    try:
        return zlib.decompress(body)
    except zlib.error:
        return zlib.decompress(body, -zlib.MAX_WBITS)


def _decode_http_body(
    body: bytes, te: str | None, ce: str | None
) -> bytes | None:
    """Undo declared HTTP framing: dechunk, then Content-Encoding layers
    in reverse declaration order.  None = cannot produce honest bytes
    (malformed framing, corrupt stream, or an encoding stdlib cannot
    undo) — never pass compressed bytes downstream as if they were
    content."""
    try:
        if te is not None:
            # Transfer-Encoding other than (x-)chunked (e.g. 'gzip,
            # chunked' TE compression) is rare-to-nonexistent in crawls;
            # reject rather than guess half an encoding stack
            if te.replace("x-chunked", "chunked") != "chunked":
                return None
            body = _dechunk(body)
        if ce is not None:
            for layer in reversed([c.strip() for c in ce.split(",")]):
                if layer in ("gzip", "x-gzip"):
                    body = gzip.decompress(body)
                elif layer == "deflate":
                    body = _inflate(body)
                elif layer in ("identity", ""):
                    pass
                else:  # br, zstd, compress: not decodable with stdlib
                    return None
        return body
    except (ValueError, zlib.error, EOFError, OSError):
        return None  # malformed declared framing: honest reject


def _explode_kernel(http_payload: bool):
    def explode(shard, blob):
        if blob is None:
            return
        for idx, (hdrs, block) in enumerate(_iter_warc_records(blob)):
            wtype = hdrs.get("warc-type")
            status = ctype = te = ce = None
            body: bytes | None = block
            if http_payload and wtype == "response":
                status, http_hdrs, body = _split_http(block)
                if http_hdrs is not None:
                    ctype = http_hdrs.get("content-type")
                    te = http_hdrs.get("transfer-encoding")
                    ce = http_hdrs.get("content-encoding")
                    te = te.lower() if te is not None else None
                    ce = ce.lower() if ce is not None else None
                    if te is not None or ce is not None:
                        body = _decode_http_body(body, te, ce)
            yield (
                shard, idx, wtype, hdrs.get("warc-target-uri"), status,
                ctype, te, ce, body, len(body) if body is not None else None,
            )

    return explode


def read_warc(
    spark: SparkSession,
    path: str,
    pattern: str = "*.warc*",
    http_payload: bool = True,
    stream: bool = False,
) -> DataFrame:
    """One row per WARC record under ``path`` (module docstring has the
    schema, envelope handling, and the loud-on-broken-archive posture).
    ``stream=True`` returns the Structured Streaming equivalent."""
    if stream:
        reader = spark.readStream.format("binaryFile").schema(
            "path string, modificationTime timestamp, length long, "
            "content binary"
        )
    else:
        reader = spark.read.format("binaryFile")
    files = (
        reader.option("pathGlobFilter", pattern)
        .load(path)
        .select(F.col("path").alias("shard"), "content")
    )
    return map_rows(
        files, ["shard", "content"], WARC_RECORD_SCHEMA,
        _explode_kernel(http_payload),
    )


def explode_warc_column(
    df: DataFrame,
    blob_col: str = "content",
    id_col: str = "doc_id",
    http_payload: bool = True,
) -> DataFrame:
    """The record walk over an in-plan binary column: one input row =
    one WARC blob -> one output row per record, with the caller's id in
    ``shard``.  Same kernel as :func:`read_warc` — certified through
    the q_dedup_lines 'warc' section, which :func:`read_warc` shares
    everything with except the binaryFile scan."""
    cols = [
        F.col(id_col).cast("string").alias("shard"),
        F.col(blob_col).alias("content"),
    ]
    return map_rows(
        df, cols, WARC_RECORD_SCHEMA, _explode_kernel(http_payload)
    )
