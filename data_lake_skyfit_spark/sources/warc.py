"""WARC (Web ARChive, ISO 28500) record reader — the ingestion format
of Common-Crawl-scale web corpora, i.e. the first step of every
web-scale LLM data pipeline (raw crawl → WARC records → text
extraction → curation/dedup).

Real parser, stdlib only: walks WARC/1.0 records (version line, CRLF
header block, Content-Length-delimited block, CRLF CRLF trailer),
supports the Common Crawl *.warc.gz convention of one gzip MEMBER per
record (sniffed and inflated member-by-member with zlib), and splits
HTTP response payloads into status + body. Hardening follows the r4
fuzz rules: every header-declared length is validated against the
actual payload BEFORE any slice, gzip inflation is bounded by an
explicit cap (zlib decompressobj with max_length, never a trusting
one-shot decompress), and malformed records raise ValueError — the
Spark kernel quarantines those rows with a NULL type instead of
failing the task (the corrupt-row discipline of sources/formats.py).

Spark surface: `read_warc_records` is the scaffold's Arrow-batched
explode (functions/kernels.py) over a binary payload column — at scale each task parses its own
archive payloads independently (WARC's member-gzip framing exists
precisely so archives split; a production path-listing reader would
pair this kernel with per-file splits, same as the bronze reader).

Reference analog: raw blob handling (src/common/lake.py:59-71) — the
reference stores opaque payloads; the WARC walk is north-star surface
per SURVEY §7.5 (multimodal/ingestion plumbing).
"""

from __future__ import annotations

import hashlib
import zlib
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions import kernels

__all__ = [
    "encode_warc",
    "read_warc_records",
    "parse_warc",
    "synthesize_warc_payloads",
]

_CRLF = b"\r\n"
_HTTP_HEADERS = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"
_MAX_INFLATE = 64 << 20  # bound per gzip member (r4 fuzz rule)


def _gzip_store(data: bytes) -> bytes:
    """Gzip wrapping DEFLATE stored blocks — a valid wire any inflater
    accepts, with a CLOSED-FORM length the warc_ingest oracle mirrors:
    len = 10 (header) + 5 * ceil(max(L,1)/65535) (block headers) + L
    + 8 (crc32 + isize)."""
    out = bytearray(b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\xff")
    chunks = [data[i: i + 65535] for i in range(0, len(data), 65535)] or [b""]
    for i, chunk in enumerate(chunks):
        out.append(1 if i == len(chunks) - 1 else 0)  # BFINAL, BTYPE=00
        out += len(chunk).to_bytes(2, "little")
        out += (len(chunk) ^ 0xFFFF).to_bytes(2, "little")
        out += chunk
    out += (zlib.crc32(data) & 0xFFFFFFFF).to_bytes(4, "little")
    out += (len(data) & 0xFFFFFFFF).to_bytes(4, "little")
    return bytes(out)


def _decode_http_body(body: bytes, encoding: str | None) -> bytes:
    """Apply HTTP Content-Encoding (the Common Crawl response reality:
    identity, gzip, or brotli). Unknown encodings pass through raw —
    the content_encoding column says what the bytes are; decode
    failures raise ValueError (record malformed)."""
    if encoding in (None, "", "identity"):
        return body
    if encoding in ("gzip", "x-gzip"):
        d = zlib.decompressobj(wbits=31)
        out = bytearray()
        data = body
        while True:
            chunk = d.decompress(data, 1 << 20)
            out += chunk
            if len(out) > _MAX_INFLATE:
                raise ValueError("warc: encoded body exceeds inflate bound")
            data = d.unconsumed_tail
            if d.eof or not chunk:
                break
        if not d.eof:
            raise ValueError("warc: truncated gzip body")
        return bytes(out)
    if encoding == "br":
        from .brotli_codec import brotli_decompress

        return brotli_decompress(body, max_out=_MAX_INFLATE)
    return body


def encode_warc(
    records: list[tuple[str, str | None, bytes]],
    *,
    gzip_members: bool = False,
) -> bytes:
    """Encode `(warc_type, target_uri, block_bytes)` records into a
    real WARC/1.0 byte stream; with `gzip_members`, each record becomes
    its own gzip member (the Common Crawl *.warc.gz convention that
    makes archives splittable at member boundaries)."""
    out = bytearray()
    for idx, (wtype, uri, block) in enumerate(records):
        head = bytearray(b"WARC/1.0\r\n")
        head += f"WARC-Type: {wtype}\r\n".encode()
        head += f"WARC-Record-ID: <urn:skyfit:{idx}>\r\n".encode()
        if uri is not None:
            head += f"WARC-Target-URI: {uri}\r\n".encode()
        head += f"Content-Length: {len(block)}\r\n".encode()
        head += _CRLF
        rec = bytes(head) + block + _CRLF + _CRLF
        if gzip_members:
            co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
            rec = co.compress(rec) + co.flush()
        out += rec
    return bytes(out)


def _split_gzip_members(data: bytes) -> list[bytes]:
    """Inflate a concatenation of gzip members, one output blob per
    member, each bounded by _MAX_INFLATE (a forged DEFLATE stream must
    not balloon memory — the BMP-height lesson applied to compression)."""
    out = []
    pos = 0
    # memoryview: re-slicing `data[pos:]` per member would copy the
    # whole remaining buffer each iteration — O(members x size) memcpy
    # on a Common-Crawl-shaped archive (code-review r4c).
    mv = memoryview(data)
    while pos < len(data):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            blob = d.decompress(mv[pos:], _MAX_INFLATE)
        except zlib.error as e:
            raise ValueError(f"warc.gz: bad gzip member: {e}") from e
        if not d.eof:
            raise ValueError("warc.gz: gzip member exceeds inflate bound or is truncated")
        out.append(blob)
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            raise ValueError("warc.gz: zero-length gzip member")
        pos += consumed
    return out


def parse_warc(data: bytes, *, include_body: bool = False) -> list[dict]:
    """Parse a WARC byte stream (plain or member-gzipped) into record
    dicts: warc_type, target_uri, content_length, http_status,
    body_md5. The HTTP split applies to response records: the block is
    status-line + headers + CRLF CRLF + body; other records hash the
    whole block."""
    if data[:2] == b"\x1f\x8b":
        chunks = _split_gzip_members(data)
    else:
        chunks = [data]
    recs: list[dict] = []
    for chunk in chunks:
        pos = 0
        while pos < len(chunk):
            if chunk[pos : pos + 5] != b"WARC/":
                raise ValueError("warc: record does not start with a WARC version line")
            hdr_end = chunk.find(_CRLF + _CRLF, pos)
            if hdr_end < 0:
                raise ValueError("warc: unterminated header block")
            headers: dict[str, str] = {}
            for line in chunk[pos:hdr_end].split(_CRLF)[1:]:
                k, _, v = line.partition(b":")
                if not _:
                    raise ValueError("warc: malformed header line")
                headers[k.decode("ascii", "replace").strip().lower()] = (
                    v.decode("ascii", "replace").strip()
                )
            try:
                clen = int(headers["content-length"])
            except (KeyError, ValueError) as e:
                raise ValueError("warc: missing/invalid Content-Length") from e
            block_at = hdr_end + 4
            # declared length vs actual payload BEFORE slicing (fuzz rule)
            if clen < 0 or block_at + clen + 4 > len(chunk):
                raise ValueError("warc: Content-Length overruns the payload")
            block = chunk[block_at : block_at + clen]
            if chunk[block_at + clen : block_at + clen + 4] != _CRLF + _CRLF:
                raise ValueError("warc: missing record trailer")
            wtype = headers.get("warc-type", "")
            status = None
            body = block
            encoding = None
            if wtype == "response" and block[:5] == b"HTTP/":
                http_end = block.find(_CRLF + _CRLF)
                if http_end < 0:
                    raise ValueError("warc: response record without HTTP header end")
                http_lines = block[:http_end].split(_CRLF)
                status_line = http_lines[0].split(b" ")
                if len(status_line) < 2 or not status_line[1].isdigit():
                    raise ValueError("warc: malformed HTTP status line")
                status = int(status_line[1])
                for hline in http_lines[1:]:
                    hk, hsep, hv = hline.partition(b":")
                    if hsep and hk.strip().lower() == b"content-encoding":
                        encoding = hv.decode("ascii", "replace").strip().lower()
                body = _decode_http_body(block[http_end + 4:], encoding)
            rec = {
                "warc_type": wtype,
                "target_uri": headers.get("warc-target-uri"),
                "content_length": clen,
                "http_status": status,
                "content_encoding": encoding,
                "body_md5": hashlib.md5(body).hexdigest(),
            }
            if include_body:
                rec["body"] = body.decode("utf-8", "replace")
            recs.append(rec)
            pos = block_at + clen + 4
    return recs


def synthesize_warc_payloads(df: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """id, text → a REAL 3-record WARC archive payload per row
    (warcinfo + HTTP response carrying the text + metadata), every odd
    id member-gzipped (the *.warc.gz convention). Closed form a SQL
    oracle reproduces without bytes: content lengths are 18 /
    45+strlen(text) / strlen('length: ' || strlen(text)); body md5s are
    md5 of the literal strings. Byte lengths, not codepoint counts —
    the oracle must use strlen(), not length()."""

    def encode(rid: int, text) -> bytes:
        from .brotli_codec import brotli_compress_store

        body = ("" if text is None else str(text)).encode("utf-8")
        uri = f"http://corpus.test/{rid}"
        # HTTP Content-Encoding rotates by id — identity /
        # gzip(stored) / brotli(store), both encoders chosen
        # for CLOSED-FORM lengths the oracle can mirror
        mode = rid % 3
        if mode == 1:
            http = (_HTTP_HEADERS[:-2] + b"Content-Encoding: gzip\r\n"
                    + _CRLF + _gzip_store(body))
        elif mode == 2:
            http = (_HTTP_HEADERS[:-2] + b"Content-Encoding: br\r\n"
                    + _CRLF + brotli_compress_store(body))
        else:
            http = _HTTP_HEADERS + body
        return encode_warc(
            [
                ("warcinfo", None, b"software: skyfit\r\n"),
                ("response", uri, http),
                ("metadata", uri, f"length: {len(body)}".encode()),
            ],
            gzip_members=bool(rid % 2),
        )

    return kernels.payload_map(df, id_col, encode, inputs=("text",))


def read_warc_records(
    df: DataFrame, *, id_col: str = "doc_id", include_body: bool = False
) -> DataFrame:
    """payload → one row per WARC record: (id, rec_idx, warc_type,
    target_uri, content_length, http_status, body_md5[, body]) via
    the scaffold's explode. A malformed, NULL or record-less archive
    yields ONE quarantine row with NULL warc_type and rec_idx -1 (same
    corrupt-row discipline as the CSV PERMISSIVE reader) rather than
    failing the task. `include_body` adds the decoded body text (utf-8,
    replace) — the column downstream extraction stages consume; leave
    it off for manifest-style scans so record metadata, not page bytes,
    crosses the exchange."""
    fields = ["warc_type", "target_uri", "content_length", "http_status",
              "content_encoding", "body_md5"] + (["body"] if include_body else [])
    columns = [
        (id_col, T.LongType(), None),
        ("rec_idx", T.IntegerType(), "int32"),
        ("warc_type", T.StringType(), None),
        ("target_uri", T.StringType(), None),
        ("content_length", T.LongType(), "Int64"),
        ("http_status", T.IntegerType(), "Int32"),
        ("content_encoding", T.StringType(), None),
        ("body_md5", T.StringType(), None),
    ] + ([("body", T.StringType(), None)] if include_body else [])

    def rows_of(payload) -> list[tuple]:
        recs = parse_warc(bytes(payload), include_body=include_body)
        if not recs:
            raise ValueError("no WARC records in payload")
        return [(i, *(r[f] for f in fields)) for i, r in enumerate(recs)]

    return kernels.explode(
        df,
        rows_of,
        columns,
        inputs=("payload",),
        errors=(ValueError, TypeError),
        quarantine=(-1,) + (None,) * len(fields),
    )
