"""WebDataset-style tar shard reader: the de-facto container format
for large multimodal training sets (a dataset is a list of .tar
shards; each SAMPLE is a group of adjacent members sharing a basename
— 000017.jpg + 000017.txt + 000017.json — so sequential reads stream
whole samples without an index).

Real ustar walker, stdlib-free of even `tarfile` on the read path so
every header field the kernel trusts is validated explicitly (the r4
fuzz discipline): 512-byte headers, NUL-terminated octal sizes, the
space-substituted header checksum verified, member payloads
length-checked against the buffer BEFORE slicing, data padded to
512-byte blocks, two zero blocks at the end. Malformed shards
quarantine per payload (rec_idx −1), never fail the task.

Spark surface mirrors sources/warc.py: `read_tar_members` is the
scaffold's Arrow-batched explode over a binary payload column — one task per
shard-sized payload, embarrassingly parallel, nothing shuffles but the
rows the caller asks for. `sample_key_expr` splits member names into
(key, ext) so a groupBy(key) reassembles samples — the WebDataset
grouping rule (key = name up to the FIRST dot, ext = the rest, so
'000017.seg.png' keeps the compound extension 'seg.png').

Reference analog: none (north-star §7.5 surface beside warc.py).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import kernels

__all__ = ["encode_tar", "parse_tar", "read_tar_members", "sample_key_expr"]

_BLOCK = 512


def _octal(value: int, width: int) -> bytes:
    return f"{value:0{width - 1}o}".encode() + b"\x00"


def encode_tar(members: list[tuple[str, bytes]]) -> bytes:
    """Encode (name, payload) members into a real ustar archive —
    the fixture encoder for the battery (regular files, mode 0644,
    epoch mtime, correct space-substituted checksum, trailing zero
    blocks)."""
    out = bytearray()
    for name, payload in members:
        nb = name.encode()
        if len(nb) > 100:
            raise ValueError("tar: member name longer than 100 bytes")
        hdr = bytearray(_BLOCK)
        hdr[0 : len(nb)] = nb
        hdr[100:108] = _octal(0o644, 8)  # mode
        hdr[108:116] = _octal(0, 8)  # uid
        hdr[116:124] = _octal(0, 8)  # gid
        hdr[124:136] = _octal(len(payload), 12)
        hdr[136:148] = _octal(0, 12)  # mtime
        hdr[148:156] = b" " * 8  # checksum field counts as spaces
        hdr[156] = ord("0")  # regular file
        hdr[257:263] = b"ustar\x00"
        hdr[263:265] = b"00"
        chksum = sum(hdr)
        hdr[148:156] = f"{chksum:06o}".encode() + b"\x00 "
        out += hdr
        out += payload
        if len(payload) % _BLOCK:
            out += b"\x00" * (_BLOCK - len(payload) % _BLOCK)
    out += b"\x00" * (2 * _BLOCK)
    return bytes(out)


def parse_tar(data: bytes, *, include_content: bool = False) -> list[dict]:
    """Walk a ustar archive: [(name, size, member_md5[, content])].
    Every header-declared size is validated against the buffer before
    any slice; the header checksum is verified (a corrupted header must
    raise, not yield garbage members). ``include_content`` pins the
    member bytes into each record — only the extraction bridge asks
    for it; the metadata/listing path stays metadata-sized
    (code-review r5)."""
    recs: list[dict] = []
    pos = 0
    n = len(data)
    terminated = False
    while pos + _BLOCK <= n:
        hdr = data[pos : pos + _BLOCK]
        if hdr == b"\x00" * _BLOCK:
            terminated = True
            break  # end-of-archive marker
        name = hdr[0:100].split(b"\x00", 1)[0]
        if not name:
            raise ValueError("tar: empty member name in a non-zero header")
        size_field = hdr[124:136].split(b"\x00", 1)[0].strip()
        try:
            size = int(size_field, 8)
        except ValueError as e:
            raise ValueError("tar: non-octal size field") from e
        stored = hdr[148:156].split(b"\x00", 1)[0].strip()
        try:
            stored_sum = int(stored, 8)
        except ValueError as e:
            raise ValueError("tar: non-octal checksum field") from e
        calc = sum(hdr) - sum(hdr[148:156]) + 8 * ord(" ")
        if calc != stored_sum:
            raise ValueError("tar: header checksum mismatch")
        body_at = pos + _BLOCK
        if size < 0 or body_at + size > n:
            raise ValueError("tar: member size overruns the archive")
        typeflag = hdr[156:157]
        payload = data[body_at : body_at + size]
        if typeflag in (b"0", b"\x00"):  # regular file (old tars use NUL)
            rec = {
                "name": name.decode("utf-8", "replace"),
                "size": size,
                "member_md5": hashlib.md5(payload).hexdigest(),
            }
            if include_content:
                rec["content"] = payload
            recs.append(rec)
        pos = body_at + size
        if size % _BLOCK:
            pos += _BLOCK - size % _BLOCK
    if not terminated:
        # a truncated shard must not silently yield partial samples —
        # require the zero-block end-of-archive marker
        raise ValueError("tar: missing end-of-archive marker (truncated shard?)")
    return recs


def extract_tar_members(
    df: DataFrame, *, id_col: str = "doc_id", suffix: str = ""
) -> DataFrame:
    """payload → (id, name, payload): the raw bytes of every member
    whose name ends with `suffix` — the WebDataset shard→media bridge
    (feed .jpg members to decode_images, .txt captions to the text
    tier), mirroring zipshard.extract_zip_members. Malformed archives
    drop silently here (read_tar_members is the quarantine-reporting
    surface)."""
    return kernels.explode(
        df,
        lambda payload: [
            (r["name"], r["content"])
            for r in parse_tar(bytes(payload), include_content=True)
            if r["name"].endswith(suffix)
        ],
        [
            (id_col, T.LongType(), None),
            ("name", T.StringType(), None),
            ("payload", T.BinaryType(), None),
        ],
        inputs=("payload",),
        errors=(ValueError, TypeError),
    )


def sample_key_expr(name: Column | str) -> tuple[Column, Column]:
    """WebDataset grouping rule as JVM expressions: (sample_key, ext) —
    key is the member name up to the FIRST dot (compound extensions
    like 'seg.png' stay whole), names without a dot get ext ''."""
    col = F.col(name) if isinstance(name, str) else name
    dot = F.instr(col, ".")
    key = F.when(dot > 0, F.substring(col, F.lit(1), dot - 1)).otherwise(col)
    ext = F.when(dot > 0, F.substr(col, dot + 1)).otherwise(F.lit(""))
    return key, ext


def read_tar_members(df: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """payload → one row per regular-file member: (id, rec_idx, name,
    size, member_md5, sample_key, ext). Malformed, NULL or member-less
    archives quarantine to one NULL-name row with rec_idx −1 (the
    warc.py discipline)."""
    return _member_rows(df, id_col, "payload", bytes)


def _member_rows(
    df: DataFrame, id_col: str, payload_col: str, unpack: Callable[[bytes], bytes]
) -> DataFrame:
    """read_tar_members over ``unpack(payload)`` — the tar.zst reader
    passes its decompressor, and a payload it rejects quarantines."""

    def rows_of(payload) -> list[tuple]:
        recs = parse_tar(unpack(payload))
        if not recs:
            raise ValueError("no members in archive")
        return [(i, r["name"], r["size"], r["member_md5"]) for i, r in enumerate(recs)]

    base = kernels.explode(
        df,
        rows_of,
        [
            (id_col, T.LongType(), None),
            ("rec_idx", T.IntegerType(), "int32"),
            ("name", T.StringType(), None),
            ("size", T.LongType(), "Int64"),
            ("member_md5", T.StringType(), None),
        ],
        inputs=(payload_col,),
        errors=(ValueError, TypeError),
        quarantine=(-1, None, None, None),
    )
    key, ext = sample_key_expr("name")
    return base.withColumn("sample_key", key).withColumn("ext", ext)
