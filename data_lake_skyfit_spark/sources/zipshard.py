"""ZIP-shard reading — the third dataset-shard container beside
WebDataset tar (webdataset.py) and TFRecord (tfrecord.py): many public
corpora and Kaggle-style dumps ship as ZIP archives of per-sample
members. Everything is REAL byte-level format work on stdlib zlib:

- encode_zip writes local file headers, a central directory and the
  end-of-central-directory record with true CRC-32s and raw-deflate
  (wbits −15) compression;
- parse_zip locates the EOCD by backward signature scan, walks the
  CENTRAL directory (the authoritative index — local headers are only
  consulted for each member's data offset, the spec's rule), validates
  every declared size/offset against the payload BEFORE slicing, and
  inflates with a BOUNDED decompressor (the r4 decoder-fuzz rule: a
  lying usize cannot balloon memory), then verifies CRC-32 and length.

Reference analog: raw blob ingestion (src/common/lake.py:59-71) is the
north-star surface; the shard model follows webdataset.py.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions import kernels

__all__ = ["encode_zip", "parse_zip", "read_zip_members", "extract_zip_members"]

_LOCAL_SIG = b"PK\x03\x04"
_CENTRAL_SIG = b"PK\x01\x02"
# Sanity ceiling on a single member's DECLARED uncompressed size: the
# bounded inflate allocates up to usize+1 bytes before the length check
# runs, so a lying directory entry (usize=0xFFFFFFFF + a small bomb)
# must be rejected BEFORE decompress, not after.  1032:1 is DEFLATE's
# theoretical maximum expansion; anything above it is a lie outright.
_MAX_MEMBER_SIZE = 256 << 20  # 256 MiB
_MAX_DEFLATE_RATIO = 1032
_EOCD_SIG = b"PK\x05\x06"


def encode_zip(
    members: list[tuple[str, bytes]], *, compress: bool = True
) -> bytes:
    """A REAL ZIP archive: per-member local header + data, then the
    central directory and EOCD. `compress=True` raw-deflates every
    member (method 8) unless deflate does not shrink it (method 0
    stored — the zip tool convention); False stores everything."""
    out = bytearray()
    central = bytearray()
    for name, data in members:
        nb = name.encode("utf-8")
        crc = zlib.crc32(data) & 0xFFFFFFFF
        method = 0
        payload = data
        if compress:
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            cand = c.compress(data) + c.flush()
            if len(cand) < len(data):
                method, payload = 8, cand
        offset = len(out)
        # version-needed, flags, method, modtime, moddate (fixed
        # 1980-01-01 00:00 — deterministic archives), crc, csize,
        # usize, name len, extra len
        common = struct.pack(
            "<HHHHHIIIHH", 20, 0, method, 0, 0x21, crc, len(payload),
            len(data), len(nb), 0,
        )
        out += _LOCAL_SIG + common + nb + payload
        central += _CENTRAL_SIG + struct.pack("<H", 20) + common
        # comment len, disk start, internal attrs, external attrs,
        # local-header offset
        central += struct.pack("<HHHII", 0, 0, 0, 0, offset) + nb
    cd_off = len(out)
    out += central
    out += _EOCD_SIG + struct.pack(
        "<HHHHIIH", 0, 0, len(members), len(members), len(central), cd_off, 0
    )
    return bytes(out)


def parse_zip(data: bytes) -> list[dict]:
    """Central-directory walk → one dict per member: name, method
    ('store'/'deflate'), size (uncompressed), crc32, member_md5 AND
    `content` (the INFLATED bytes). Raises ValueError on any lying
    size/offset/CRC."""
    # EOCD: backward scan over the last 64 KiB + 22 (max comment)
    tail_start = max(0, len(data) - (0xFFFF + 22))
    eocd = data.rfind(_EOCD_SIG, tail_start)
    if eocd < 0 or eocd + 22 > len(data):
        raise ValueError("zip: no end-of-central-directory record")
    _dn, _cd, _ne, n_total, cd_size, cd_off, _cl = struct.unpack_from(
        "<HHHHIIH", data, eocd + 4
    )
    if cd_off + cd_size > len(data):
        raise ValueError("zip: central directory past payload")
    out: list[dict] = []
    pos = cd_off
    for _ in range(n_total):
        if data[pos : pos + 4] != _CENTRAL_SIG:
            raise ValueError("zip: bad central-directory signature")
        (
            _vmade, _vneed, _flags, method, _t, _d, crc, csize, usize,
            nlen, elen, clen, _dsk, _ia, _ea, loc_off,
        ) = struct.unpack_from("<HHHHHHIIIHHHHHII", data, pos + 4)
        name = data[pos + 46 : pos + 46 + nlen].decode("utf-8", "replace")
        pos += 46 + nlen + elen + clen
        if pos > cd_off + cd_size:
            raise ValueError("zip: central entry past directory bounds")
        # local header gives the data offset (its name/extra lengths
        # may legally differ from the central copy)
        if loc_off + 30 > len(data):
            raise ValueError("zip: local header past payload")
        if data[loc_off : loc_off + 4] != _LOCAL_SIG:
            raise ValueError("zip: bad local-header signature")
        lnlen, lelen = struct.unpack_from("<HH", data, loc_off + 26)
        dstart = loc_off + 30 + lnlen + lelen
        if dstart + csize > len(data):
            raise ValueError("zip: member data past payload")
        comp = data[dstart : dstart + csize]
        if usize > _MAX_MEMBER_SIZE:
            raise ValueError("zip: declared member size exceeds sanity cap")
        if method == 0:
            raw = comp
        elif method == 8:
            if usize > csize * _MAX_DEFLATE_RATIO + 64:
                raise ValueError(
                    "zip: declared size exceeds maximum deflate expansion"
                )
            d = zlib.decompressobj(-15)
            try:
                raw = d.decompress(comp, usize + 1)  # BOUNDED inflate
            except zlib.error as e:
                raise ValueError(f"zip: inflate failed: {e}") from e
        else:
            raise ValueError(f"zip: unsupported method {method}")
        if len(raw) != usize:
            raise ValueError("zip: inflated size does not match directory")
        if (zlib.crc32(raw) & 0xFFFFFFFF) != crc:
            raise ValueError("zip: CRC mismatch")
        out.append(
            {
                "name": name,
                "method": "store" if method == 0 else "deflate",
                "size": usize,
                "crc32": crc,
                "member_md5": hashlib.md5(raw).hexdigest(),
                "content": raw,
            }
        )
    return out


#: what parse_zip raises on a malformed archive
_ZIP_ERRORS = (ValueError, TypeError, struct.error)


def extract_zip_members(
    df: DataFrame, *, id_col: str = "doc_id", suffix: str = ""
) -> DataFrame:
    """payload → (id, name, payload): the INFLATED bytes of every
    member whose name ends with `suffix` — the shard→media bridge
    (downstream decoders consume the payload column directly, e.g.
    decode_images over the .png members of a LAION-style shard).
    Malformed archives drop silently here (read_zip_members is the
    quarantine-reporting surface)."""
    return kernels.explode(
        df,
        lambda payload: [
            (r["name"], r["content"])
            for r in parse_zip(bytes(payload))
            if r["name"].endswith(suffix)
        ],
        [
            (id_col, T.LongType(), None),
            ("name", T.StringType(), None),
            ("payload", T.BinaryType(), None),
        ],
        inputs=("payload",),
        errors=_ZIP_ERRORS,
    )


def read_zip_members(df: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """payload → one row per member: (id, rec_idx, name, method, size,
    member_md5). Central-directory order is the record order; malformed,
    NULL or member-less archives quarantine to one NULL-name row with
    rec_idx −1 (the warc.py/webdataset.py discipline). The scaffold's
    Arrow-batched explode; at 100 TB each shard decodes where it lands,
    one manifest row per member crosses the shuffle."""

    def rows_of(payload) -> list[tuple]:
        recs = parse_zip(bytes(payload))
        if not recs:
            raise ValueError("no members in archive")
        return [
            (i, r["name"], r["method"], r["size"], r["member_md5"])
            for i, r in enumerate(recs)
        ]

    return kernels.explode(
        df,
        rows_of,
        [
            (id_col, T.LongType(), None),
            ("rec_idx", T.IntegerType(), "int32"),
            ("name", T.StringType(), None),
            ("method", T.StringType(), None),
            ("size", T.LongType(), "Int64"),
            ("member_md5", T.StringType(), None),
        ],
        inputs=("payload",),
        errors=_ZIP_ERRORS,
        quarantine=(-1, None, None, None, None),
    )
