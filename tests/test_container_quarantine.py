"""Every container reader over NULL, empty and junk payloads, and every
1→1 media decoder over a NULL payload.

A bad payload never fails the task: the readers quarantine it to one
index −1 row (NULL fields; the jsonl reader carries the error text),
and the extractors drop it. A NULL payload counts as malformed.
"""

from __future__ import annotations

import pytest

from data_lake_skyfit_spark.sources import tfrecord, warc, webdataset, zipshard, zstd_shards

_ZSTD_JUNK = b"\x28\xb5\x2f\xfd" + b"\xff" * 12

# (doc_id, payload): NULL, empty, plain junk, zstd-magic junk
_ROWS = [(1, None), (2, b""), (3, b"junk"), (4, _ZSTD_JUNK)]

_QUARANTINE_ALL = [(1, -1), (2, -1), (3, -1), (4, -1)]

# reader, its index column, the (doc_id, index) rows it must return
_CASES = {
    "read_warc_records": (warc.read_warc_records, "rec_idx", _QUARANTINE_ALL),
    "read_tar_members": (webdataset.read_tar_members, "rec_idx", _QUARANTINE_ALL),
    "read_zip_members": (zipshard.read_zip_members, "rec_idx", _QUARANTINE_ALL),
    "read_tfrecord_records": (tfrecord.read_tfrecord_records, "rec_idx", _QUARANTINE_ALL),
    "read_tar_zst_members": (zstd_shards.read_tar_zst_members, "rec_idx", _QUARANTINE_ALL),
    # empty decompresses to no lines; plain bytes pass through as text
    "read_compressed_jsonl_lines": (
        zstd_shards.read_compressed_jsonl_lines, "line_idx", [(1, -1), (3, 0), (4, -1)],
    ),
    "extract_tar_members": (webdataset.extract_tar_members, None, []),
    "extract_zip_members": (zipshard.extract_zip_members, None, []),
}


@pytest.mark.parametrize("name", sorted(_CASES))
def test_reader_quarantines_null_empty_and_junk(spark, name):
    reader, idx_col, want = _CASES[name]
    df = spark.createDataFrame(
        [(i, None if p is None else bytearray(p)) for i, p in _ROWS],
        "doc_id long, payload binary",
    )
    rows = reader(df).collect()
    assert sorted((r["doc_id"], r[idx_col]) for r in rows) == want
    for r in rows:
        if r[idx_col] != -1:
            continue
        # the tar readers' sample_key/ext are derived from name JVM-side
        skip = ("doc_id", idx_col, "sample_key", "ext")
        rest = {k: v for k, v in r.asDict().items() if k not in skip}
        if name == "read_compressed_jsonl_lines":
            assert rest["line"].startswith("error: ") and rest["n_bytes"] == 0
        else:
            assert set(rest.values()) == {None}


# -- 1→1 decoders ----------------------------------------------------------

_DECODERS = [
    "decode_images",
    "extract_embeddings",
    "decode_audio",
    "resize_images",
    "resample_audio",
    "image_dhash",
    "extract_image_metadata",
    "extract_audio_metadata",
    "decode_avif_structure",
]


@pytest.mark.parametrize("name", _DECODERS)
def test_decoder_gives_null_payload_the_all_null_row(spark, name):
    """A NULL payload gets one row of NULL fields, as the 1→N readers
    quarantine it, and the junk row beside it still gets its row."""
    from data_lake_skyfit_spark.llm import multimodal as mm

    # decode_avif_structure still raises on junk (non-AVIF) payloads
    rows = [(1, None)] + ([] if name == "decode_avif_structure" else [(2, bytearray(b"junk"))])
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r.asDict() for r in getattr(mm, name)(df).collect()}
    assert sorted(out) == [i for i, _ in rows]
    null = {k: v for k, v in out[1].items() if k != "doc_id"}
    assert set(null.values()) == {None}
