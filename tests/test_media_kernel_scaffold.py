"""Pins for the kernels on the Arrow-kernel scaffold (functions/kernels.py).

Payload pin: every ``synthesize_*`` fixture kernel emits byte-identical
payloads over an id set that reaches every id branch its docstring
names (digests recorded before the kernels moved onto ``id_kernel``).
Width pin: every ``synthesize_*`` output is spread to the session's
``defaultParallelism`` (the r9 one-split trap: the h264 chain ran on one
core, 8.5 s against 1.4 s spread), except the two row-priced neardup
kernels, which take ceil(rows / 64) tasks.

Source pin: the two ``sources/`` synthesize kernels' payloads, and
every container reader's sorted output rows over real, empty and junk
payloads (plus robots_rules over its text column), are byte-identical
to digests recorded before those kernels moved onto the scaffold; each
output keeps its input's partition width.

All outputs are collected in ONE union job to keep tier-1 time small.
"""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from data_lake_skyfit_spark.llm import multimodal as mm
from data_lake_skyfit_spark.sources import (
    robots,
    tfrecord,
    warc,
    webdataset,
    zipshard,
    zstd_shards,
)
from data_lake_skyfit_spark.sources.zstd_codec import zstd_compress

# (label, function name, keyword arguments, ids reaching every branch)
_CASES = [
    ("jpeg", "synthesize_jpeg_payloads", {}, range(6)),
    ("jpeg_prog", "synthesize_jpeg_payloads", {"progressive": True}, range(6)),
    ("gif_animation", "synthesize_gif_animation_payloads", {}, range(5)),
    ("wav", "synthesize_wav_payloads", {}, [0, 1, 2, 3, 4, 96]),
    ("ppm", "synthesize_ppm_payloads", {}, range(4)),
    ("aiff", "synthesize_aiff_payloads", {}, range(4)),
    ("bmp", "synthesize_bmp_payloads", {}, range(3)),
    ("png", "synthesize_png_payloads", {}, range(5)),
    ("tiff", "synthesize_tiff_payloads", {}, range(8)),
    ("png_variant", "synthesize_png_variant_payloads", {}, range(3)),
    ("gif", "synthesize_gif_payloads", {}, range(3)),
    ("flac", "synthesize_flac_payloads", {}, range(7)),
    ("mp3", "synthesize_mp3_payloads", {}, range(4)),
    ("avi", "synthesize_avi_payloads", {}, range(6)),
    ("mjpeg_avi", "synthesize_mjpeg_avi_payloads", {}, range(4)),
    ("mp4", "synthesize_mp4_payloads", {}, range(6)),
    ("neardup_png", "synthesize_neardup_png_payloads", {}, [0, 1, 2, 3, 502, 503]),
    ("neardup_png_random", "synthesize_neardup_png_payloads",
     {"random_pattern": True}, range(4)),
    ("vad_wav", "synthesize_vad_wav_payloads", {}, range(5)),
    ("adpcm_wav", "synthesize_adpcm_wav_payloads", {}, range(5)),
    ("g711_wav", "synthesize_g711_wav_payloads", {}, range(4)),
    ("exif_jpeg", "synthesize_exif_jpeg_payloads", {}, range(4)),
    ("id3_mp3", "synthesize_id3_mp3_payloads", {}, range(4)),
    ("webp", "synthesize_webp_payloads", {}, range(4)),
    ("neardup_wav", "synthesize_neardup_wav_payloads", {}, range(4)),
    ("neardup_avi", "synthesize_neardup_avi_payloads", {}, range(4)),
    ("mjpeg_mp4", "synthesize_mjpeg_mp4_payloads", {}, range(4)),
    ("neardup_mjpeg", "synthesize_neardup_mjpeg_payloads", {}, range(4)),
    ("webp_lossless", "synthesize_webp_lossless_payloads", {}, range(3)),
    # <240 (flat + every 5th I_PCM), 240 CAVLC steps, 330 CABAC flat,
    # 365 High 8x8, 375 CABAC steps, 420/450 P GOPs, 460/480 IBP GOPs,
    # 490/495 weighted GOPs
    ("avc_mp4", "synthesize_avc_mp4_payloads", {},
     [0, 1, 240, 330, 365, 375, 420, 450, 460, 480, 490, 495]),
    # <120 bypass (1-2 frames), 120 lossy DC, 200 P GOP, 210 partition
    # P GOP, 220 IBP GOP, 230 weighted IBP GOP
    ("hevc_mp4", "synthesize_hevc_mp4_payloads", {},
     [0, 1, 120, 200, 210, 220, 230]),
    ("avif", "synthesize_avif_payloads", {}, range(2)),
    ("heic", "synthesize_heic_payloads", {}, [0, 3]),
    ("avc_multiref", "synthesize_avc_multiref_payloads", {}, range(2)),
    ("avc_tdirect", "synthesize_avc_tdirect_payloads", {}, range(2)),
    ("avc_bpyramid", "synthesize_avc_bpyramid_payloads", {}, range(2)),
    ("webp_lossy", "synthesize_webp_lossy_payloads", {}, range(4)),
    ("webp_animation", "synthesize_webp_animation_payloads", {}, range(4)),
]

_ROW_PRICED = {"synthesize_neardup_wav_payloads", "synthesize_neardup_avi_payloads"}

_DIGESTS = {
    "jpeg": "59ea24be7d77292d",
    "jpeg_prog": "95be955d87f5ff8b",
    "gif_animation": "397181c7780cb233",
    "wav": "9448e5894a613038",
    "ppm": "689fe3fa74faabdd",
    "aiff": "341eb2427f729b00",
    "bmp": "9b64ff9cab1725b1",
    "png": "c80bb635d11a7a42",
    "tiff": "b2dcefe62a95eb13",
    "png_variant": "a3855eb7f0d8704f",
    "gif": "7cd79c061425e231",
    "flac": "f252b0e152b5eae6",
    "mp3": "55b6d775c4766c7b",
    "avi": "962690482a1194e2",
    "mjpeg_avi": "362ea83db3c86586",
    "mp4": "d005495b368bad4d",
    "neardup_png": "f051887f02fcf2ae",
    "neardup_png_random": "3f02e71a665edc60",
    "vad_wav": "8b62f3837dd6440e",
    "adpcm_wav": "865349a31a1323f5",
    "g711_wav": "50073d28af8c85d6",
    "exif_jpeg": "be56ae17d105b7a9",
    "id3_mp3": "2032a4f4ab625f7d",
    "webp": "7763534c7f9186e0",
    "neardup_wav": "bf953282a8ec3bb8",
    "neardup_avi": "8132b061b8bba853",
    "mjpeg_mp4": "3ab43849c9fe4bca",
    "neardup_mjpeg": "0047f4f7264d3cee",
    "webp_lossless": "170f2498ac478819",
    "avc_mp4": "f79a95b3406fdba0",
    "hevc_mp4": "48694a415746cd3c",
    "avif": "0c93d6e84eee43af",
    "heic": "5bc63cf1a96d6c49",
    "avc_multiref": "1820616cd747f996",
    "avc_tdirect": "a0dc77ff2e4d3be9",
    "avc_bpyramid": "d85dab7f1afb98bc",
    "webp_lossy": "13493d080cd5d5c4",
    "webp_animation": "e359827f3572b055",
}


def _digest(rows) -> str:
    h = hashlib.sha256()
    for rid, payload in sorted(rows):
        h.update(rid.to_bytes(8, "big") + len(payload).to_bytes(8, "big"))
        h.update(payload)
    return h.hexdigest()[:16]


@pytest.fixture(scope="module")
def synthesized(spark):
    outs = []
    for label, name, kwargs, ids in _CASES:
        ids = list(ids)
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        outs.append((label, name, len(ids), getattr(mm, name)(df, **kwargs)))
    return outs


def test_every_synthesize_kernel_is_pinned():
    names = {n for n in dir(mm) if n.startswith("synthesize_")}
    assert names == {name for _l, name, _k, _i in _CASES}


@pytest.fixture(scope="module")
def sources(spark):
    return _source_outputs(spark)


@pytest.fixture(scope="module")
def collected(synthesized, sources):
    """Every pinned output's rows, label → rows, from ONE union job:
    fixture payloads as (doc_id, payload), source outputs as one JSON
    string per row."""
    tagged = [
        out.select(F.lit(label).alias("label"), "doc_id", "payload",
                   F.lit(None).cast("string").alias("row"))
        for label, _name, _n, out in synthesized
    ] + [
        out.select(
            F.lit(label).alias("label"),
            F.lit(None).cast("long").alias("doc_id"),
            F.lit(None).cast("binary").alias("payload"),
            F.to_json(F.struct(*out.columns), {"ignoreNullFields": "false"}).alias("row"),
        )
        for label, _inp, out in sources
    ]
    union = tagged[0]
    for t in tagged[1:]:
        union = union.unionAll(t)
    rows: dict[str, list] = {}
    for r in union.collect():
        rows.setdefault(r["label"], []).append(r)
    return rows


def test_synthesize_payloads_byte_identical(collected):
    rows = {
        label: [(r["doc_id"], bytes(r["payload"])) for r in collected.get(label, [])]
        for label, *_ in _CASES
    }
    got = {label: _digest(rows[label]) for label, *_ in _CASES}
    assert {k: len(rows[k]) for k in got} == {
        label: len(list(ids)) for label, _n, _k, ids in _CASES
    }
    assert got == _DIGESTS


def test_synthesize_outputs_are_spread(spark, synthesized):
    full = max(spark.sparkContext.defaultParallelism, 1)
    widths = {label: out.rdd.getNumPartitions() for label, _n, _c, out in synthesized}
    want = {
        label: min(full, -(-n // 64)) if name in _ROW_PRICED else full
        for label, name, n, _out in synthesized
    }
    assert widths == want


# junk: plain bytes, and bytes behind each container's magic
_JUNK = [b"", b"junk", b"\x28\xb5\x2f\xfd" + b"\xff" * 12, b"WARC/1.0\r\nxx",
         b"PK\x05\x06" + b"\x00" * 4]


def _members(rid: int) -> list[tuple[str, bytes]]:
    key = f"{rid:06d}"
    return [(f"{key}.txt", (f"caption {rid} " * (1 + rid % 9)).encode()),
            (f"{key}.cls", str(rid % 10).encode()),
            (f"{key}.seg.png", bytes(range(rid % 7, 40 + rid)))]


def _payload_frame(spark, payloads):
    rows = list(enumerate(payloads + _JUNK))
    return spark.createDataFrame(
        [(i, bytearray(p)) for i, p in rows], "doc_id long, payload binary"
    )


def _source_outputs(spark):
    """(label, input frame, output frame) for every sources/ kernel."""
    texts = spark.createDataFrame(
        [(0, "alpha beta"), (1, None), (2, "caf\u00e9 \u00fcber"), (3, ""),
         (4, "x" * 300), (5, "line one\nline two")],
        "doc_id long, text string",
    )
    warcs = warc.synthesize_warc_payloads(texts)
    zst = zstd_shards.synthesize_zst_jsonl_payloads(
        spark.range(9).withColumnRenamed("id", "doc_id")
    )
    tars = _payload_frame(spark, [webdataset.encode_tar(_members(r)) for r in range(5)])
    zips = _payload_frame(spark, [zipshard.encode_zip(_members(r)) for r in range(5)])
    tfrs = _payload_frame(
        spark, [tfrecord.encode_tfrecord([m for _n, m in _members(r)]) for r in range(5)]
    )
    tar_zst = _payload_frame(
        spark, [zstd_compress(webdataset.encode_tar(_members(r))) for r in range(3)]
    )
    warc_junk = _payload_frame(spark, []).unionByName(warcs.select(
        (F.col("doc_id") + 100).alias("doc_id"), "payload"))
    zst_junk = _payload_frame(spark, []).withColumn("codec", F.lit("auto")).unionByName(
        zst.select((F.col("doc_id") + 100).alias("doc_id"), "payload", "codec"))
    hosts = spark.createDataFrame(
        [("a.test", "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"),
         ("b.test", "User-agent: bot\nDisallow: /\n"), ("c.test", None),
         ("d.test", "junk \x00 text")],
        "host string, robots_txt string",
    )
    return [
        ("warc_payloads", texts, warcs),
        ("zst_payloads", None, zst),
        ("warc_records", warc_junk, warc.read_warc_records(warc_junk)),
        ("warc_records_body", warc_junk,
         warc.read_warc_records(warc_junk, include_body=True)),
        ("jsonl_lines", zst_junk,
         zstd_shards.read_compressed_jsonl_lines(zst_junk, codec_col="codec")),
        ("tar_members", tars, webdataset.read_tar_members(tars)),
        ("tar_extract", tars, webdataset.extract_tar_members(tars, suffix=".txt")),
        ("tar_extract_all", tars, webdataset.extract_tar_members(tars)),
        ("zip_members", zips, zipshard.read_zip_members(zips)),
        ("zip_extract", zips, zipshard.extract_zip_members(zips, suffix=".png")),
        ("tfrecord_records", tfrs, tfrecord.read_tfrecord_records(tfrs)),
        ("tar_zst_members", tar_zst, zstd_shards.read_tar_zst_members(tar_zst)),
        ("robots_rules", hosts, robots.robots_rules(hosts)),
    ]


_SOURCE_DIGESTS = {
    "warc_payloads": "2f42e0da439fa54f",
    "zst_payloads": "240518cd349082f2",
    "warc_records": "afa2260fff193301",
    "warc_records_body": "af77b581cc40150e",
    "jsonl_lines": "d402f95f6be3c9bf",
    "tar_members": "7f7bf0d6178efa10",
    "tar_extract": "23ae9000bf57c39c",
    "tar_extract_all": "7f1eaffc329d5aba",
    "zip_members": "a60e095ed3e998c3",
    "zip_extract": "c2ff93f46dd0ce7c",
    "tfrecord_records": "976f72ab2eece7ee",
    "tar_zst_members": "f612b264ba064578",
    "robots_rules": "84f0e3082ab2c731",
}


def test_source_kernel_outputs_byte_identical(collected, sources):
    got = {
        label: hashlib.sha256(
            "\n".join(sorted(r["row"] for r in collected.get(label, []))).encode()
        ).hexdigest()[:16]
        for label, *_ in sources
    }
    assert got == _SOURCE_DIGESTS


def test_source_outputs_keep_input_width(sources):
    widths = {
        label: out.rdd.getNumPartitions() for label, inp, out in sources if inp is not None
    }
    assert widths == {
        label: inp.rdd.getNumPartitions() for label, inp, _o in sources if inp is not None
    }
