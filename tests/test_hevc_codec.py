"""HEVC intra decoder validation.

Three independent pins, mirroring the VP8/libwebp discipline:

1. REFERENCE CROSS-PIN (the arbitrating tier): libx265-encoded streams
   across qp/size/CTU/feature sweeps must decode bit-identically here
   and in libde265; repo-fixture-encoded streams must decode
   bit-identically in libde265.  Runs when the system libraries are
   present (they are in this container); skips cleanly otherwise.
2. EMBEDDED EXTERNAL GOLDENS: three x265-encoded streams committed as
   bytes with the libde265-decoded plane MD5s — the external-encoder
   pin holds even without the native libraries.
3. TABLE RE-EXTRACTION: every binary-extracted table (context
   initValues, transform matrices, deblock beta/tC value runs, chroma
   QP map) is re-read from the system binaries and compared, so a
   transcription regression or a library change is caught loudly.

Plus malformed-input fuzz per the repo's decoder rules (bounded
allocation before trusting header-declared sizes, ValueError — never a
hang or foreign exception — on corrupt payloads).
"""

from __future__ import annotations

import base64
import hashlib
import struct

import numpy as np
import pytest

from data_lake_skyfit_spark.llm import hevc
from data_lake_skyfit_spark.llm.hevc import (
    decode_hevc_iframe,
    decode_hevc_intra_stream,
    encode_hevc_iframe_bypass,
)

try:  # test-only reference bridges and fixture encoders
    from . import hevc_fixture_encoders as hevc_fx
    from . import libde265_oracle, libx265_oracle
except ImportError:  # pragma: no cover - direct invocation
    import hevc_fixture_encoders as hevc_fx
    import libde265_oracle
    import libx265_oracle

_DE265 = libde265_oracle.load()
_X265 = libx265_oracle.load()

needs_refs = pytest.mark.skipif(
    _DE265 is None or _X265 is None, reason="system HEVC references absent"
)
needs_de265 = pytest.mark.skipif(_DE265 is None, reason="libde265 absent")

_DE265_PATH = "/lib/x86_64-linux-gnu/libde265.so.0"
_X265_PATH = "/lib/x86_64-linux-gnu/libx265.so.199"


def _planes(seed: int, w: int, h: int, smooth: bool = True):
    rng = np.random.default_rng(seed)
    y = rng.integers(0, 256, (h, w), dtype=np.uint8)
    if smooth:
        y = ((y.astype(np.int32)
              + np.add.outer(np.arange(h), np.arange(w)) * 3) % 256
             ).astype(np.uint8)
    cb = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
    cr = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
    return y, cb, cr


def _encode(w, h, frames, opts):
    return _X265.encode(w, h, [(f[0].tobytes(), f[1].tobytes(), f[2].tobytes())
                               for f in frames], opts)


def _assert_matches_reference(stream: bytes) -> None:
    ref = _DE265.decode(stream)
    mine = decode_hevc_intra_stream(stream)
    assert len(mine) == len(ref)
    for m, r in zip(mine, ref):
        assert m == r


_BASE = {"keyint": "1", "sao": "0", "deblock": "0", "bframes": "0",
         "aq-mode": "0"}


# ---------------------------------------------------------------------------
# 1. reference cross-pins


@needs_refs
@pytest.mark.parametrize("qp", [12, 17, 22, 26, 30, 37, 45])
def test_x265_qp_sweep_bit_exact(qp):
    frames = [_planes(qp, 96, 64)]
    stream = _encode(96, 64, frames, dict(_BASE, qp=str(qp)))
    _assert_matches_reference(stream)


@needs_refs
@pytest.mark.parametrize("ctu", ["16", "32", "64"])
def test_x265_ctu_sizes_bit_exact(ctu):
    stream = _encode(96, 64, [_planes(int(ctu), 96, 64)],
                     dict(_BASE, qp="27", ctu=ctu))
    _assert_matches_reference(stream)


@needs_refs
def test_x265_lossless_roundtrip_and_bit_exact():
    y, cb, cr = _planes(3, 64, 64)
    stream = _encode(64, 64, [(y, cb, cr)], dict(_BASE, lossless="1"))
    w, h, dy, dcb, dcr = decode_hevc_iframe(stream)
    assert (w, h) == (64, 64)
    assert dy == y.tobytes() and dcb == cb.tobytes() and dcr == cr.tobytes()
    _assert_matches_reference(stream)


@needs_refs
@pytest.mark.parametrize("opts,label", [
    (dict(_BASE, qp="30", signhide="1"), "sign-data-hiding"),
    ({"keyint": "1", "sao": "0", "deblock": "0", "bframes": "0",
      "preset": "medium", "tskip": "1", "qp": "30"}, "transform-skip"),
    ({"keyint": "1", "sao": "0", "deblock": "0", "bframes": "0",
      "preset": "medium", "crf": "26", "aq-mode": "2"}, "cu-qp-delta"),
    (dict(_BASE, qp="30", deblock="1"), "deblock-offsets"),
    (dict(_BASE, qp="35", sao="1"), "sao"),
    ({"keyint": "1", "bframes": "0", "preset": "medium", "crf": "26"},
     "x265-defaults"),
    (dict(_BASE, qp="27", **{"min-cu-size": "8"}), "nxn-partitions"),
    (dict(_BASE, qp="27", **{"min-cu-size": "8", "tu-intra-depth": "3"}),
     "deep-tu-tree"),
    (dict(_BASE, qp="30"), "plain"),
], ids=lambda v: v if isinstance(v, str) else "")
def test_x265_feature_matrix_bit_exact(opts, label):
    w, h = (128, 96) if "crf" in opts else (96, 64)
    stream = _encode(w, h, [_planes(len(label), w, h)], opts)
    _assert_matches_reference(stream)


@needs_refs
def test_x265_feature_flags_actually_present():
    """Green ≠ exercised (round-7c rule): assert the feature streams
    really carry the PPS flags they claim to cover."""
    def pps_of(opts, w=96, h=64):
        stream = _encode(w, h, [_planes(1, w, h)], opts)
        for nal in hevc._split_nals(stream):
            if (nal[0] >> 1) & 63 == 34:
                return hevc._parse_pps(hevc._strip_emulation(nal[2:]))
        raise AssertionError("no PPS")

    assert pps_of(dict(_BASE, qp="30", signhide="1"))["sdh"] == 1
    assert pps_of({"keyint": "1", "sao": "0", "deblock": "0", "bframes": "0",
                   "preset": "medium", "tskip": "1", "qp": "30"}
                  )["transform_skip"] == 1
    assert pps_of({"keyint": "1", "sao": "0", "deblock": "0", "bframes": "0",
                   "preset": "medium", "crf": "26", "aq-mode": "2"},
                  128, 96)["cu_qp_delta"] == 1
    assert pps_of(dict(_BASE, lossless="1"))["tq_bypass_enabled"] == 1


@needs_refs
def test_x265_multi_frame_and_odd_dims_bit_exact():
    frames = [_planes(s, 100, 52) for s in (10, 11, 12)]
    stream = _encode(100, 52, frames, dict(_BASE, qp="30"))
    _assert_matches_reference(stream)
    mine = decode_hevc_intra_stream(stream)
    assert len(mine) == 3 and mine[0][0] == 100 and mine[0][1] == 52


@needs_de265
def test_fixture_encoder_cross_pinned_by_reference():
    for seed, w, h in ((1, 32, 32), (2, 64, 48), (3, 96, 64)):
        y, cb, cr = _planes(seed, w, h, smooth=False)
        stream = encode_hevc_iframe_bypass(
            w, h, y.tobytes(), cb.tobytes(), cr.tobytes())
        rw, rh, ry, rcb, rcr = _DE265.decode(stream)[0]
        assert (rw, rh) == (w, h)
        assert ry == y.tobytes() and rcb == cb.tobytes() and rcr == cr.tobytes()
        assert decode_hevc_iframe(stream) == (w, h, y.tobytes(), cb.tobytes(),
                                              cr.tobytes())


@needs_de265
def test_dc_fixture_matches_closed_form_and_reference():
    """The lossy DC fixture (single luma DC coefficient, transquant
    bypass OFF) must decode to hevc_dc_expected's flat value — in this
    decoder AND in libde265 — across qps, signs and magnitudes
    (negative coefficients exercise the arithmetic-shift rounding the
    graded oracle avoids by using positive ones)."""
    from data_lake_skyfit_spark.llm.hevc import (
        encode_hevc_iframe_dc, hevc_dc_expected,
    )

    for qp in (10, 22, 27, 32, 37, 45):
        for c in (1, 5, -7, 19, -40, 100):
            stream = encode_hevc_iframe_dc(48, 32, qp, c)
            v = hevc_dc_expected(c, qp)
            w, h, y, cb, cr = decode_hevc_iframe(stream)
            assert y == bytes([v]) * (48 * 32), (qp, c)
            assert cb == bytes([128]) * 384 and cr == bytes([128]) * 384
            rw, rh, ry, rcb, rcr = _DE265.decode(stream)[0]
            assert ry == y and rcb == cb and rcr == cr, (qp, c)


def test_fixture_encoder_exact_roundtrip_no_refs():
    # pure-Python loop: encoder -> decoder reproduces arbitrary planes
    for seed in range(4):
        y, cb, cr = _planes(100 + seed, 48, 32, smooth=False)
        stream = encode_hevc_iframe_bypass(
            48, 32, y.tobytes(), cb.tobytes(), cr.tobytes())
        assert decode_hevc_iframe(stream) == (
            48, 32, y.tobytes(), cb.tobytes(), cr.tobytes())


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=20, deadline=None)
    @given(st.integers(0, 2**32 - 1), st.sampled_from([(32, 32), (48, 32)]))
    def test_fixture_roundtrip_property(seed, dims):
        w, h = dims
        rng = np.random.default_rng(seed)
        y = rng.integers(0, 256, (h, w), dtype=np.uint8)
        cb = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
        cr = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
        stream = encode_hevc_iframe_bypass(
            w, h, y.tobytes(), cb.tobytes(), cr.tobytes())
        assert decode_hevc_iframe(stream) == (
            w, h, y.tobytes(), cb.tobytes(), cr.tobytes())
except ImportError:  # pragma: no cover
    pass


# ---------------------------------------------------------------------------
# 2. embedded external goldens (generated by libx265, verified by libde265
#    at embed time; decode must reproduce the committed plane MD5s)

# x265-encoded Annex-B streams (generated via tests/libx265_oracle.py,
# embedded so the external-encoder pin holds even without libx265)
# name: (width, height, md5(y+cb+cr of libde265 decode), base64 stream)
_GOLDENS = {
    "qp28_nofilt": (48, 32, "19147ae2b022a8ce8e903205164e179b",
     "AAAAAUABDAH//wQIAAADAJ+oAAADAAAeugJAAAAAAUIBAQQIAAADAJ+oAAADAAAeoGIIWW6S"
     "kwuAQAAA+gAAGGoCAAAAAUQBwHGBEgAAASgBreDDFC3///dt7b7wSZKLBAHDEv4AKH6ZnVl1"
     "4YWCAo8xgJX0KYjKVIisLvZ/miDFeepPAjgNlvB1oFQGcqzJeEXZqyYRy47/T/NXR3OIRP+p"
     "0nzodE+DL0vufGlvfY2W6H/yGf56pooiLH05Xe61EjK4m8UQlm/9tvaISqyww11fLs/gR06Q"
     "3l9Oq8QvUfiJRVpcvNCga+ffhqUw6DL3ZHGe57vpUwEBNiLB/WFxPxhU4ze50fHEMEfKopLH"
     "JjaEtMgIJHpBiWDb/LpX2nMM8nKTN5JKQyCJOrUbXRtwD5FvqAxWDqkAlQy8rKFzmlGP1YvF"
     "hpOaFu+UYzKD+tGBhI2ca8UJZZ9WyJ1mjTJLYf3/E7hEUUlCo0iRcE+0oIrQufIY4z5I3Ni4"
     "US0nbag0O8f6EdsmeJ63MtV4Nv5HYOLkOfDbWyOZeb3aeHKB22w0USQTO+uEKdun4+ISKySF"
     "2cP332nyWmIgFEAcYLXbIsTtcHX+dpI9UbJCPRWW6/7j2k2pcvuwI2e/QDO1BiFK7hwIt2o7"
     "ClQEE7EaBYU+VvBJJYhw8stGoacRyA+2DPdjjq0buET43zt/pNi3GrOsaPo6ILqAsrUEoo0p"
     "lM8RjSAw6b+qc83JF/0Y2xYzigO/bUaweG4uuK0EBFMFh096LdDG3cagE8lRdJbG+QSXO0ph"
     "qDm5cJZqs350k0VIXb9ZJIs3O+ob2JF+cxpB7MQJ1IyWqd5q4MpW1fUhXgtiaNLEsm4/Fw5Y"
     "8no5GGWWF9XWrYne+6+WICunRsOKJiYwbX3HUMrKlOQajqGlTn52T4EQNeQNzRWa36ZvJn54"
     "amm9bT6bLyQy/+QcsKdXvjPfmYGjNlHGqCCnv71ILiUyaP5GIgYxyLRer/////8GjWolhJu9"
     "S7kDwfN3lR+ReQnjTdZyLn1hepBPLMoavq3jadmmlWl4T9LUVHx7fMLNzDPagIafTDrD6WkR"
     "UV1axoRKvYmVzFP8RFyStz44OeFM3wZrh8Wao7cW7nrjUnmA4LW9QioI2w7mKwrIUFihPI4j"
     "S8Mzg2ExKOLCrc6odPWg6Wfb4voQ1yeR2hiStqR5UOPjNf2xOYi74Na37VpGvuv7FRqW8ELN"
     "T4kz6ErwWwXYj5l9gsgq7TAToj3jNO5hOB5hBKLnS8gMWf4DUonU+tjJiMCufK+e/dcB9IWH"
     "4wgz+E69ESRB/ynaGcBHoe+QET/KyLIkRIe7AQZq1vtwZgGfIaq3+/sVzs6slnepwF6SGV7V"
     "AKsRMG9OTKsL/ba/CQ0a+W/Zs56Mckt50r/SKcAwNMtmxIRsICptHdSIWCukFal3txyr/ayB"
     "+kDvABOMIqEU9LE1Rv6aH4nqU5gEBrZUO0giTx+JWmdJ+a7JwILIElDvw+SYQyEUbNMcSXmd"
     "ELTh3gmabwzVypgIZx6jd/WxJOmFCgLD7VjYkATLcwYCQzCht+B5GzxaPU0HA9cpxOWbU/lN"
     "FNuS5P1y8cL85IBnFJ/g80wFSrk+z9sI/qdsA0yggqOlYktEupu//4/H3qEKlf7UF+kPRFWD"
     "4QP5/Cf//H5+1af+aT6Lzx5fwWFQO/hmorodSNj0AXibJ93/KP5KzZU/kdleFpR6hdOe3eDx"
     "M1Ck0yF98JM8ZL1VcWC7CQKi9VrD7pTF1PKYj6VVfy3vLgz+4q5iMD33YQfgx9tJ+2rHqlNX"
     "QVB7iQVKMm9/TkfDntAYxd6bWN5FpTvpEBgWhZJ9o8oyl2vOqIf4N/p+zc1xUhwctW0hhyfl"
     "n5F2//RjgxUGhHhEHWz7mbY8hQSpBU+CxSIOSyXaYcHf9K/bbP6ie0IjvsbJWqaoNJ/AFx2K"
     "reez6oc6z8g78B6fRHNJIrJ/2S30eMd0tBP2uHpKhvdlGD3lGPZQL3ww6p0PMVnn3eXndbx2"
     "gUcp1sV7+bf8G7QXi3JUZ9oJCcKncYxO2fVrX8tku8a1SCvXEZRwdN4+OD52nZd+szMuCG9Z"
     "tmn3UEy42VRMaPFXAcVgwHVgJ47U25bO"),
    "qp35_deblock": (48, 32, "2a687b0091cdcc1554de5664815ed338",
     "AAAAAUABDAH//wQIAAADAJ+oAAADAAAeugJAAAAAAUIBAQQIAAADAJ+oAAADAAAeoGIIWW6S"
     "kwuAQAAA+gAAGGoCAAAAAUQBwHGBiRIAAAEoAaxmHPqze//0MZewayZfPuGDsgwH4pnb/WSB"
     "UaT8q5g93Ml6eAfWn+CHetjPfq2TJrt2kvt5XNgRgOsXzJyvbjnaGf7jdzqvG031SyYHmduA"
     "ULfmJE6w8TnPJC3OqYPegY3PXEhGRm7AZISDPNIZ2VCbBqv4Cq8oMG5Yog08U5oWZ+yzBcgC"
     "VJgxVehnC3ENWKPGuBClG67xAw3AkVbcr8C34gKGur0g1D5sxIGaSMxBl/wu1HuuPWZm+d/s"
     "E/PvVsS08FCM+VLdbYljbOGeWv95PP/vxHM3l7DLrbcFMlarVM4wMdkcF9PBwLggNiJXBNqG"
     "lCyzSmG495AhXAK5dF4D4h0NBbigL2i48YZ10lLCatpsoW04ogaOOLh2XcEjGkgG8WwRLwOT"
     "5/NqhXD0VmT9AgsWn7SoUI6AoXsACmKtda+aipW5wPfjePkHpkLCs5a+fV7RWDx6Gs59C4u5"
     "eO9k9NNGfHsAy68VatXoCdqQu8CjT9lpC+FxM/JNij4CG9OI3f41gZROEhITxGSfK6fQo43e"
     "c7DvsPDagMxiN9Y8h+i5nRziSCRcnxc31BUI30Wn1JTnbhS3vpu8LApI3nX7aCprOqCWOfn/"
     "iYh50sPypSGlBPCw76iXAWBLGa57vWB2W0f//////ifBf2aVtsQRMlZHOr55OIJsDwNVh9Aq"
     "jtjUDv2firwQdSagylVh4tEPxj7hSXsjWiN70TQ6J+FWNC+ggZwMNkNjfrzG0+FtY+/q8uwl"
     "1hwYxAv/i6SbXMQLVeYTvmzW3HxO2xKTCcODGD+/V5oDtKx3/msquDdqgENBh7h+LatFI5FR"
     "//9lyMha0fUK+uoSdfEZutAxsuKfsqvoNSBiZh5bRFf4v5CoprLQoLPqrvQ7EcK2rL/9tRxp"
     "LTAG/rtm8Mek9wjF+8Jr5BEFJRD5AX7wWwQzQ1KkyFRVcQhfWx/ON6mJ6FIAF5ve/jGdV6SQ"
     "IMO2Vur5nx5ZJaYlnZx9lzJ2Vl+MhM+yBC07wE6Vc60Tdbm5zbtsb0x13CQMLcVDwOzUdHH0"
     "rLZIvFIORssmcnwB52hIsEswVEBR0T9Td2hQg/skhh5bSM2+agH1uGLfG6WhIm8FGg68sGMS"
     "6vTcQS7dPB5LUn1FMSDCNDTocRknTJFmw1jHBTk7WEROek5LsLWn//5LMHTmDmk5kvxSVKRU"
     "BsnyMnIn3uUrbZa0Cn9p6urlm6mVUncEM5KfF7+IrWqQ0TJ6/CfrT9irJN2M4aniNVNKOUB4"
     "YYx+mA0kTbqD54029FzvIzYxcD5xUjbA8WxaafEG8LzukgtRPNA4sAzNQzAQLCFMPCHnBiS+"
     "dCgFOx5cl6a//VKhUSWn1xdVPGwgqezEhvqM+stt+RDGzuOdA/nywuPJGojdkGuIqN4KMHy2"
     "rb5hQCz37BbKoqLU1SJ0kBaKINVqhfFuDh6jkjPnw0Bt/pb+nl9jXwYs1MoR1xKKnxHwFYyQ"
     "Rp7DDK0bXxZWD0VbEBhlxmTHo1cp8F65"),
    "crf30_default": (64, 64, "6d1fced370d606f68a3a9e127b0ed4ae",
     "AAAAAUABDAH//wQIAAADAJ+oAAADAAAeugJAAAAAAUIBAQQIAAADAJ+oAAADAAAeoCCBBZbq"
     "STK4BAAAD6AAAYagIAAAAAFEAcFysCJAAAABKAGvWFQAAMjNxdu8GsgK/X////Te161ty4sY"
     "GuXotW8naisFluRO7e00t/FVwsNnEgWDVKXd0cgjYcigsFyM2ghZZnTnw0DShjKauSGe9yxb"
     "gwkHjL1Cfvb9ApdZxqUB/ydb6mJYJGJLfhfP9NPFROLwZeA4A6NHVq2Zby5PBSBRX7WZ46KM"
     "MELxvtR0TjxCp1WyKpe+oESfc7A1pf+NEwIVIjcXDG8cXsArM0JK6u3F2djVs9iTDBOHkDdc"
     "PCMXirfsAHpS3YHr1TamwE6L9fGK2EXlSbd+Z4OPZTSQJS1ej7Bspf3akXIIIJuc4KCohNn3"
     "G/6kbjdwSzxwXqyIsVzoYLUpuhWR0eqBYeuNxzK8a+eY3UOyuWWiltbk7nO6hFY+eAv6qhJw"
     "+FeuK42bZ25fi/yJP0ZK16Oexs6E9MAeStCGevbUvbuwzIqBTEITbS82D9bUb7aC07u6EylV"
     "gZBi2Et0/9yCk2pfQX5AC7D+RNjp9TCQuAcrNk02+snbjc8FNEbBUxBimDAm5TJJbOi0Yxyv"
     "CPQ5zHTUgwiUswsS/YqdiXPCLDY444SlgCD5vfiW8VlvC5KFZ3rXUKXvO31iThIPUWEDwaGe"
     "lhPmZpBtOtmwo2YD7to34r6g/KVXnMZwPh+nF2iDh8K4c2WA1QtT/Q96r7NMKSFUqdLdqTX2"
     "nj///5X3V+kRhS3h9VLDltaF3JyOyD9SAx9CilsmQ8hgVSPU72UxtSlPivtPkcCfyk08AwPl"
     "YTBdpxEaGzm83/FEQ3mO/Mt7a5O+VsqKSqA9DDFP1Gnl6XCzNpF0BvrLPXOqPDXv2EDJFNmy"
     "CyyfX7zGfibNBlx8R+ggLVuoBCvA390esBBGFPKmuV9d+/5nBnc33t7609AJPDTvIK6ZQ7Fc"
     "ccBKlrIXFDrr1YqMQ/qWgVuniG7EVgS24AYHpqmZcojwmw2BkFoDxtWfBr13vhOthwaUWBT1"
     "OrvgFui0I+poQw6SB4kBqyYWR2m9WN0we7jNdmpqwRDPjOS0mITV97atE+Lw28BqzMCxQgzJ"
     "+m9m7wZFewUEfOA+SVgsLSbaP5wqZIoF/WxTfv4VRM/u2izfFZmErXRDad8/o4QmBHPXK0lo"
     "L4EvgKxtvBw7Zay33C2NkpJWxrld91WyiYQGoMEocjm7Ejt2RPMyLUMGJIHiH6n09ThS61uQ"
     "ea6fmG0XXxil0YG4GLzwLpwZUN5fSGE5JyP/wW34JCw/Ep3PCYzEUGwfl/hORFqUvKAyrL1n"
     "KUD9697cqw6mS3lc1li08p4QpB83MM+o6AD86QBG1hsrtljv/nmJagLdLVZLHxW/cwmlAdSk"
     "Od2fDlnGXXyJxGKcl+DOJX84yDMq9/6n7WleUkPhzniFdqqAoF26sl4uzJxe8yIqZceJagFF"
     "54HsuR9KMs34Xf/ty6n0u17dRuYNjV2Up2IQMr6IcUcppnCrFl6DTy6k3936JJapkty7Z53d"
     "5z3zHo9ik/aR0xOUSbYiUuP15dtK3JndjxaDtnRxCpTYEmyRr5ShH+Uk2S4RrN6pN0scyy7s"
     "Es10JxR+hj6UTs2oUfOAHa4oiq14pZBhAXVRpsDLdVrQRd/U/wLtMSjxN20ItDUBWmouQW1l"
     "lU1rYxhyfyOHe9ugw8atCfTreC0gdfz9qGGE//HOE8B+MFCqtogqnaWS1+F0aUupgFNSHLi/"
     "D2iYfrJ+t3RGAug21TxLuFxWkuoaMHVFOQU5rgl/WRb9fB5JAqSRxQmyIqw0ObPD5SfplD1b"
     "VTccBh++SDKumdn3BrSPq+oTR6k8mkL66VNefE9pYZFB8urk6KXizkZeahXBtrRBYL3LSdU1"
     "51uDDy23tBVtdY2TYOnDEgDsuwfAUxVTqPQKmPBwrmKGup4teCtUDDPd1/DZC06Gq7GXOcZ1"
     "JNvOWOhhqsTN4G8yAPmw3R2o0vD9vQPxlTRcdeD8dre8xhWEV253hpZuONT5eZHgdlgGmIKO"
     "6YdsUftk1TibG42urMmnHQYxQko7LQtqbc3AqwDc5sDIbve2pNYSVW0/jezP0e7LsoXz5kCC"
     "IWTAJSedG31hVg26xj6WLkeWYyTRu6IVSBYHSqJA2d4Z/uIm+DRcyrdUSyqjbpHG21NA7SVQ"
     "5xIFGhcOHPUu0lQXmetTJ0Yn8+o912gOQ54hCBzS9f2u+KE1fylk4Fqwu87GcMqhyZj0TehQ"
     "3i3IY73YbDwxQF3G+76Sv8P5b9LaXqceGxMrv18v7RJYKLvn41BAm5YrmPXl9v8V/eygaqMN"
     "Yl3TYyox3/6ezc21RBA0GV6N9eGGw/FA5rUThB/ImLklCj3oGJjET8SlRYtyoADkeLWLBYfN"
     "KCn721rA/6JD8DQsMee7xzszNYdaeddEdDzmMqVSHI47aO6z3hPpyJMG62THVG0xglJ8Ie01"
     "HjHw3jrQDRQ1EIfrEkoMjWqwEj+gVqFo1U/Z0qHR7b9E86kqrf1o1mk3axszO1X42e2NHEJh"
     "jvxxsJm8Dkk1tpaCuaxHTbeBGeh3c85BqeIloUdVNS49ilZqN/VYL5kx9ZptK6RWo2RZIAH2"
     "luCzxZgNWXJJkk8osDk1p5FfbNz9+5b0Wnq9hb65cYHd58FVud5/Cot0/rBzHMkTJUurckmq"
     "HzBvBlyEbX0fd7LpTN1c4os3tRCLMFTCbh/zN2MFCYOtpQ8StXwtIBsYMltp5qR0tl2ooeR+"
     "s/Y8yVJhXAVPmwX+5hrto2dEjnvxNcYQg4JqQ+SJywDBosM7ROmbxOKpbv79Ib5LVMnz61h3"
     "o2wTY6nQPcKCB3BjRP3786bAyI6iXjhGmoSMU7d5b/u2ZRV6SHgA3ozWhxTLDKfAnHK5EnVV"
     "QysPwbEPN9d/KGEvl6VNWpjUNhrYFyeyZKnVBPBB0IaLmo1ehgShFgNONcqmANcqEQl22BVN"
     "uXpmpq+tQwmyp+rFeSYC2mDz1cnqLTc3T0NQUZYBfNI/VoSn1yUDASyRDYFfBjSFEcyRkBFg"
     "0LzreTdxChltxMdLXWlM40iMScHzcylDdwJlrAYJJRVqb3Vyp2rBP0Sf95JNg/F1kx7vUiI1"
     "vikpFdYpuIMLosBSf7tLhSEtbhN+PqIt1eQkQy7jv60jZEYSBP9TxAk9/SwCJs6tjpl/mAqA"
     "jZmtBYD/aGSEixyjDA4C62A/4Q8kobN+plOJg7zBYZJJXm7AKC5sX2NCy3tSqiZ/D7edUDr7"
     "03mHTCncYXbTyd83EAu6shmQ2ngjD+2P+/ngfYSZtbczlDOlFq7Iwd7yG7pENW1SG/4qwZY1"
     "DREJ8UorfDO9sjrvq9lDoXqDIXJATpNQDrxzRAS41mHuzh+Qv/XuF4gAGZn/eeOesEA+BGWk"
     "Qml4qAW3Ymc1lZePOWs2u3YecJ/DUslsWOXjJ4AmlO/Yv+WHPeireATX6M0Uv7Uh0a2fnkCc"
     "PKg1sf7bwQwvPdbAAIhMP7ofiOLi+aivDlH9Fvmy6e5tKhcAF96Cv5O7zsSMjJvq6Ck2rtNz"
     "p2e8NwvmCmERqihSpi9lYRjE98HLjq690Q3wQjUsp/1Ew87V61u21rHzF27Jx0wwZluo5PkJ"
     "PSMnDUgLejpMJnnzY7IuCFBfi0DM5rwRymtJdUFnGcogQG+mVNr+wrBudA75mkphIYKDSKz3"
     "4l7VgRZDu8BvNubgVoAAAQTRNXsoOrXDCPP2IoUR+vUnvfCGPPYdwMzi01sqhLoecZDsAxvR"
     "2CD9CjBbNCN1CNKXX2jP55Jd29tbrEsPOxbWkcwlFCO9ChDDPtu0I1xPL7J8XkGIpGUmMZei"
     "jlHgIFs/iPZk7ingkFrUboX/wXdbi2WEOYACxXRetYjH4OP3uKX4I+12ouxI7fRsX4lz9+IA"
     "mnBTm7YzaUjAsXK1nxZOEA0Rtj7wjLUcQJw3jsshHnFIkye3h38wMKeHOCJnrtaKB2J4ceVT"
     "7ket7RbS6+MeHS24xsWOLqIqhK6Co+Vpm1MEC2q+5MXCFtBuiiZwkU8D26+GERT5TbcCn2sk"
     "lEHvJZthb/UIjJpclLD4FFbowJ5uzoGbCoU7P09kpNzCDXYfU6jj79tj0Fq58sc1dD5Xd7lr"
     "7BL+rqbWh4AjWQDIaDdq9WjZE2qe6iBGUzT/H4/DQTqjTS4="),
}


def test_embedded_external_goldens():
    for name, parts in _GOLDENS.items():
        w, h, md5 = parts[0], parts[1], parts[2]
        stream = base64.b64decode("".join(parts[3:]))
        dw, dh, y, cb, cr = decode_hevc_iframe(stream)
        assert (dw, dh) == (w, h), name
        assert hashlib.md5(y + cb + cr).hexdigest() == md5, name


_GOLDEN_10BIT = (48, 32, "e19599bc3d3570bbe39f41ba9a971bcf",
    "AAAAAUABDAH//wQIAAADAJ2oAAADAAAeugJAAAAAAUIBAQQIAAADAJ2oAAADAAAeoGIITZbp"
    "KTK4BAAAD6AAAYagIAAAAAFEAcBxgYkSAAABKAGvWCz0qWbAdYv//6Xm77wVrO9jx+QS5BbT"
    "imuiyUNbIhLDvEYdoN9zCV/o/piaT+KQdDExnIkwAw1Wtr6OUpqvGmQ1t30wn1l1vhTqucJ8"
    "OVUUf9uQgwdI4hgSVHKufzxZpGLkUJqwTZzEaWYeW9bB3ZdwrEkYAs5KRXe5A3rgmeSKYest"
    "Ki4+WEPE+bgLcCKUwjUMak/JDRzkNM52/+qc3a5iwB6YeSfC6JKvGf3cIdO8d1plcBUJah/B"
    "dddcb3G1DmHBhAocOacOqJ3tVP44sExP35DsTh99h5mpWkj741mtwVF3PjG3CAWTwrZFsnYr"
    "9Ad1SJoFjgcj/wS60xfZ4FdhaqHDcOx0ZwHG87HLvdQAjyA5SLxMhQo+pBSEwiobEUyALbBk"
    "LSQb7TjKdIEzoFI6JQXHbPxADTWcxUWSyNbyj8zs7WaZ/lxIAOpkUtrAodXTh4RngdxGluZ1"
    "Z8ieCowNfUjIB8TpIHGSvpieo5EghjVTADMQXpAKq4iKAvwZzXs6hOFwLQOXQtOeVv/InIDJ"
    "7/Aqfn1UKgA5vvU85juChEPMYJQZgGx6hePbcOeP5oA/ek0eMMRbyz11vTYvyDJaH7hzNf7i"
    "zU6Jgl3NU8qUOjDjSY+3rL/tGzgSxXOySIv6OciQ7S69IeqL+oRTm+dUdUgC/FawSu3Z6kx6"
    "wCk0HzUNBwsJeRC7UMoTcg5Hn5Np7nqxwHWrVLfUj8y6joBqZLs2GmLGZAqZ3kNApdd8hXvo"
    "iw8tJXIF5rT72dXml8Taz8yNFnVUFLY/Ajvn3EVGn0zy2ZGfUuUirN+DpNruQHlDZlSim5//"
    "///aPfc9AztL9X4KL09Jd1tnJTwdQUw4vIfjpMaqo5iwDv9NxUM5CbU82G81zPh48A95KZAa"
    "HjcSP7Pu/LUTKeh65zTiHZrgHLoYdKCV6eAf3RgVqaWW9tkvLw0EnVFWcBLhhx8JWCLPWdYW"
    "SslV1lf6wZ+hBs5RU8hsBzSS2X6trBrztFxcWqGVHagSUElzBFAJUk4Z+GnHeaz0RKwQ6+/u"
    "gslxxaAkdF2wQL06zLaAfnxzpaySNZhW4eXhXNnWy8Muqq85J4UzEM7izXRjH3I17zAF/xC0"
    "JUgCLnCKdhGhN+1KFxBEzC2sFEbC9rQbqg5G1PyGE7iB/1O1PYuBfI98pkKoNIGIjPeGPGxz"
    "DTu7JGctGdtxJV7Hr1PbVHPCvsEM+45uLjEy37Ecp9bJUeF8olR6CmZiBpRKdu2MbLVmXHhE"
    "JORVbI58BUnyxzSjbOTN51oBhuKKx+tB1iOT303hk6B/T+DyG51cCYpdGPnOQMavsrKQ+wCe"
    "xJ6cRlVhQTThZPqOaCrodfT+dxXrM0k8RnDjeO0CKergRUz6N8ct1M/OPWEMy093+D55CeT/"
    "gaQeHN68ONHNJR5v86wET+/HLDuaItQPhANQRzy0/jFLl0Og7An7JrNM//QHLZSvZxCq2L04"
    "CNAmv5htStrGnrhhhK55fppNMV8L2LsILjE2zmSLaZqTmYdO2KhJC5+zl+luhnanrOno+lbz"
    "Pv2ESGEiVet3rk5jnjQIB1dwZ8flXPTrL1LekQjfJlCROX2kHV+rGOX6Aj2dpusIzbVTyAiI"
    "owsjFvjLXmzatcKUqGPKMblCvfrhGYFLzzmMcue7HJWszSJ+lKo/2glu82Etjb2fFHegNXG7"
    "yss4nrvGpx82GhGHmJQZq1XzDQYIPa6uEFb3EUquBqhuqzPbYElRhpJpRjxGpJ4zwR9bk6gH"
    "IZw9bK/YwdwPj9/v9CGA3PXirtEAOeRwR/SKTdfGmMUOMzrYmBuwhRIQzkmZUQbcPTeNU9MO"
    "FmNYhmxthXiw3/pLRC4pMZZI0ud2knrBig==")


def test_embedded_main10_golden():
    """x265-10bit-encoded stream (sao+deblock on) committed with the
    libde265-decoded plane MD5 — the Main10 external pin holds without
    the native libraries; planes are uint16-LE."""
    w, h, md5 = _GOLDEN_10BIT[0], _GOLDEN_10BIT[1], _GOLDEN_10BIT[2]
    stream = base64.b64decode("".join(_GOLDEN_10BIT[3:]))
    dw, dh, y, cb, cr = decode_hevc_iframe(stream)
    assert (dw, dh) == (w, h)
    assert len(y) == 2 * w * h
    assert hashlib.md5(y + cb + cr).hexdigest() == md5


# ---------------------------------------------------------------------------
# 3. table re-extraction


def _blob(path):
    with open(path, "rb") as fh:
        return fh.read()


@needs_de265
def test_context_init_tables_match_libx265_binary():
    blob = _blob(_X265_PATH)
    for name, (off, vals) in hevc._INIT_VALUES.items():
        assert blob[off : off + len(vals)] == bytes(vals), name
    assert blob[0xF14D60 : 0xF14D70] == bytes(hevc._SIG_CTX_MAP_4x4)


@needs_de265
def test_transform_matrices_match_both_binaries():
    x265 = _blob(_X265_PATH)
    de265 = _blob(_DE265_PATH)
    t32 = hevc._T32
    flat16 = b"".join(struct.pack("<h", int(v)) for v in t32.ravel())
    assert x265[0xF1AA80 : 0xF1AA80 + 2048] == flat16
    flat8 = bytes(int(v) & 0xFF for v in t32.ravel())
    assert de265[0x5A560 : 0x5A560 + 1024] == flat8
    dst8 = bytes(int(v) & 0xFF for v in hevc._DST4.ravel())
    assert de265[0x5A960 : 0x5A960 + 16] == dst8
    # nesting identity pins the derived 4/8/16 matrices to T32
    for log2 in (2, 3, 4):
        n = 1 << log2
        step = 32 // n
        assert (hevc._DCT_MATS[log2] == t32[::step, :n]).all()


@needs_de265
def test_deblock_tables_match_both_binaries():
    for path in (_DE265_PATH, _X265_PATH):
        blob = _blob(path)
        assert bytes(hevc._BETA_TABLE) in blob, path
        # leading-zero run length is not recoverable from the binaries
        # (previous .rodata object abuts); the VALUE run must match and
        # the alignment is pinned by the qp sweeps above
        nonzero = bytes(v for v in hevc._TC_TABLE if v)
        assert nonzero in blob, path


@needs_de265
def test_chroma_qp_map_matches_libx265_binary():
    blob = _blob(_X265_PATH)
    full = bytes(range(30)) + bytes(hevc._CHROMA_QP_MAP) + bytes(
        q - 6 for q in range(44, 52))
    assert full in blob
    assert [hevc._chroma_qp(q, 0) for q in (29, 30, 43, 44, 51)] == \
        [29, 29, 37, 38, 45]


def test_cabac_engine_tables_shared_with_h264():
    from data_lake_skyfit_spark.llm import h264_cabac
    assert hevc._RANGE_LPS is h264_cabac._RANGE_LPS
    assert hevc._TRANS_LPS is h264_cabac._TRANS_LPS


# ---------------------------------------------------------------------------
# 4. malformed input / envelope


def _valid_stream():
    y = np.full((32, 32), 128, np.uint8)
    c = np.full((16, 16), 64, np.uint8)
    return encode_hevc_iframe_bypass(32, 32, y.tobytes(), c.tobytes(),
                                     c.tobytes())


def test_rejects_truncations():
    stream = _valid_stream()
    for cut in (4, 9, len(stream) // 2, len(stream) - 3):
        with pytest.raises(ValueError):
            decode_hevc_iframe(stream[:cut])


def test_bit_flip_fuzz_never_hangs_or_leaks_foreign_errors():
    stream = bytearray(_valid_stream())
    rng = np.random.default_rng(0)
    for _ in range(250):
        pos = int(rng.integers(6, len(stream)))
        bit = 1 << int(rng.integers(8))
        stream[pos] ^= bit
        try:
            decode_hevc_intra_stream(bytes(stream), max_frames=2)
        except ValueError:
            pass  # the only permitted failure mode
        finally:
            stream[pos] ^= bit


def test_rejects_implausible_dimensions_before_allocating():
    # SPS declaring a picture far beyond _MAX_HEVC_PIXELS must raise in
    # the parse, not allocate
    big = hevc._fixture_sps(1 << 15, 1 << 15)
    nal = hevc._hevc_nal(33, big) + hevc._hevc_nal(34, hevc._fixture_pps())
    with pytest.raises(ValueError):
        decode_hevc_intra_stream(nal + b"\x00\x00\x00\x01\x26\x01\xff")


def test_rejects_inter_slices_and_junk():
    with pytest.raises(ValueError):
        decode_hevc_intra_stream(b"\x00\x00\x00\x01\x02\x01" + b"\xaa" * 40)
    with pytest.raises(ValueError):
        decode_hevc_intra_stream(b"not hevc at all")
    with pytest.raises(ValueError):
        decode_hevc_iframe(b"")


def test_fixture_encoder_input_validation():
    with pytest.raises(ValueError):
        encode_hevc_iframe_bypass(20, 32, b"", b"", b"")
    with pytest.raises(ValueError):
        encode_hevc_iframe_bypass(32, 32, b"\x00" * 10, b"", b"")


_X265_10 = libx265_oracle.load(10)
needs_refs10 = pytest.mark.skipif(
    _DE265 is None or _X265_10 is None, reason="10-bit references absent")


def _planes10(seed: int, w: int, h: int):
    rng = np.random.default_rng(seed)
    y = rng.integers(0, 1024, (h, w)).astype("<u2")
    cb = rng.integers(0, 1024, (h // 2, w // 2)).astype("<u2")
    cr = rng.integers(0, 1024, (h // 2, w // 2)).astype("<u2")
    return y, cb, cr


@needs_refs10
@pytest.mark.parametrize("opts,label", [
    ({"keyint": "1", "sao": "0", "deblock": "0", "bframes": "0",
      "aq-mode": "0", "lossless": "1"}, "lossless"),
    ({"keyint": "1", "sao": "0", "deblock": "0", "bframes": "0",
      "aq-mode": "0", "qp": "30"}, "qp30"),
    ({"keyint": "1", "sao": "0", "deblock": "0", "bframes": "0",
      "aq-mode": "0", "qp": "12"}, "qp12"),
    ({"keyint": "1", "bframes": "0", "aq-mode": "0", "qp": "32",
      "sao": "1", "deblock": "1"}, "deblock+sao"),
    ({"keyint": "1", "bframes": "0", "preset": "medium", "crf": "26"},
     "medium-defaults"),
], ids=lambda v: v if isinstance(v, str) else "")
def test_main10_bit_exact(opts, label):
    """Main10 (10-bit) — the dominant modern HEVC profile; planes are
    uint16-LE, arbitrated bit-exactly by libde265 on 10-bit libx265
    streams (the x265_10bit namespaced build bound by mangled name)."""
    w, h = (128, 96) if "crf" in opts else (96, 64)
    y, cb, cr = _planes10(len(label), w, h)
    stream = _X265_10.encode(w, h, [(y.tobytes(), cb.tobytes(), cr.tobytes())],
                             opts)
    ref = _DE265.decode(stream)
    mine = decode_hevc_intra_stream(stream)
    assert len(mine) == len(ref)
    for m, r in zip(mine, ref):
        assert m == r
    assert len(mine[0][2]) == 2 * w * h  # uint16 planes


_X265_12 = libx265_oracle.load(12)
needs_refs12 = pytest.mark.skipif(
    _DE265 is None or _X265_12 is None, reason="12-bit references absent")


@needs_refs12
@pytest.mark.parametrize("opts,label", [
    ({"keyint": "1", "bframes": "0", "aq-mode": "0", "sao": "0",
      "deblock": "0", "wpp": "0", "lossless": "1"}, "lossless"),
    ({"keyint": "1", "bframes": "0", "aq-mode": "0", "sao": "0",
      "deblock": "0", "wpp": "0", "qp": "30"}, "qp30"),
    ({"keyint": "1", "bframes": "0", "aq-mode": "0", "qp": "34",
      "sao": "1", "deblock": "1", "wpp": "0"}, "sao+deblock"),
], ids=lambda v: v if isinstance(v, str) else "")
def test_main12_bit_exact(opts, label):
    """Main12 — exercises the §7.4.9.3 SAO offset scaling (<< bd-10)
    that is a no-op at 8/10 bits."""
    rng = np.random.default_rng(len(label))
    y = rng.integers(0, 4096, (64, 96)).astype("<u2")
    cb = rng.integers(0, 4096, (32, 48)).astype("<u2")
    cr = rng.integers(0, 4096, (32, 48)).astype("<u2")
    stream = _X265_12.encode(96, 64, [(y.tobytes(), cb.tobytes(),
                                       cr.tobytes())], opts)
    ref = _DE265.decode(stream)
    mine = decode_hevc_intra_stream(stream)
    assert len(mine) == len(ref)
    for m, r in zip(mine, ref):
        assert m == r


@needs_refs10
def test_main10_lossless_reproduces_input():
    y, cb, cr = _planes10(9, 64, 64)
    stream = _X265_10.encode(64, 64, [(y.tobytes(), cb.tobytes(), cr.tobytes())],
                             {"keyint": "1", "sao": "0", "deblock": "0",
                              "bframes": "0", "aq-mode": "0", "lossless": "1"})
    w, h, dy, dcb, dcr = decode_hevc_iframe(stream)
    assert (w, h) == (64, 64)
    assert dy == y.tobytes() and dcb == cb.tobytes() and dcr == cr.tobytes()


@needs_refs
@pytest.mark.parametrize("opts,label", [
    (dict(_BASE, qp="30", wpp="1"), "plain"),
    (dict(_BASE, lossless="1", wpp="1"), "lossless"),
    ({"keyint": "1", "bframes": "0", "aq-mode": "0", "qp": "30",
      "sao": "1", "deblock": "1", "wpp": "1"}, "sao+deblock"),
    ({"keyint": "1", "bframes": "0", "preset": "medium", "crf": "26",
      "wpp": "1"}, "true-default-medium"),
    (dict(_BASE, qp="27", wpp="1", ctu="16"), "ctu16-many-rows"),
], ids=lambda v: v if isinstance(v, str) else "")
def test_wavefront_streams_bit_exact(opts, label):
    """WPP (entropy_coding_sync) — x265's DEFAULT entropy mode: one
    substream per CTB row via entry point offsets, contexts synced
    from the state after the second CTU of the row above."""
    w, h = (128, 128) if ("crf" in opts or "sao" in opts) else (96, 96)
    stream = _encode(w, h, [_planes(len(label), w, h)], opts)
    _assert_matches_reference(stream)


@needs_refs
@pytest.mark.parametrize("opts,label", [
    (dict(_BASE, qp="30", wpp="1", slices="2"), "slices2"),
    (dict(_BASE, qp="27", wpp="1", slices="3"), "slices3"),
    (dict(_BASE, lossless="1", wpp="1", slices="2"), "slices2-lossless"),
    ({"keyint": "1", "bframes": "0", "aq-mode": "0", "qp": "30",
      "sao": "1", "deblock": "1", "wpp": "1", "slices": "2"},
     "slices2-sao-deblock"),
    (dict(_BASE, qp="27", wpp="1", slices="4", ctu="16"), "slices4-ctu16"),
], ids=lambda v: v if isinstance(v, str) else "")
def test_multi_slice_streams_bit_exact(opts, label):
    """Multiple independent slice segments (x265 layers them on the
    wavefront scheduler): slice-scoped intra/MPM/ctx availability,
    per-slice QP chains, per-edge deblock params with the
    cross-slice-filtering flag, and SAO's slice-boundary sample
    gating."""
    w, h = (128, 128) if ("sao" in opts or opts.get("slices") == "3") else (96, 96)
    stream = _encode(w, h, [_planes(len(label), w, h)], opts)
    _assert_matches_reference(stream)


@needs_refs
def test_multi_slice_default_preset_bit_exact():
    # medium preset (ctu 64) needs a geometry giving every slice real
    # rows — x265 emits a DATALESS second slice on tiny pictures (row 1
    # never coded; even libde265 just leaves it zero), which this
    # decoder rejects rather than conceals
    stream = _encode(256, 256, [_planes(31, 256, 256)],
                     {"keyint": "1", "bframes": "0", "preset": "medium",
                      "crf": "26", "wpp": "1", "slices": "2"})
    _assert_matches_reference(stream)


@needs_refs
@pytest.mark.parametrize("opts,label", [
    (dict(_BASE, qp="27", **{"scaling-list": "default"}), "qp27"),
    (dict(_BASE, qp="35", **{"scaling-list": "default"}), "qp35"),
    ({"keyint": "1", "bframes": "0", "preset": "medium", "crf": "26",
      "scaling-list": "default", "wpp": "1"}, "medium-full"),
    ({"keyint": "1", "bframes": "0", "preset": "medium", "qp": "30",
      "tskip": "1", "sao": "0", "deblock": "0", "aq-mode": "0",
      "scaling-list": "default"}, "with-transform-skip"),
], ids=lambda v: v if isinstance(v, str) else "")
def test_scaling_lists_bit_exact(opts, label):
    """Quantization scaling lists (x265 --scaling-list default): the
    Table 7-5/7-6 default matrices drive §8.6.3 dequant (8x8 base
    lists upsampled 2x/4x with the DC override; transform-skip blocks
    stay flat)."""
    w, h = (128, 128) if "crf" in opts else (96, 64)
    stream = _encode(w, h, [_planes(len(label), w, h)], opts)
    for nal in hevc._split_nals(stream):
        if ((nal[0] >> 1) & 63) == 33:
            assert hevc._parse_sps(
                hevc._strip_emulation(nal[2:]))["scaling"] is not None
    _assert_matches_reference(stream)


@needs_de265
def test_default_scaling_lists_match_both_binaries():
    import numpy as _np

    x265 = _blob(_X265_PATH)
    de265 = _blob(_DE265_PATH)
    intra = struct.unpack_from("<64i", x265, 0xFA0A60)
    inter = struct.unpack_from("<64i", x265, 0xFA0960)
    assert tuple(intra) == hevc._DEF_8X8_INTRA
    assert tuple(inter) == hevc._DEF_8X8_INTER
    # libde265 stores the same lists in up-right-diagonal order as u8
    order = hevc._scan_order(3, 0)
    diag_intra = bytes(hevc._DEF_8X8_INTRA[y * 8 + x] for x, y in order)
    diag_inter = bytes(hevc._DEF_8X8_INTER[y * 8 + x] for x, y in order)
    assert de265[0x6E060 : 0x6E060 + 64] == diag_intra
    assert de265[0x6E020 : 0x6E020 + 64] == diag_inter
    # upsampling sanity: the 16x16 factor matrix replicates 2x2 with DC 16
    f = hevc._scaling_factors(None)[(4, 0)]
    assert f.shape == (16, 16) and f[0, 0] == 16
    assert (_np.repeat(_np.repeat(
        hevc._scaling_factors(None)[(3, 0)], 2, 0), 2, 1)[1:, 1:]
        == f[1:, 1:]).all()


@needs_refs
def test_wavefront_one_column_fresh_init():
    # one CTB per row: no sync storage happens, every row re-inits
    stream = _encode(32, 96, [_planes(7, 32, 96)],
                     dict(_BASE, qp="27", wpp="1", ctu="32"))
    _assert_matches_reference(stream)


@needs_refs
@pytest.mark.parametrize("opts,label", [
    (dict(_BASE, lossless="1", wpp="0"), "lossless"),
    (dict(_BASE, qp="30", wpp="0"), "qp30"),
    ({"keyint": "1", "bframes": "0", "aq-mode": "0", "qp": "32",
      "sao": "1", "deblock": "1", "wpp": "0"}, "sao+deblock"),
    (dict(_BASE, qp="27", wpp="1"), "wavefront"),
], ids=lambda v: v if isinstance(v, str) else "")
def test_monochrome_streams_bit_exact(opts, label):
    """4:0:0 (gray / alpha-auxiliary format): all chroma syntax absent,
    SubWidthC/SubHeightC = 1 cropping, empty chroma planes."""
    rng = np.random.default_rng(len(label))
    y = rng.integers(0, 256, (64, 96), dtype=np.uint8)
    stream = _X265.encode(96, 64, [(y.tobytes(), b"", b"")],
                          dict(opts, **{"input-csp": "i400"}))
    ref = _DE265.decode(stream)
    mine = decode_hevc_intra_stream(stream)
    assert len(mine) == len(ref)
    for m, r in zip(mine, ref):
        assert m == r
    assert mine[0][3] == b"" and mine[0][4] == b""


@needs_refs
def test_sao_streams_with_lossless_cus_skip_sao_on_bypass_samples():
    y, cb, cr = _planes(9, 64, 64)
    stream = _encode(64, 64, [(y, cb, cr)],
                     {"keyint": "1", "deblock": "0", "bframes": "0",
                      "sao": "1", "lossless": "1", "aq-mode": "0"})
    _assert_matches_reference(stream)


# ---------------------------------------------------------------------------
# r8: tiles + dependent slice segments (VERDICT r7 #6).  x265 cannot
# emit either (x265_param_parse rejects "tiles"/"dependent-slices" —
# probed, r7d rule), so the DECODE-side arbitration carries the
# cross-pin: the fixture encoder's streams must decode bit-identically
# through libde265 AND reproduce the lossless input exactly.  The pin
# already caught one real wire bug (the PPS coded the tile geometry
# before entropy_coding_sync_enabled_flag; the self round-trip was
# green both ways).


def _tile_fixture(seed, w, h):
    rng = np.random.default_rng(seed)
    y = ((rng.integers(0, 256, (h, w))
          + np.add.outer(np.arange(h), np.arange(w)) * 3) % 256
         ).astype(np.uint8)
    cb = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
    cr = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
    return y, cb, cr


@needs_de265
@pytest.mark.parametrize("w,h,nc,nr", [
    (96, 64, 2, 2),
    (128, 48, 4, 3),
    (80, 64, 3, 2),   # 5 CTU cols / 3 tiles: UNEVEN §6.5.1 widths (1,2,2)
    (64, 96, 1, 4),
])
@pytest.mark.parametrize("lf", [True, False])
def test_tiled_streams_bit_exact_vs_libde265(w, h, nc, nr, lf):
    y, cb, cr = _tile_fixture(nc * 7 + nr, w, h)
    stream = hevc_fx.encode_hevc_iframe_bypass_tiled(
        w, h, y.tobytes(), cb.tobytes(), cr.tobytes(), nc, nr, lf)
    ref = _DE265.decode(stream)
    mine = decode_hevc_intra_stream(stream)
    assert len(mine) == len(ref) == 1
    assert mine[0] == ref[0]
    # lossless contract: the decoded planes ARE the input
    assert mine[0][2] == y.tobytes()
    assert mine[0][3] == cb.tobytes() and mine[0][4] == cr.tobytes()


@needs_de265
@pytest.mark.parametrize("w,h,rows", [
    (64, 64, [2, 1, 1]),
    (96, 48, [1, 2]),
    (48, 96, [3, 2, 1]),
])
def test_dependent_slice_segments_bit_exact_vs_libde265(w, h, rows):
    y, cb, cr = _tile_fixture(sum(rows), w, h)
    stream = hevc_fx.encode_hevc_iframe_bypass_depslices(
        w, h, y.tobytes(), cb.tobytes(), cr.tobytes(), rows)
    ref = _DE265.decode(stream)
    mine = decode_hevc_intra_stream(stream)
    assert mine[0] == ref[0]
    assert mine[0][2] == y.tobytes()


def test_tile_prediction_is_tile_scoped():
    """A 2x1 tile grid must NOT DC-predict across the tile boundary:
    re-encoding the same planes with and without tiles yields
    different wires, and both decode losslessly (the right tile's
    first CTU predicts from the 128 substitution, not its left
    neighbour)."""
    y, cb, cr = _tile_fixture(5, 64, 32)
    tiled = hevc_fx.encode_hevc_iframe_bypass_tiled(
        64, 32, y.tobytes(), cb.tobytes(), cr.tobytes(), 2, 1, True)
    plain = encode_hevc_iframe_bypass(
        64, 32, y.tobytes(), cb.tobytes(), cr.tobytes())
    assert tiled != plain
    for s in (tiled, plain):
        got = decode_hevc_iframe(s)
        assert got[2] == y.tobytes()


def test_x265_still_rejects_tiles_and_dependent_slices():
    """Pin the environment claim the decode-side arbitration rests on:
    the in-container x265 has no tiles / dependent-slices params (if a
    future image gains them, this fails and the ENCODE-side cross-pin
    should be added)."""
    if _X265 is None:
        pytest.skip("libx265 absent")
    import ctypes
    lib = _X265._lib
    param = lib.x265_param_alloc()
    try:
        lib.x265_param_default_preset(param, b"ultrafast", None)
        for key in (b"tiles", b"tile-columns", b"dependent-slices"):
            assert lib.x265_param_parse(param, key, b"2") != 0
    finally:
        lib.x265_param_free(param)


# ---------------------------------------------------------------------------
# r8: P-slice inter tier (VERDICT r7 #4) — the same bit-exact posture
# as the intra tier: libx265 encodes real low-delay P GOPs, libde265
# arbitrates every decode.  Envelope: single same-POC reference
# (--ref 1), 2Nx2N inter PUs (rect/amp off), no TMVP / weighted pred /
# list modification — everything outside it REJECTS (tested below).
# The inter context-init rows and interpolation filters are
# binary-extracted (hevc.py table comments); the sweep arbitrates the
# gap attribution functionally.

_P_BASE = {"keyint": "250", "min-keyint": "250", "scenecut": "0",
           "bframes": "0", "ref": "1", "temporal-mvp": "0",
           "weightp": "0", "aq-mode": "0"}


def _motion_frames(seed, w, h, n):
    rng = np.random.default_rng(seed)
    y0 = ((rng.integers(0, 256, (h, w))
           + np.add.outer(np.arange(h), np.arange(w)) * 3) % 256
          ).astype(np.uint8)
    cb0 = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
    cr0 = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
    out = []
    for i in range(n):
        out.append((np.roll(y0, 3 * i, axis=1),
                    np.roll(cb0, (3 * i) // 2, axis=1),
                    np.roll(cr0, (3 * i) // 2, axis=1)))
    return out


def _p_assert_bit_exact(w, h, frames, opts):
    stream = _encode(w, h, frames, opts)
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=len(frames) + 2)
    assert len(mine) == len(ref) == len(frames)
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"


@needs_refs
@pytest.mark.parametrize("opts,label", [
    (dict(_P_BASE, qp="30", sao="0", deblock="0"), "plain"),
    (dict(_P_BASE, qp="30", sao="0", deblock="1"), "deblock"),
    (dict(_P_BASE, qp="32", sao="1", deblock="1"), "sao"),
    (dict(_P_BASE, qp="12", sao="0", deblock="0"), "qp12"),
    (dict(_P_BASE, qp="45", sao="1", deblock="1"), "qp45"),
    (dict(_P_BASE, qp="30", sao="0", deblock="1", ctu="32"), "ctu32"),
    (dict(_P_BASE, qp="30", sao="0", deblock="1", ctu="16"), "ctu16"),
    (dict(_P_BASE, qp="27", sao="0", deblock="1",
          **{"min-cu-size": "8"}), "mincu8"),
    (dict(_P_BASE, qp="30", sao="0", deblock="0",
          **{"tu-inter-depth": "2"}), "tu-depth2"),
    (dict(_P_BASE, sao="0", deblock="1", crf="26",
          **{"aq-mode": "2"}), "cu-qp-delta"),
    (dict(_P_BASE, qp="30", sao="1", deblock="1", preset="medium"),
     "preset-medium"),
], ids=lambda v: v if isinstance(v, str) else "")
def test_x265_p_gop_bit_exact(opts, label):
    w, h = (128, 96) if "crf" in opts else (96, 64)
    _p_assert_bit_exact(w, h, _motion_frames(len(label), w, h, 4), opts)


@needs_refs
def test_x265_p_gop_long_run_and_odd_dims():
    _p_assert_bit_exact(100, 52, _motion_frames(9, 100, 52, 8),
                        dict(_P_BASE, qp="33", sao="1", deblock="1"))


@needs_refs
def test_x265_p_vertical_and_still_motion():
    # vertical roll (vertical MVs + fractional ME phases) and a fully
    # static tail (all-skip path)
    rng = np.random.default_rng(3)
    w, h = 64, 64
    y0 = ((rng.integers(0, 256, (h, w))
           + np.add.outer(np.arange(h), np.arange(w)) * 5) % 256
          ).astype(np.uint8)
    cb0 = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
    cr0 = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
    frames = [(y0, cb0, cr0),
              (np.roll(y0, 5, axis=0), np.roll(cb0, 2, axis=0),
               np.roll(cr0, 2, axis=0))]
    frames.append(frames[-1])  # static → skip-heavy P
    frames.append(frames[-1])
    _p_assert_bit_exact(w, h, frames, dict(_P_BASE, qp="30", sao="0",
                                           deblock="1"))


@needs_refs
def test_inter_envelope_rejections():
    """Streams outside the inter envelope REJECT (never mis-decode).
    TMVP, weighted prediction and every x265-expressible reference
    count moved INTO the envelope late r8, so the remaining guard is
    pinned on a hand-crafted header whose active reference count
    exceeds the §7.4.7.1 maximum of 15."""
    from data_lake_skyfit_spark.llm.hevc import (
        _BitWriter, _CabacEnc, _ctx_states, _CTX_OFF, _hevc_nal,
        encode_hevc_iframe_dc)
    idr = hevc.encode_hevc_iframe_dc(48, 32, 30, 10)
    bw = _BitWriter()
    bw.u(1, 1)                      # first_slice_segment_in_pic
    bw.ue(0)                        # pps id
    bw.ue(1)                        # slice_type P
    bw.u(8, 1)                      # poc_lsb
    bw.u(1, 0)
    bw.ue(1); bw.ue(0)
    bw.ue(0); bw.u(1, 1)
    bw.u(1, 1)                      # num_ref_idx_active_override
    bw.ue(15)                       # num_ref_idx_l0_active_minus1 = 15!
    bw.ue(4)
    bw.se(0)
    bw.u(1, 1)
    bw.align_zero()
    enc = _CabacEnc(bw, 30)
    enc.state = _ctx_states(30, 1)
    enc.enc(_CTX_OFF["cu_skip"], 1)
    enc.terminate_enc(1)
    bw.align_zero()
    stream = idr + _hevc_nal(1, bw.done())
    with pytest.raises(ValueError, match="reference count"):
        hevc.decode_hevc_stream(stream, max_frames=4)


@needs_refs
def test_intra_stream_api_still_rejects_inter():
    w, h = 64, 64
    stream = _encode(w, h, _motion_frames(7, w, h, 2),
                     dict(_P_BASE, qp="30", sao="0", deblock="0"))
    with pytest.raises(ValueError, match="inter"):
        decode_hevc_intra_stream(stream)


@needs_de265
def test_interpolation_filters_match_libx265_binary():
    """r8: the §8.5.4.2.2 fractional filters — 4x8 int16 luma rows
    (incl. the integer phase) @0xf22a80, 8x4 int16 chroma rows
    @0xf22ac0 — re-extract byte-for-byte; nothing is transcribed."""
    blob = _blob(_X265_PATH)
    luma = b"".join(struct.pack("<8h", *row) for row in hevc._LUMA_FILTER)
    assert blob[0xF22A80 : 0xF22A80 + 64] == luma
    chroma = b"".join(struct.pack("<4h", *row) for row in hevc._CHROMA_FILTER)
    assert blob[0xF22AC0 : 0xF22AC0 + 64] == chroma
    # structural invariants: each phase sums to the 64 gain
    for row in hevc._LUMA_FILTER + hevc._CHROMA_FILTER:
        assert sum(row) == 64


@needs_refs
def test_x265_p_gop_wpp_and_multislice_bit_exact():
    """P pictures compose with the r7d partitioning machinery: WPP
    (per-row context sync over inter syntax) and row-aligned multi-
    slice pictures (slice-scoped merge/AMVP availability), both
    arbitrated bit-exactly."""
    w, h = 96, 128
    frames = _motion_frames(4, w, h, 4)
    for opts in (dict(_P_BASE, qp="30", sao="1", deblock="1", wpp="1"),
                 dict(_P_BASE, qp="30", sao="0", deblock="1",
                      slices="2", wpp="1")):
        _p_assert_bit_exact(w, h, frames, opts)


# ---------------------------------------------------------------------------
# r8: B-slice tier — bi-prediction with the same bit-exact posture.
# Envelope: one active reference per list (x265 --ref 1 --bframes 1,
# the IBPBP low-delay-plus-one shape), spatial+combined merge
# candidates, AMVP with §8.5.3.2.8 POC scaling, 14-bit bi averaging,
# mvd_l1_zero, the §8.7.2.4 two-motion bS pairings, POC-order output.

_B_BASE = dict(_P_BASE, **{"weightb": "0", "b-adapt": "0",
                           "bframes": "1"})


@needs_refs
@pytest.mark.parametrize("opts,label", [
    (dict(_B_BASE, qp="30", sao="0", deblock="0"), "plain"),
    (dict(_B_BASE, qp="30", sao="0", deblock="1"), "deblock"),
    (dict(_B_BASE, qp="33", sao="1", deblock="1"), "sao"),
    (dict(_B_BASE, qp="12", sao="0", deblock="0"), "qp12"),
    (dict(_B_BASE, qp="45", sao="1", deblock="1"), "qp45"),
    (dict(_B_BASE, qp="30", sao="0", deblock="1", ctu="16"), "ctu16"),
    (dict(_B_BASE, qp="27", sao="0", deblock="1",
          **{"min-cu-size": "8"}), "mincu8"),
    (dict(_B_BASE, qp="30", sao="1", deblock="1", wpp="1"), "wpp"),
    (dict(_B_BASE, sao="0", deblock="1", crf="26",
          **{"aq-mode": "2"}), "cu-qp-delta"),
], ids=lambda v: v if isinstance(v, str) else "")
def test_x265_b_gop_bit_exact(opts, label):
    w, h = (128, 96) if "crf" in opts else (96, 64)
    stream = _encode(w, h, _motion_frames(len(label), w, h, 6), opts)
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=10)
    assert len(mine) == len(ref) == 6
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"


@needs_refs
def test_x265_b_gop_odd_dims_long_run():
    stream = _encode(100, 52, _motion_frames(9, 100, 52, 9),
                     dict(_B_BASE, qp="31", sao="1", deblock="1"))
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=12)
    assert len(mine) == len(ref) == 9
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"


@needs_refs
@pytest.mark.parametrize("opts,label", [
    (dict(_P_BASE, qp="30", bframes="0", ref="2", sao="0",
          deblock="1"), "P-ref2"),
    (dict(_P_BASE, qp="30", bframes="0", ref="3", sao="1",
          deblock="1"), "P-ref3"),
    (dict(_B_BASE, qp="30", bframes="2", ref="1", sao="0", deblock="0",
          **{"b-pyramid": "0"}), "B2-flat"),
    (dict(_B_BASE, qp="33", bframes="2", ref="2", sao="1", deblock="1",
          **{"b-pyramid": "0"}), "B2-ref2"),
    (dict(_B_BASE, qp="27", bframes="3", ref="2", sao="0", deblock="1",
          **{"b-pyramid": "0"}), "B3-ref2"),
], ids=lambda v: v if isinstance(v, str) else "")
def test_x265_multiref_gops_bit_exact(opts, label):
    """r8 late: multiple active references per list — per-cell refIdx
    grids feed ref_idx decode, merge/AMVP targets, MC ref selection
    and the bS picture comparison."""
    n = 8 if "3" in label else 7
    stream = _encode(96, 64, _motion_frames(len(label), 96, 64, n), opts)
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=16)
    assert len(mine) == len(ref) == n
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"


@needs_refs
def test_x265_bpyramid_prefix_exact():
    """x265's default B-pyramid (reference Bs): libde265 itself
    withholds the final picture of such streams (it outputs n-1
    pictures for an n-frame encode — the reference's own output is
    deficient, the r7d self-consistency lesson), so the pin is
    PREFIX equality: every picture libde265 does output must match
    bit-exactly, and this decoder outputs all n."""
    n = 7
    stream = _encode(96, 64, _motion_frames(4, 96, 64, n),
                     dict(_B_BASE, qp="30", bframes="2", ref="1",
                          sao="0", deblock="0"))
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=16)
    assert len(mine) == n
    assert len(ref) == n - 1
    for i, r in enumerate(ref):
        assert mine[i] == r, f"frame {i}"


@needs_de265
@pytest.mark.parametrize("qp,c0,c2", [(26, 40, 9), (37, 20, 6),
                                      (12, 5, -3)])
def test_ibp_gop_fixture_bit_exact_vs_libde265(qp, c0, c2):
    """The graded IBP fixture (IRAP DC, skip-P, residual-P, all-skip
    B between the anchors) arbitrated by libde265 — including the
    POC-reorder output path.  The pin caught two real issues while
    landing: a reorder-incapable SPS made conforming decoders DROP
    the late B, and libde265 honours the VPS ordering info too."""
    stream = hevc.encode_hevc_gop_ibp_dc(48, 32, qp, c0, c2)
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream)
    assert len(mine) == len(ref) == 4
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"
    v0 = hevc.hevc_dc_expected(c0, qp)
    v2 = max(0, min(255, v0 + hevc.hevc_dc_delta(c2, qp)))
    assert set(mine[2][2]) == {(v0 + v2 + 1) >> 1}  # the B bi-average


# ---------------------------------------------------------------------------
# r8 late: TMVP — collocated temporal motion candidates (§8.5.3.2.9)
# from per-reference-picture motion snapshots (16x16 compression
# granularity, bottom-right-then-center selection, the no-backward /
# crossing list rule, POC-distance scaling).  x265 enables TMVP by
# default, so this closes the biggest real-file gap in the envelope.

_T_BASE = dict(_P_BASE, **{"temporal-mvp": "1"})


@needs_refs
@pytest.mark.parametrize("opts,label", [
    (dict(_T_BASE, qp="30", bframes="0", ref="1", sao="0",
          deblock="1"), "P-tmvp"),
    (dict(_T_BASE, qp="30", bframes="0", ref="2", sao="1",
          deblock="1"), "P-tmvp-ref2"),
    (dict(_T_BASE, qp="30", bframes="1", ref="1", sao="0", deblock="1",
          **{"weightb": "0", "b-adapt": "0"}), "B1-tmvp"),
    (dict(_T_BASE, qp="33", bframes="2", ref="2", sao="1", deblock="1",
          **{"weightb": "0", "b-adapt": "0", "b-pyramid": "0"}),
     "B2-tmvp-ref2"),
    (dict(_T_BASE, qp="12", bframes="2", ref="2", sao="0", deblock="0",
          **{"weightb": "0", "b-adapt": "0", "b-pyramid": "0"}),
     "B2-tmvp-qp12"),
], ids=lambda v: v if isinstance(v, str) else "")
def test_x265_tmvp_gops_bit_exact(opts, label):
    n = 8 if "2" in label else 6
    stream = _encode(96, 64, _motion_frames(len(label), 96, 64, n), opts)
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=16)
    assert len(mine) == len(ref) == n
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"


@needs_refs
def test_x265_near_default_config_bit_exact():
    """A near-default x265 medium/crf configuration (TMVP on,
    bframes 2, ref 2) — only weightp/weightb and the b-pyramid
    output quirk are held off the true defaults."""
    opts = {"keyint": "250", "min-keyint": "250", "scenecut": "0",
            "crf": "26", "bframes": "2", "ref": "2", "b-adapt": "0",
            "b-pyramid": "0", "weightp": "0", "weightb": "0",
            "preset": "medium"}
    stream = _encode(96, 64, _motion_frames(11, 96, 64, 8), opts)
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=16)
    assert len(mine) == len(ref) == 8
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"


# ---------------------------------------------------------------------------
# r8 late: explicit weighted prediction (§8.5.4.2.3.3) — x265 writes
# non-identity weight tables on fades, so the fixtures fade.

def _fade_frames(seed, w, h, n):
    rng = np.random.default_rng(seed)
    y0 = ((rng.integers(0, 256, (h, w))
           + np.add.outer(np.arange(h), np.arange(w)) * 3) % 256
          ).astype(np.uint8)
    cb0 = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
    cr0 = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
    out = []
    for i in range(n):
        g = 1.0 - 0.07 * i
        out.append(tuple(
            np.clip(np.roll(pl, (3 if k == 0 else 1) * i, 1)
                    .astype(np.float64) * g, 0, 255).astype(np.uint8)
            for k, pl in enumerate((y0, cb0, cr0))))
    return out


@needs_refs
@pytest.mark.parametrize("opts,label", [
    (dict(_T_BASE, qp="30", bframes="0", ref="1", sao="0", deblock="1",
          weightp="1"), "P-weightp"),
    (dict(_T_BASE, qp="30", bframes="0", ref="2", sao="1", deblock="1",
          weightp="1"), "P-weightp-ref2"),
    (dict(_T_BASE, qp="30", bframes="2", ref="2", sao="1", deblock="1",
          weightp="1", weightb="1",
          **{"b-adapt": "0", "b-pyramid": "0"}), "B-weightb"),
], ids=lambda v: v if isinstance(v, str) else "")
def test_x265_weighted_prediction_bit_exact(opts, label):
    n = 8 if "2" in label else 6
    stream = _encode(96, 64, _fade_frames(len(label), 96, 64, n), opts)
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=16)
    assert len(mine) == len(ref) == n
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"


@needs_refs
@pytest.mark.parametrize(
    "preset", ["ultrafast", "medium", "slow", "veryslow"])
def test_x265_pure_defaults_prefix_exact(preset):
    """x265 with NOTHING but a preset and crf — TMVP, weighted
    prediction, bframes 4+, ref 3-5, b-pyramid, rect (slow+) and
    AMP (veryslow: real nLx2N/nRx2N emissions), all defaults.  This
    decoder outputs every picture; libde265 withholds the final
    picture of b-pyramid streams (the documented quirk), so the pin
    is prefix equality over everything it does output."""
    n = 10
    stream = _encode(96, 64, _fade_frames(3, 96, 64, n),
                     {"preset": preset, "crf": "26"})
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=20)
    assert len(mine) == n
    assert len(ref) >= n - 1
    for i, r in enumerate(ref):
        assert mine[i] == r, f"frame {i}"


# ---------------------------------------------------------------------------
# r8 late: rectangular + asymmetric inter partitions (§9.3.3.7 part_mode,
# per-PU §7.3.8.6 motion).  The recorder asserts the stream really carried
# non-2Nx2N partitions — a leg whose fixture collapses to 2Nx2N must fail,
# not silently pass (round-7c lesson).


class _PartRecorder:
    def __init__(self):
        self.modes = []
        self._orig = hevc._PicDecoder._part_mode_inter

    def __enter__(self):
        rec = self

        def wrapped(dec, log2):
            m = rec._orig(dec, log2)
            rec.modes.append((m, log2))
            return m

        hevc._PicDecoder._part_mode_inter = wrapped
        return self

    def __exit__(self, *exc):
        hevc._PicDecoder._part_mode_inter = self._orig


def _shear_frames(seed, w, h, n):
    """Top half pans right, bottom half scrolls down: motion-field
    discontinuities that reward rectangular partitions."""
    rng = np.random.default_rng(seed)
    y0 = ((rng.integers(0, 256, (h, w))
           + np.add.outer(np.arange(h), np.arange(w)) * 3) % 256
          ).astype(np.uint8)
    cb0 = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
    cr0 = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
    out = []
    for i in range(n):
        y = y0.copy()
        y[: h // 2] = np.roll(y0[: h // 2], 5 * i, axis=1)
        y[h // 2 :] = np.roll(y0[h // 2 :], -3 * i, axis=0)
        cb = cb0.copy()
        cb[: h // 4] = np.roll(cb0[: h // 4], (5 * i) // 2, axis=1)
        cr = cr0.copy()
        cr[: h // 4] = np.roll(cr0[: h // 4], (5 * i) // 2, axis=1)
        out.append((y, cb, cr))
    return out


def _band_frames(seed, w, h, n, band=4):
    rng = np.random.default_rng(seed)
    y0 = ((rng.integers(0, 256, (h, w))
           + np.add.outer(np.arange(h), np.arange(w)) * 7) % 256
          ).astype(np.uint8)
    cb0 = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
    cr0 = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
    out = []
    for i in range(n):
        y = y0.copy()
        for b in range(0, h, band):
            sh = (3 * i) if (b // band) % 2 == 0 else (-2 * i)
            y[b : b + band] = np.roll(y0[b : b + band], sh, axis=1)
        out.append((y, np.roll(cb0, i, 1), np.roll(cr0, i, 1)))
    return out


@needs_refs
@pytest.mark.parametrize("opts,want", [
    (dict(_P_BASE, qp="32", sao="0", deblock="1", rect="1", rd="5"),
     {"2NxN", "Nx2N"}),
    (dict(_P_BASE, qp="34", sao="1", deblock="1", rect="1", amp="1",
          rd="6", **{"tu-inter-depth": "3", "temporal-mvp": "1"}),
     {"2NxN"}),
    (dict(_P_BASE, qp="32", sao="0", deblock="1", rect="1", rd="5",
          wpp="1"), {"2NxN", "Nx2N"}),
    (dict(_T_BASE, qp="32", bframes="2", ref="2", sao="1", deblock="1",
          rect="1", rd="5", **{"b-adapt": "0", "b-pyramid": "0"}),
     {"2NxN", "Nx2N"}),
    (dict(_T_BASE, qp="30", bframes="1", ref="2", sao="0", deblock="1",
          rect="1", amp="1", rd="6", **{"b-adapt": "0", "b-pyramid": "1"}),
     {"2NxN", "Nx2N"}),
], ids=["P-rect", "P-rect-amp-tu3", "P-rect-wpp", "B-rect", "B-rect-amp"])
def test_x265_rect_amp_partitions_bit_exact(opts, want):
    stream = _encode(128, 96, _shear_frames(11, 128, 96, 7), opts)
    ref = _DE265.decode(stream)
    with _PartRecorder() as rec:
        mine = hevc.decode_hevc_stream(stream, max_frames=12)
    got = {m for m, _ in rec.modes}
    assert want <= got, f"fixture stopped exercising partitions: {got}"
    assert len(mine) == len(ref) == 7
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"


@needs_refs
def test_x265_rect_ctu16_bit_exact():
    """CTU 16 with banded motion: rect partitions at every CU depth
    x265 will emit them (it stops above 8x8 — small-PU coverage rides
    the fixture-encoder pin below)."""
    opts = dict(_P_BASE, qp="22", sao="0", deblock="0", rect="1",
                rd="6", ctu="16")
    stream = _encode(96, 64, _band_frames(13, 96, 64, 6), opts)
    ref = _DE265.decode(stream)
    with _PartRecorder() as rec:
        mine = hevc.decode_hevc_stream(stream, max_frames=12)
    got = {m for m, _ in rec.modes}
    assert "2NxN" in got and "Nx2N" in got, got
    assert len(mine) == len(ref) == 6
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"


@needs_de265
def test_fixture_parts_gop_bit_exact():
    """Fixture-encoded P GOP cycling EVERY 16x16 partition shape
    (incl. the four AMP modes x265's RD never picks) plus split 8x8
    CUs with 8x4/4x8 PUs — libde265 arbitrates the wire."""
    stream = hevc.encode_hevc_gop_parts(96, 64, 30, 40)
    ref = _DE265.decode(stream)
    with _PartRecorder() as rec:
        mine = hevc.decode_hevc_stream(stream, max_frames=8)
    got = {(m, l) for m, l in rec.modes}
    for mode in ("2Nx2N", "2NxN", "Nx2N", "2NxnU", "2NxnD",
                 "nLx2N", "nRx2N"):
        assert (mode, 4) in got, f"missing {mode}"
    assert ("2NxN", 3) in got and ("Nx2N", 3) in got  # 8x4/4x8 PUs
    assert len(mine) == len(ref) == 2
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"


@needs_de265
def test_fixture_parts_b_small_pu_bit_exact():
    """Small-PU B rules: 8x4 merge selecting a BI candidate must
    convert to L0 (§8.5.3.2.1) and AMVP small PUs code the single-bin
    inter_pred_idc; 16x16 Nx2N CUs cycle L0/L1/BI two-bin coding."""
    stream = hevc_fx.encode_hevc_gop_parts_b(96, 64, 30, 40)
    ref = _DE265.decode(stream)
    with _PartRecorder() as rec:
        mine = hevc.decode_hevc_stream(stream, max_frames=8)
    assert ("2NxN", 3) in {(m, l) for m, l in rec.modes}
    assert len(mine) == len(ref) == 3
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"


@needs_de265
@pytest.mark.parametrize("qp,c0", [(28, -55), (34, 90)])
def test_fixture_parts_nxn_bit_exact(qp, c0):
    """Inter NxN at the min-CB-16 SPS (part_mode bin 2 at ctx 2) —
    no in-container encoder emits it; libde265 arbitrates."""
    stream = hevc_fx.encode_hevc_gop_parts_nxn(96, 64, qp, c0)
    ref = _DE265.decode(stream)
    with _PartRecorder() as rec:
        mine = hevc.decode_hevc_stream(stream, max_frames=8)
    assert "NxN" in {m for m, _ in rec.modes}
    assert len(mine) == len(ref) == 2
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"


# ---------------------------------------------------------------------------
# r8 late: high-bit-depth INTER (Main10/Main12 P+B) — §8.5.4.2.2 shifts
# (shift1 = bd-8, shift3 = 14-bd), §8.5.4.2.3.2 bi averaging at 15-bd,
# §8.5.4.2.3.3 weighted prediction at log2Wd = denom + 14-bd with
# offsets << (bd-8), and the §7.4.9.3 SAO offset scale taken from the
# PPS RANGE EXTENSION (x265 writes none → offsets apply UNSCALED; the
# previous implicit bd-10 scaling mis-decoded 12-bit SAO luma).


def _hbd_motion_frames(seed, w, h, n, bd):
    mx = (1 << bd) - 1
    rng = np.random.default_rng(seed)
    y0 = ((rng.integers(0, mx + 1, (h, w))
           + np.add.outer(np.arange(h), np.arange(w)) * 11) % (mx + 1)
          ).astype(np.uint16)
    cb0 = rng.integers(0, mx + 1, (h // 2, w // 2)).astype(np.uint16)
    cr0 = rng.integers(0, mx + 1, (h // 2, w // 2)).astype(np.uint16)
    out = []
    for i in range(n):
        g = 1.0 - 0.05 * i  # fade → x265 writes real weight tables
        y = np.clip(np.roll(y0, 3 * i, 1).astype(np.float64) * g,
                    0, mx).astype(np.uint16)
        out.append((y, np.roll(cb0, i, 1), np.roll(cr0, i, 1)))
    return out


_HBD_INTER_CASES = [
    (dict(_P_BASE, qp="30", sao="0", deblock="1"), "P"),
    (dict(_T_BASE, qp="30", ref="2", sao="1", deblock="1"), "P-tmvp-sao"),
    (dict(_T_BASE, qp="32", bframes="2", ref="2", rect="1", rd="5",
          sao="1", deblock="1", weightp="1", weightb="1",
          **{"b-adapt": "0", "b-pyramid": "0"}), "B-rect-wp-sao"),
]


@pytest.mark.parametrize("bd", [10, 12])
@pytest.mark.parametrize("opts,label",
                         _HBD_INTER_CASES,
                         ids=[c[1] for c in _HBD_INTER_CASES])
def test_hbd_inter_bit_exact(bd, opts, label):
    enc = libx265_oracle.load(bd)
    if enc is None or _DE265 is None:
        pytest.skip("high-bit-depth references absent")
    fr = _hbd_motion_frames(bd + len(label), 96, 64, 7, bd)
    stream = enc.encode(
        96, 64, [(f[0].tobytes(), f[1].tobytes(), f[2].tobytes())
                 for f in fr], opts)
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=12)
    assert len(mine) == len(ref) == 7
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"


@pytest.mark.parametrize("bd", [10, 12])
def test_hbd_pure_defaults_prefix_exact(bd):
    """preset-medium crf defaults at 10/12-bit (SAO + TMVP + WP +
    b-pyramid): the 12-bit case is the one that caught the SAO
    offset-scale bug — keep it sensitive."""
    enc = libx265_oracle.load(bd)
    if enc is None or _DE265 is None:
        pytest.skip("high-bit-depth references absent")
    fr = _hbd_motion_frames(bd, 96, 64, 8, bd)
    stream = enc.encode(
        96, 64, [(f[0].tobytes(), f[1].tobytes(), f[2].tobytes())
                 for f in fr], {"preset": "medium", "crf": "26"})
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=16)
    assert len(mine) == 8
    assert len(ref) >= 7  # libde265 withholds b-pyramid finals
    for i, r in enumerate(ref):
        assert mine[i] == r, f"frame {i}"


@needs_refs
@pytest.mark.parametrize("opts,label", [
    (dict(_P_BASE, qp="30", sao="1", deblock="1"), "P-mono"),
    (dict(_T_BASE, qp="30", bframes="2", ref="2", sao="0", deblock="1",
          **{"b-adapt": "0", "b-pyramid": "0"}), "B-mono"),
], ids=lambda v: v if isinstance(v, str) else "")
def test_monochrome_inter_bit_exact(opts, label):
    """4:0:0 P/B GOPs: chroma MC and chroma weight syntax absent."""
    rng = np.random.default_rng(3)
    h, w = 64, 96
    y0 = ((rng.integers(0, 256, (h, w))
           + np.add.outer(np.arange(h), np.arange(w)) * 3) % 256
          ).astype(np.uint8)
    frames = [(np.roll(y0, 3 * i, 1).tobytes(), b"", b"")
              for i in range(6)]
    stream = _X265.encode(w, h, frames,
                          dict(opts, **{"input-csp": "i400"}))
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=10)
    assert len(mine) == len(ref) == 6
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"
    assert mine[0][3] == b"" and mine[0][4] == b""


@needs_refs
def test_x265_eight_references_bit_exact():
    opts = dict(_P_BASE, qp="30", ref="8", sao="1", deblock="1",
                **{"temporal-mvp": "1"})
    stream = _encode(96, 64, _motion_frames(9, 96, 64, 12), opts)
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=20)
    assert len(mine) == len(ref) == 12
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"


@needs_de265
def test_graded_parts_leg_covers_all_shapes_and_closed_forms():
    """The graded re-carve (multimodal ids 210-219): the parts GOP
    must (a) decode to EXACTLY the same planes as the plain DC GOP it
    replaced — the oracle's closed forms, (b) be libde265-bit-exact,
    and (c) across the ten graded ids exercise every partition shape
    INCLUDING split 8x8 CUs (rows-match green ≠ leg present, r7c)."""
    seen = set()
    for k in range(10, 20):  # ids 210-219 → k = rid - 200
        w = 32 + 16 * ((200 + k) % 3)
        qp = (22, 27, 32, 37)[k % 4]
        c0, c2 = 1 + k % 25, 1 + k % 7
        plain = hevc.encode_hevc_gop_dc(w, 32, qp, c0, c2)
        parts = hevc.encode_hevc_gop_dc_parts(w, 32, qp, c0, c2,
                                              script_off=k)
        with _PartRecorder() as rec:
            mine = hevc.decode_hevc_stream(parts, max_frames=8)
        seen |= {(m, l) for m, l in rec.modes}
        assert mine == hevc.decode_hevc_stream(plain, max_frames=8)
        ref = _DE265.decode(parts)
        assert len(mine) == len(ref) == 3
        for i, (m, r) in enumerate(zip(mine, ref)):
            assert m == r, f"id {200+k} frame {i}"
    for mode in ("2Nx2N", "2NxN", "Nx2N", "2NxnU", "2NxnD",
                 "nLx2N", "nRx2N"):
        assert (mode, 4) in seen, f"graded leg missing {mode}"
    assert ("2NxN", 3) in seen and ("Nx2N", 3) in seen


@needs_de265
@pytest.mark.parametrize("qp,c0,c2", [(27, 30, 5), (37, 12, 3)])
def test_fixture_ref_list_modification_bit_exact(qp, c0, c2):
    """§7.3.6.2 list_entry reordering (no in-container encoder emits
    it): picture 2 redirects refIdx 0 at the IRAP two POCs back,
    picture 3 picks from a 3-pic RPS — each skip-copy plane IS the
    list the modification built, and libde265 arbitrates the wire."""
    stream = hevc_fx.encode_hevc_gop_modlist(48, 32, qp, c0, c2)
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=8)
    assert len(mine) == len(ref) == 4
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"
    y = [np.frombuffer(m[2], np.uint8) for m in mine]
    # the modified lists select DIFFERENT pictures than decode order
    assert (y[2] == y[0]).all() and (y[3] == y[1]).all()
    assert not (y[1] == y[0]).all()


@needs_de265
@pytest.mark.parametrize("qp,seed,w,h", [(30, 7, 64, 48), (45, 9, 96, 32)])
def test_fixture_ipcm_bit_exact(qp, seed, w, h):
    """I_PCM CUs (§7.3.8.7): terminate-coded pcm_flag, alignment
    zeros, raw samples, §9.3.1 engine re-init with contexts
    PRESERVED (PCM and CABAC CTUs interleave, so a context reset
    would desync every following CTU).  libde265 arbitrates; PCM
    regions must reproduce the input exactly."""
    rng = np.random.default_rng(seed)
    y = rng.integers(0, 256, (h, w)).astype(np.uint8)
    cb = rng.integers(0, 256, (h // 2, w // 2)).astype(np.uint8)
    cr = rng.integers(0, 256, (h // 2, w // 2)).astype(np.uint8)
    stream = hevc.encode_hevc_iframe_pcm(w, h, qp, y.tobytes(),
                                         cb.tobytes(), cr.tobytes())
    mine = hevc.decode_hevc_stream(stream, max_frames=4)
    ref = _DE265.decode(stream)
    assert len(mine) == len(ref) == 1
    assert mine[0] == ref[0]
    my = np.frombuffer(mine[0][2], np.uint8).reshape(h, w)
    for ry in range(h // 16):
        for rx in range(w // 16):
            if (rx + ry) % 2 == 0:
                blk = slice(ry * 16, ry * 16 + 16), slice(rx * 16, rx * 16 + 16)
                assert (my[blk] == y[blk]).all(), (rx, ry)


@needs_de265
@pytest.mark.parametrize("qp,c0,c2", [(30, 11, 4), (39, 5, 9)])
def test_fixture_long_term_refs_bit_exact(qp, c0, c2):
    """Long-term reference pictures (§7.3.6.1/§8.3.2): a PCM-random
    (non-flat — r7c) IRAP held as LT beside a short-term ref, via
    both the slice-explicit and the SPS-candidate paths, TMVP on,
    mixed per-CTU ST/LT ref_idx with nonzero mvds.  libde265
    arbitrates; the liveness recorder proves the §8.5.3.2.7-9
    LT matching/no-scale rules actually fired."""
    fired = {"tmvp_lt_none": 0, "tmvp_lt_some": 0, "amvp_lt": 0}
    orig = hevc._PicDecoder._temporal_mv

    def tmv(self, x0, y0, w, h, lx, ridx, ycb):
        r = orig(self, x0, y0, w, h, lx, ridx, ycb)
        lt = self.sh.get("ref_lt")
        if lt and lt[lx] and lt[lx][ridx]:
            fired["tmvp_lt_some" if r is not None else
                  "tmvp_lt_none"] += 1
        return r

    orig_a = hevc._PicDecoder._amvp_candidates

    def amvp(self, x0, y0, w, h, lx, ridx, ycb=None):
        lt = self.sh.get("ref_lt")
        if lt and lt[lx] and lt[lx][ridx]:
            fired["amvp_lt"] += 1
        return orig_a(self, x0, y0, w, h, lx, ridx, ycb)

    hevc._PicDecoder._temporal_mv = tmv
    hevc._PicDecoder._amvp_candidates = amvp
    try:
        stream = hevc_fx.encode_hevc_gop_lt(64, 48, qp, c0, c2)
        mine = hevc.decode_hevc_stream(stream, max_frames=8)
    finally:
        hevc._PicDecoder._temporal_mv = orig
        hevc._PicDecoder._amvp_candidates = orig_a
    ref = _DE265.decode(stream)
    assert len(mine) == len(ref) == 4
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"
    assert fired["amvp_lt"] and fired["tmvp_lt_none"], fired
    assert len({m[2] for m in mine}) == 4  # non-degenerate planes


# ---------------------------------------------------------------------------
# r8 late: REXT chroma formats — 4:2:2 (stacked square chroma TBs with
# doubled cbfs, Table 8-3 intra mode remap, Min(qPi,51) chroma QP) and
# 4:4:4 (luma-geometry chroma TBs at every size incl. cbf/scan/smoothing
# rules), per-axis SubWidthC/SubHeightC everywhere (MC fractions, SAO,
# deblock grids, crop, PCM).  libde265 decodes both for real (lossless
# round-trips pinned), so every leg is reference-arbitrated.


def _rext_planes(seed, w, h, csp, bd=8):
    mx = (1 << bd) - 1
    dt = np.uint8 if bd == 8 else "<u2"
    rng = np.random.default_rng(seed)
    y = ((rng.integers(0, mx + 1, (h, w))
          + np.add.outer(np.arange(h), np.arange(w)) * 3) % (mx + 1)
         ).astype(dt)
    cw = w if csp == "i444" else w // 2
    ch = h if csp != "i420" else h // 2
    cb = rng.integers(0, mx + 1, (ch, cw)).astype(dt)
    cr = rng.integers(0, mx + 1, (ch, cw)).astype(dt)
    return y, cb, cr


@needs_refs
@pytest.mark.parametrize("csp", ["i422", "i444"])
@pytest.mark.parametrize("opts,label", [
    (dict(lossless="1", sao="0", deblock="0"), "lossless"),
    (dict(qp="30", sao="0", deblock="0"), "qp30"),
    (dict(qp="12", sao="0", deblock="0"), "qp12"),
    (dict(qp="32", sao="1", deblock="1"), "deblock+sao"),
    (dict(qp="27", sao="0", deblock="1", ctu="16"), "ctu16"),
], ids=lambda v: v if isinstance(v, str) else "")
def test_rext_intra_bit_exact(csp, opts, label):
    w, h = 64, 48
    y, cb, cr = _rext_planes(len(label), w, h, csp)
    full = dict({"keyint": "1", "bframes": "0", "aq-mode": "0",
                 "input-csp": csp}, **opts)
    stream = _X265.encode(w, h, [(y.tobytes(), cb.tobytes(), cr.tobytes())],
                          full)
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=4)
    assert len(mine) == len(ref) == 1
    assert mine[0] == ref[0]
    if "lossless" in label:  # round-trip proves real chroma geometry
        assert mine[0][3] == cb.tobytes() and mine[0][4] == cr.tobytes()


def _rext_motion_frames(seed, w, h, n, csp, bd=8):
    y0, cb0, cr0 = _rext_planes(seed, w, h, csp, bd)
    mx = (1 << bd) - 1
    out = []
    for i in range(n):
        g = 1.0 - 0.05 * i
        yy = np.clip(np.roll(y0, 3 * i, 1).astype(np.float64) * g,
                     0, mx).astype(y0.dtype)
        out.append((yy.tobytes(), np.roll(cb0, i, 1).tobytes(),
                    np.roll(cr0, -i, 0).tobytes()))
    return out


@needs_refs
@pytest.mark.parametrize("csp", ["i422", "i444"])
@pytest.mark.parametrize("opts,label,n", [
    (dict(_P_BASE, qp="30", sao="0", deblock="1"), "P", 6),
    (dict(_T_BASE, qp="30", ref="2", sao="1", deblock="1"),
     "P-tmvp-sao", 7),
    (dict(_T_BASE, qp="32", bframes="2", ref="2", rect="1", rd="5",
          sao="1", deblock="1", weightp="1", weightb="1",
          **{"b-adapt": "0", "b-pyramid": "0"}), "B-rect-wp", 7),
    ({"preset": "medium", "crf": "26"}, "defaults", 8),
], ids=lambda v: v if isinstance(v, str) else "")
def test_rext_inter_prefix_exact(csp, opts, label, n):
    w, h = 96, 64
    frames = _rext_motion_frames(len(label) + len(csp), w, h, n, csp)
    stream = _X265.encode(w, h, frames, dict(opts, **{"input-csp": csp}))
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=16)
    assert len(mine) == n
    assert len(ref) >= n - 1  # b-pyramid finals withheld by libde265
    for i, r in enumerate(ref):
        assert mine[i] == r, f"frame {i}"


@pytest.mark.parametrize("bd", [10, 12])
@pytest.mark.parametrize("csp", ["i422", "i444"])
def test_rext_high_bit_depth_inter_bit_exact(bd, csp):
    enc = libx265_oracle.load(bd)
    if enc is None or _DE265 is None:
        pytest.skip("high-bit-depth references absent")
    w, h = 64, 48
    frames = _rext_motion_frames(bd, w, h, 5, csp, bd)
    opts = dict(_T_BASE, **{"input-csp": csp}, qp="30", bframes="1",
                ref="2", sao="1", deblock="1",
                **{"b-adapt": "0", "b-pyramid": "0"})
    stream = enc.encode(w, h, frames, opts)
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=10)
    assert len(mine) == len(ref) == 5
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"


@needs_refs
@pytest.mark.parametrize("csp", ["i420", "i422"])
@pytest.mark.parametrize("kind", ["intra", "inter"])
def test_scaling_lists_all_formats_bit_exact(csp, kind):
    """Scaling lists across chroma formats AND prediction modes —
    the inter legs pin the §8.6.3 matrixId+3 selection (a latent bug
    until late r8: only intra streams had ever been cross-pinned, so
    inter blocks silently dequantized with intra matrices)."""
    w, h = 96, 64
    y, cb, cr = _rext_planes(3, w, h, csp)
    if kind == "intra":
        opts = {"keyint": "1", "bframes": "0", "aq-mode": "0",
                "qp": "30", "sao": "0", "deblock": "0",
                "input-csp": csp, "scaling-list": "default"}
        frames = [(y.tobytes(), cb.tobytes(), cr.tobytes())]
    else:
        opts = dict(_T_BASE, qp="27", bframes="1", ref="2", sao="1",
                    deblock="1", **{"input-csp": csp,
                                    "scaling-list": "default",
                                    "b-adapt": "0", "b-pyramid": "0"})
        frames = [(np.roll(y, 3 * i, 1).tobytes(),
                   np.roll(cb, i, 1).tobytes(), cr.tobytes())
                  for i in range(6)]
    stream = _X265.encode(w, h, frames, opts)
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=10)
    assert len(mine) == len(ref)
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"


@needs_refs
def test_scaling_lists_444_small_tb_exact_and_32_rejects():
    """4:4:4 + scaling lists: bit-exact when max TB < 32 (ctu16);
    the 32x32-TB corner REJECTS — measured reference divergence
    (libde265's Cr-32 output contradicts the x265 encoder's input,
    mean |err| 58.5 vs 16.8 for a matched decode), so there is no
    convention to pin and reject-never-approximate applies."""
    w, h = 96, 64
    y, cb, cr = _rext_planes(4, w, h, "i444")
    base = {"keyint": "1", "bframes": "0", "aq-mode": "0", "qp": "30",
            "sao": "0", "deblock": "0", "input-csp": "i444",
            "scaling-list": "default"}
    frames = [(y.tobytes(), cb.tobytes(), cr.tobytes())]
    small = _X265.encode(w, h, frames, dict(base, ctu="16"))
    ref = _DE265.decode(small)
    mine = hevc.decode_hevc_stream(small, max_frames=4)
    assert mine[0] == ref[0]
    big = _X265.encode(w, h, frames, base)
    with pytest.raises(ValueError, match="4:4:4 32x32"):
        hevc.decode_hevc_stream(big, max_frames=4)


@needs_de265
def test_graded_wp_leg_closed_forms_and_libde265():
    """The graded ids 230-239 re-carve: identity-weighted B pictures
    must decode to EXACTLY the plain IBP closed forms AND be
    libde265-bit-exact (the §8.5.4.2.3.3 path under the driver's
    hash gate at zero row growth)."""
    for k in range(10, 20):
        qp = (22, 27, 32, 37)[k % 4]
        c0, c2 = 1 + k % 25, 1 + k % 7
        plain = hevc.encode_hevc_gop_ibp_dc(48, 32, qp, c0, c2)
        wp = hevc.encode_hevc_gop_ibp_dc_wp(48, 32, qp, c0, c2)
        mine = hevc.decode_hevc_stream(wp, max_frames=8)
        assert mine == hevc.decode_hevc_stream(plain, max_frames=8)
        ref = _DE265.decode(wp)
        assert len(mine) == len(ref) == 4
        for i, (m, r) in enumerate(zip(mine, ref)):
            assert m == r, f"id {220+k} frame {i}"


@needs_refs
@pytest.mark.parametrize("opts,label,n", [
    (dict(_P_BASE, lossless="1", sao="0", deblock="0"), "P-lossless", 5),
    (dict(_T_BASE, lossless="1", bframes="2", ref="2", sao="0",
          deblock="0", **{"b-adapt": "0", "b-pyramid": "0"}),
     "B-lossless", 6),
], ids=lambda v: v if isinstance(v, str) else "")
def test_lossless_inter_reproduces_input(opts, label, n):
    """cu_transquant_bypass through MC residuals: lossless P/B GOPs
    must be libde265-bit-exact AND reproduce the encoder input
    exactly (the strongest self-consistency claim)."""
    fr = _motion_frames(11, 64, 48, n)
    stream = _encode(64, 48, fr, opts)
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=12)
    assert len(mine) == len(ref) == n
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"
        assert m[2] == fr[i][0].tobytes(), f"frame {i} lossy"


@needs_de265
def test_fixture_cabac_init_flag_swap_bit_exact():
    """cabac_init_flag (§9.3.1 init-type swap; x265 never sets
    cabac_init_present): a P slice initializing from the B column
    decodes to the same closed forms, libde265-arbitrated."""
    stream = hevc_fx.encode_hevc_gop_dc_cabac_init(48, 32, 30, 20, 6)
    ref = _DE265.decode(stream)
    mine = hevc.decode_hevc_stream(stream, max_frames=4)
    assert len(mine) == len(ref) == 2
    for i, (m, r) in enumerate(zip(mine, ref)):
        assert m == r, f"frame {i}"
    plain = hevc.decode_hevc_stream(
        hevc.encode_hevc_gop_dc(48, 32, 30, 20, 6), max_frames=4)
    assert mine[1] == plain[2]


# ---------------------------------------------------------------------------
# r9: tiles + WPP combined (VERDICT r8 #4).  libde265 CANNOT arbitrate
# the combination — it dispatches tiles and WPP to two DISJOINT code
# paths (decode_slice_unit_tiles / decode_slice_unit_WPP, visible in
# its exported strings) and garbles or rejects any stream with both
# PPS flags set, even the degenerate single-substream case whose
# payload is byte-identical to an accepted tiles-only stream.  The
# combination is also prohibited in the version-1 profiles, so no
# conforming Main-profile encoder exists to cross-pin against.  The
# pin is therefore layered (r8 lesson 9 — measure, document, arbitrate
# what can be arbitrated):
#   1. the WPP FIXTURE ENCODER (tiles off) is arbitrated bit-exactly
#      by libde265 — pinning the encoder-side per-row substream
#      layout, entry points, subset bits and §9.3.1 sync storage;
#   2. a 1x1-tile tiles+WPP stream must reproduce that libde265-pinned
#      payload BIT-IDENTICALLY (only parameter-set flags differ),
#      transferring the arbitration to the combined decode path;
#   3. multi-tile combined shapes hold the lossless closed-form
#      contract (decoded planes == input) across grids including
#      1-CTU-wide tiles (fresh-init rows), which any substream/sync
#      misbookkeeping breaks by CABAC desync;
#   4. libde265's divergence is itself pinned below, so a future
#      libde265 that gains the combined path will flag here and the
#      arbitration can be upgraded.


@needs_de265
@pytest.mark.parametrize("w,h", [(32, 16), (32, 64), (64, 64), (16, 64),
                                 (96, 48)])
def test_wpp_fixture_encoder_bit_exact_vs_libde265(w, h):
    y, cb, cr = _tile_fixture(w + h, w, h)
    stream = hevc_fx.encode_hevc_iframe_bypass_wpp(
        w, h, y.tobytes(), cb.tobytes(), cr.tobytes())
    ref = _DE265.decode(stream)
    mine = decode_hevc_intra_stream(stream)
    assert len(mine) == len(ref) == 1
    assert mine[0] == ref[0]
    assert mine[0][2] == y.tobytes()
    assert mine[0][3] == cb.tobytes() and mine[0][4] == cr.tobytes()


@pytest.mark.parametrize("w,h", [(32, 32), (64, 64), (16, 64)])
def test_tiles_wpp_1x1_payload_bit_identical_to_wpp_wire(w, h):
    """The arbitration transfer: a 1x1-tile combined stream's slice
    NAL must be byte-identical to the libde265-pinned wpp-only wire
    (same substreams, same sync, same entry points — only the PPS
    flags differ)."""
    from data_lake_skyfit_spark.llm.hevc import _split_nals

    y, cb, cr = _tile_fixture(9, w, h)
    s_wpp = hevc_fx.encode_hevc_iframe_bypass_wpp(
        w, h, y.tobytes(), cb.tobytes(), cr.tobytes())
    s_comb = hevc_fx.encode_hevc_iframe_bypass_tiled(
        w, h, y.tobytes(), cb.tobytes(), cr.tobytes(), 1, 1, True, wpp=True)
    slice_wpp = [n for n in _split_nals(s_wpp) if (n[0] >> 1) & 63 == 19][0]
    slice_comb = [n for n in _split_nals(s_comb) if (n[0] >> 1) & 63 == 19][0]
    assert slice_wpp == slice_comb
    got = decode_hevc_intra_stream(s_comb)[0]
    assert got[2] == y.tobytes()


@pytest.mark.parametrize("w,h,nc,nr", [
    (96, 64, 2, 2),
    (128, 48, 4, 3),
    (80, 64, 3, 2),    # uneven §6.5.1 widths (1,2,2)
    (64, 96, 1, 4),
    (16, 64, 1, 1),    # 1-CTU-wide: every row fresh-initializes
    (48, 48, 3, 1),    # all tiles 1 CTU wide
])
@pytest.mark.parametrize("lf", [True, False])
def test_tiles_wpp_lossless_contract(w, h, nc, nr, lf):
    y, cb, cr = _tile_fixture(nc * 11 + nr, w, h)
    stream = hevc_fx.encode_hevc_iframe_bypass_tiled(
        w, h, y.tobytes(), cb.tobytes(), cr.tobytes(), nc, nr, lf, wpp=True)
    got = decode_hevc_intra_stream(stream)
    assert len(got) == 1
    assert got[0][2] == y.tobytes()
    assert got[0][3] == cb.tobytes() and got[0][4] == cr.tobytes()


def test_tiles_wpp_wire_differs_from_tiles_only():
    """The combined wire must actually change the substream layout
    (more substreams: one per row per tile), not just the PPS flag."""
    y, cb, cr = _tile_fixture(3, 96, 64)
    comb = hevc_fx.encode_hevc_iframe_bypass_tiled(
        96, 64, y.tobytes(), cb.tobytes(), cr.tobytes(), 2, 2, True,
        wpp=True)
    tiles = hevc_fx.encode_hevc_iframe_bypass_tiled(
        96, 64, y.tobytes(), cb.tobytes(), cr.tobytes(), 2, 2, True)
    assert len(comb) > len(tiles)  # 8 substreams vs 4 → more entry points
    for s in (comb, tiles):
        assert decode_hevc_intra_stream(s)[0][2] == y.tobytes()


@needs_de265
def test_libde265_still_lacks_the_combined_path():
    """Pin the measured reference absence: libde265 either rejects a
    tiles+WPP stream or decodes it to something OTHER than the
    lossless input (its tiles and WPP paths are disjoint).  If a
    future libde265 decodes this bit-exactly, this test flags so the
    arbitration can be upgraded to a direct cross-pin."""
    y, cb, cr = _tile_fixture(7, 96, 64)
    stream = hevc_fx.encode_hevc_iframe_bypass_tiled(
        96, 64, y.tobytes(), cb.tobytes(), cr.tobytes(), 2, 2, True,
        wpp=True)
    try:
        ref = _DE265.decode(stream)
        assert not ref or ref[0][2] != y.tobytes()
    except ValueError:
        pass  # rejection is the currently observed behaviour
