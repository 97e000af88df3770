"""JPEG codec pins: the encoder's exact output bytes over a fixed case set,
and the decoder's marker-structure check."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from sarpro_spark.sinks.jpeg import _quantize_all, decode_jpeg, encode_jpeg

QUALITIES = (1, 50, 90, 100)


def _speckle(rng, shape):
    """Integer-only speckle-like noise (skewed dark, with bright outliers):
    stable across numpy versions, unlike float draws cast to uint8."""
    a = rng.integers(0, 256, shape, dtype=np.int64)
    b = rng.integers(0, 256, shape, dtype=np.int64)
    return (a * b // 255).astype(np.uint8)


def _zrl_pattern():
    """Gray 64x64 whose 8x8 blocks each carry one high-frequency DCT basis
    function (u, v) = (7, 7), (7, 6) or (6, 7) at full amplitude, so its
    large AC coefficient sits at zigzag position 61..63, after runs of zeros
    longer than 15 (ZRL codes). The large coefficients fill the
    scan with 1-bits, which yields 0xFF bytes that must be stuffed."""
    k = np.arange(8)
    c = np.array([np.sqrt(0.125) if u == 0 else 0.5 for u in range(8)])[:, None] * np.cos(
        (2 * k[None, :] + 1) * np.arange(8)[:, None] * np.pi / 16.0
    )
    basis = [np.outer(c[u], c[v]) for u, v in ((7, 7), (7, 6), (6, 7))]
    img = np.empty((64, 64))
    for i in range(8):
        for j in range(8):
            sign = 1.0 if (i + j) % 2 == 0 else -1.0
            img[8 * i:8 * i + 8, 8 * j:8 * j + 8] = 128.0 + sign * 500.0 * basis[(i * 8 + j) % 3]
    return np.clip(np.rint(img), 0, 255).astype(np.uint8)


def _cases() -> dict[str, np.ndarray]:
    rng = np.random.default_rng(20261018)
    y, x = np.mgrid[0:50, 0:70]
    return {
        "speckle_rgb_256": _speckle(rng, (256, 256, 3)),
        "rgb_37x61": rng.integers(0, 256, (37, 61, 3), dtype=np.uint8),
        "rgb_1x1": np.array([[[200, 30, 90]]], dtype=np.uint8),
        "zeros_rgb_40x24": np.zeros((40, 24, 3), dtype=np.uint8),
        "gray_50x70": ((3 * x + 2 * y) % 256).astype(np.uint8) ^ _speckle(rng, (50, 70)) // 16,
        "zrl_stuffing_gray_64": _zrl_pattern(),
    }


# sha256 of encode_jpeg(case, quality) as written by the per-coefficient
# reference encoder this vectorized coder replaced; any changed byte fails.
GOLDEN = {
    ("gray_50x70", 1): "22f35eeff0be7cff31a1cfdf1d834476a6069097cf67c18c69f141bcdcf855b8",
    ("gray_50x70", 50): "4efe77367f5ae66d3ac94d12b98a8bce110a47bee1d9346acd19daa80b92ad0d",
    ("gray_50x70", 90): "cf5191e45c1ba6fac9f41d2fd4da0615409f04de673bc7423773ab1735251e29",
    ("gray_50x70", 100): "5e8dfb2ea440814aab8329bea65fb9da85d369ecf6a788c682dd11a029ea74e5",
    ("rgb_1x1", 1): "cda054ee18e291a78edb2e74a0581a671fbe0ee514ac269f339211112ff5dab3",
    ("rgb_1x1", 50): "496f7b74a8c88e5687642a9a3c3987bd3d8be24d2141ea2bf5d044126d3737dc",
    ("rgb_1x1", 90): "20fdbcb4c507ee741140bc57a951021ff35f48b398c43a19da25f940c5f81b82",
    ("rgb_1x1", 100): "17e7f6dc7b8f5fff52732a40bdd75cc0489b1e07d6b02bb1df28c121a2985d2e",
    ("rgb_37x61", 1): "9c9f91d1c7bcbe146dfc2c49bc65a8e4241e95d168b21306b77f47c5d9fe3e67",
    ("rgb_37x61", 50): "d81a1e217c5fd837e1d3c6153033ffc944b568a8f95c5c8d4fabe420c1194d16",
    ("rgb_37x61", 90): "853f819d53b9141eb5ac12b4c801ca8784aebff255e625435bb4440228fee94c",
    ("rgb_37x61", 100): "84e1b29c0a106835a7da8133105532719b22a1faea79b207a5a40ba95f542416",
    ("speckle_rgb_256", 1): "154429072f131086b6b7f8b402d0790fbdfb88e55da96dcf52cf9cc9fbf1039c",
    ("speckle_rgb_256", 50): "d4b340a6f7d399ae0d0245b3ac8b07964214baa68ec702cfdedf747f877794de",
    ("speckle_rgb_256", 90): "ad7ebe17a4da946ae73007b5867562be6ba488a6eadd38fb74cf7b4a9700d4ab",
    ("speckle_rgb_256", 100): "001aae4f809a92dae62b41d39dc29426f3849dad34888b122a7a7c3e5e9e23ab",
    ("zeros_rgb_40x24", 1): "d229b87e308259ddb3c66690ca947f2de7bf70e975a509fc95ca65feb841c87c",
    ("zeros_rgb_40x24", 50): "d7b8a3d4434e37cd7e8324025922a09541e4bbcc8990f83e48a2c01fe13abf11",
    ("zeros_rgb_40x24", 90): "574773fa9d9e2129bdc32bdf8acd41033c5770b4b82f644cb5a886c5919d0f19",
    ("zeros_rgb_40x24", 100): "f531591ac246552626ab1fda8198539cb05ac6227089bdd4d8759819989d10b3",
    ("zrl_stuffing_gray_64", 1): "18d5397045c7d9706089a0dd14fa27418398c653b19708b9a223ad0a78f93a55",
    ("zrl_stuffing_gray_64", 50): "d75fe807774d93cbdfc305d11c05129135167be5fef21aa41d356f70a646224c",
    ("zrl_stuffing_gray_64", 90): "391ee481ee4a1a029f6427d2a183c8cd7b059976b2ac7c6d0743486f56fc12d9",
    ("zrl_stuffing_gray_64", 100): "ad1f4246ad717814cf48191ce9eb9c675bb02a4e57082008e67577ddc2e5584c",
}


@pytest.mark.parametrize("name", sorted(_cases()))
@pytest.mark.parametrize("quality", QUALITIES)
def test_encode_jpeg_golden_bytes(name, quality):
    data = encode_jpeg(_cases()[name], quality=quality)
    assert hashlib.sha256(data).hexdigest() == GOLDEN[(name, quality)]
    assert decode_jpeg(data).shape == _cases()[name].shape


@pytest.mark.parametrize("name", ["speckle_rgb_256", "rgb_37x61", "gray_50x70"])
def test_encode_jpeg_strips_carry_state(monkeypatch, name):
    """Coding one MCU row per strip (DC predictors and the partial byte
    carried across every strip boundary) writes the same bytes."""
    from sarpro_spark.sinks import jpeg

    monkeypatch.setattr(jpeg, "_STRIP_BLOCKS", 1)
    for quality in (50, 100):
        data = jpeg.encode_jpeg(_cases()[name], quality=quality)
        assert hashlib.sha256(data).hexdigest() == GOLDEN[(name, quality)]


def _scan(data: bytes) -> bytes:
    """The entropy-coded segment: after the SOS header, before EOI."""
    sos = data.index(b"\xff\xda")
    return data[sos + 2 + int.from_bytes(data[sos + 2:sos + 4], "big"):-2]


def _reference_scan(arr: np.ndarray, quality: int) -> bytes:
    """Scalar T.81 entropy coder, one coefficient at a time over the same
    quantized blocks: the reference the vectorized coder must reproduce."""
    from sarpro_spark.sinks import jpeg

    def huff(bits, vals):
        out, code, k = {}, 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                out[vals[k]] = (code, length)
                code, k = code + 1, k + 1
            code <<= 1
        return out

    tables = [
        (huff(jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS), huff(jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS)),
        (huff(jpeg.DC_CHROMA_BITS, jpeg.DC_CHROMA_VALS),
         huff(jpeg.AC_CHROMA_BITS, jpeg.AC_CHROMA_VALS)),
    ]
    ql = jpeg._scaled_quant(jpeg.QUANT_LUMA, quality)
    qc = jpeg._scaled_quant(jpeg.QUANT_CHROMA, quality)
    planes = [arr] if arr.ndim == 2 else jpeg._rgb_to_ycbcr(arr)
    comps = [jpeg._quantize_all(p, ql if i == 0 else qc) for i, p in enumerate(planes)]
    bits = []

    def put(code, length):
        bits.extend((code >> (length - 1 - i)) & 1 for i in range(length))

    def put_value(v):
        size = abs(v).bit_length()
        return size, (v if v >= 0 else v + (1 << size) - 1)

    preds = [0] * len(comps)
    for b in range(len(comps[0])):
        for ci, comp in enumerate(comps):
            dc_tab, ac_tab = tables[min(ci, 1)]
            z = [int(x) for x in comp[b]]
            size, extra = put_value(z[0] - preds[ci])
            preds[ci] = z[0]
            put(*dc_tab[size])
            put(extra, size)
            run = 0
            for v in z[1:]:
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    put(*ac_tab[0xF0])
                    run -= 16
                size, extra = put_value(v)
                put(*ac_tab[(run << 4) | size])
                put(extra, size)
                run = 0
            if run:
                put(*ac_tab[0x00])
    bits.extend([1] * (-len(bits) % 8))
    out = bytearray()
    for i in range(0, len(bits), 8):
        out.append(int("".join(map(str, bits[i:i + 8])), 2))
        if out[-1] == 0xFF:
            out.append(0x00)
    return bytes(out)


def test_entropy_coder_matches_scalar_reference():
    """Random shapes, contents and qualities beyond the golden set: the scan
    equals the scalar reference coder's bit for bit."""
    rng = np.random.default_rng(5)
    for trial in range(24):
        shape = tuple(int(n) for n in rng.integers(1, 40, 2)) + ((3,) if trial % 3 else ())
        img = [rng.integers(0, 256, shape), _speckle(rng, shape),
               np.where(rng.random(shape) < 0.03, 255, 0)][trial % 3].astype(np.uint8)
        quality = int(rng.choice([1, 10, 50, 75, 90, 100]))
        data = encode_jpeg(img, quality=quality)
        assert _scan(data) == _reference_scan(img, quality), (shape, quality)


def test_golden_cases_cover_zrl_and_byte_stuffing():
    """The pattern case really exercises the rare paths the digests pin:
    AC zero runs over 15 and 0xFF stuffing in the scan."""
    img = _cases()["zrl_stuffing_gray_64"]
    from sarpro_spark.sinks.jpeg import QUANT_LUMA, _scaled_quant

    for quality in (50, 90, 100):
        z = _quantize_all(img, _scaled_quant(QUANT_LUMA, quality))
        runs = [np.diff(np.flatnonzero(np.r_[1, b[1:]])) - 1 for b in z]
        assert max(int(r.max(initial=0)) for r in runs) > 15
        data = encode_jpeg(img, quality=quality)
        assert b"\xff\x00" in _scan(data)


def test_decode_jpeg_rejects_corrupt_segment_chain():
    """A segment length that does not land on the next marker raises
    ValueError (not an assert, which ``python -O`` strips), and the media
    decoder reports the blob as not ok."""
    img = np.arange(16 * 16, dtype=np.uint8).reshape(16, 16)
    data = bytearray(encode_jpeg(img, quality=75))
    app0 = data.index(b"\xff\xe0")
    data[app0 + 2:app0 + 4] = (16 + 2).to_bytes(2, "big")  # APP0 overruns into DQT
    with pytest.raises(ValueError, match="marker expected"):
        decode_jpeg(bytes(data))

    from sarpro_spark.llm.multimodal import safe_decode_image

    px, ok = safe_decode_image(bytes(data))
    assert ok is False and px is None
