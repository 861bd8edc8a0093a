"""From-scratch JPEG 2000 subset (jpxcodec): MQ coder roundtrip fuzz,
5/3 DWT exactness, Tier-1 block coder roundtrip, full codestream
pixel identity across sizes/levels/components, level-invariance of the
decoded pixels, loud-failure contract, and the decompression-bomb
guard (see b_pdf_parser_spark/jpxcodec.py for the profile)."""

import random

import pytest

from b_pdf_parser_spark.jpxcodec import (
    _MQDecoder,
    _MQEncoder,
    _dwt2_fwd,
    _dwt2_inv,
    _fwd53,
    _inv53,
    _t1_decode,
    _t1_encode,
    decode_jpx,
    encode_jpx,
)


def test_mq_roundtrip_fuzz():
    rng = random.Random(11)
    for _ in range(150):
        seq = [(rng.randint(0, 1), rng.randint(0, 18))
               for _ in range(rng.randint(1, 500))]
        enc = _MQEncoder()
        for bit, cx in seq:
            enc.encode(bit, cx)
        dec = _MQDecoder(enc.flush())
        assert [dec.decode(cx) for _, cx in seq] == [b for b, _ in seq]


def test_dwt53_exact_all_lengths():
    rng = random.Random(12)
    for n in range(1, 50):
        x = [rng.randint(-1000, 1000) for _ in range(n)]
        s, d = _fwd53(x)
        assert _inv53(s, d) == x, n
        # subband sizes per spec: ceil/floor split
        assert len(s) == (n + 1) // 2 and len(d) == n // 2


def test_dwt53_2d_exact():
    rng = random.Random(13)
    for w, h in [(1, 1), (2, 3), (5, 5), (8, 13), (16, 16), (31, 2)]:
        m = [[rng.randint(-300, 300) for _ in range(w)] for _ in range(h)]
        assert _dwt2_inv(_dwt2_fwd(m), w, h) == m


def test_t1_roundtrip_fuzz():
    rng = random.Random(14)
    for _ in range(60):
        w, h = rng.randint(1, 16), rng.randint(1, 16)
        band = rng.choice(["LL", "HL", "LH", "HH"])
        dens = rng.choice([0.05, 0.5, 1.0])
        coefs = [rng.randint(-300, 300) if rng.random() < dens else 0
                 for _ in range(w * h)]
        data, npasses, mb = _t1_encode(coefs, w, h, band)
        if mb == 0:
            assert not any(coefs)
            continue
        assert _t1_decode(data, w, h, band, mb, npasses) == coefs


def test_codestream_roundtrip_matrix():
    rng = random.Random(15)
    for levels in (0, 1, 2):
        for nc in (1, 3):
            w = rng.randint(1, 40)
            h = rng.randint(1, 40)
            px = bytes(rng.randrange(256) for _ in range(w * h * nc))
            cs = encode_jpx(w, h, nc, px, levels=levels)
            assert decode_jpx(cs) == (w, h, nc, px)


def test_levels_rotation_pixel_invariant():
    # same pixels through 0/1/2 decompositions decode identically — the
    # hazard-rotation property the real_media_decode jp2k oracle relies on
    px = bytes((7 * x + 11 * y) % 256 for y in range(24) for x in range(19))
    outs = {decode_jpx(encode_jpx(19, 24, 1, px, levels=lv))[3]
            for lv in (0, 1, 2)}
    assert outs == {px}


def test_profile_gates_fail_loud():
    with pytest.raises(ValueError, match="sample count"):
        encode_jpx(4, 4, 1, b"\x00" * 15)
    with pytest.raises(ValueError, match="code-block"):
        encode_jpx(200, 200, 1, bytes(200 * 200), levels=1)
    with pytest.raises(ValueError):
        encode_jpx(4, 4, 2, bytes(32))  # 2 components outside profile


def test_truncation_and_bitflip_fail_loud_or_roundtrip():
    # ValueError contract: a damaged stream must never escape with a
    # non-ValueError exception (the corrupt-row-skip boundary), and the
    # decoder must never hang or allocate past the budget
    rng = random.Random(16)
    px = bytes(rng.randrange(256) for _ in range(20 * 14))
    cs = encode_jpx(20, 14, 1, px, levels=1)
    for cut in range(2, len(cs), max(1, len(cs) // 40)):
        try:
            decode_jpx(cs[:cut])
        except ValueError:
            pass
    for _ in range(200):
        ba = bytearray(cs)
        ba[rng.randrange(len(ba))] ^= 1 << rng.randrange(8)
        try:
            got = decode_jpx(bytes(ba))
            assert len(got[3]) == got[0] * got[1] * got[2]
        except ValueError:
            pass


def test_hostile_dims_rejected_before_allocation():
    import struct

    # hand-build SOC+SIZ declaring 60000x60000x3 — must hit the shared
    # sample-budget guard, not a giant allocation
    siz = struct.pack(">HIIIIIIIIH", 0, 60000, 60000, 0, 0, 60000, 60000,
                      0, 0, 3) + struct.pack(">BBB", 7, 1, 1) * 3
    data = b"\xff\x4f\xff\x51" + struct.pack(">H", 2 + len(siz)) + siz
    with pytest.raises(ValueError, match="sample budget"):
        decode_jpx(data)


def _jpx_xobject_dims(i: int, j: int) -> dict:
    # embedded image j of doc i: sizes, channels and wavelet levels rotate
    return {
        "w": 6 + (i * 5 + j * 3) % 19,
        "h": 5 + (i * 2 + j) % 14,
        "ch": (1, 3)[(i + j) % 2],
        "levels": (i + j) % 3,
        "seed": i * 13 + j * 7,
    }


def _jpx_pixels(s: int, w: int, h: int, ch: int) -> bytes:
    return bytes(
        (s + 7 * x + 11 * y + 97 * c) % 256
        for y in range(h) for x in range(w) for c in range(ch)
    )


def test_pdf_jpx_chain_value_identity():
    # writer → PDF walk → decode: embedded JPX XObjects come back out of
    # image_inventory and decode to the generating formula (lossless 5/3)
    from b_pdf_parser_spark.pdfmodel import image_inventory
    from b_pdf_parser_spark.pdfwriter import build_pdf

    for i in (2, 7, 11):
        imgs = []
        for j in range(i % 3):
            d = _jpx_xobject_dims(i, j)
            imgs.append({
                "page": 0, "width": d["w"], "height": d["h"],
                "filter": "JPXDecode",
                "data": encode_jpx(
                    d["w"], d["h"], d["ch"],
                    _jpx_pixels(d["seed"], d["w"], d["h"], d["ch"]),
                    levels=d["levels"]),
            })
        pdf = build_pdf([[(40.0, 700.0, f"jpx {i}")]], images=imgs)
        n_jpx = 0
        for rec in image_inventory(pdf, with_data=True):
            if rec["filter"] != "JPXDecode":
                continue
            j = int(rec["name"][2:])
            d = _jpx_xobject_dims(i, j)
            w, h, ch, px = decode_jpx(rec["data"])
            assert (w, h, ch) == (d["w"], d["h"], d["ch"])
            assert px == _jpx_pixels(d["seed"], d["w"], d["h"], d["ch"])
            n_jpx += 1
        assert n_jpx == i % 3
