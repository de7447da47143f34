"""LZW codec (docprompt_spark.lzw) — PDF /LZWDecode, TIFF variant."""

import random
import zlib

import pytest

from docprompt_spark import lzw


def _pack(codes, w=9):
    acc = n = 0
    out = bytearray()
    for c in codes:
        acc = (acc << w) | c
        n += w
        while n >= 8:
            n -= 8
            out.append((acc >> n) & 0xFF)
    if n:
        out.append((acc << (8 - n)) & 0xFF)
    return bytes(out)


def test_known_vector_ababab():
    # "ABABABA": Clear, A, B, AB(258), KwKwK hit ABA(260), EOD — 9-bit codes
    v = _pack([256, 65, 66, 258, 260, 257])
    assert lzw.encode(b"ABABABA") == v
    assert lzw.decode(v) == b"ABABABA"


def test_kwkwk_decode_path():
    # code == len(table): entry = prev + prev[0]
    assert lzw.decode(_pack([256, 97, 258, 259, 257])) == b"a" + b"aa" + b"aaa"


def test_roundtrip_across_width_boundaries():
    rng = random.Random(7)
    for size in [0, 1, 255, 300, 1000, 5000, 20000, 120000]:
        for kind in ("rand", "runs", "text"):
            if kind == "rand":
                data = bytes(rng.randrange(256) for _ in range(size))
            elif kind == "runs":
                data = b"".join(
                    bytes([rng.randrange(4)]) * rng.randrange(1, 50)
                    for _ in range(size // 20 + 1)
                )[:size]
            else:
                data = (b"the quick brown fox jumps " * (size // 26 + 1))[:size]
            assert lzw.decode(lzw.encode(data)) == data


def test_table_reset_at_4095():
    rng = random.Random(3)
    big = bytes(rng.randrange(16) for _ in range(300000))  # >4096 entries
    enc = lzw.encode(big)
    assert lzw.decode(enc) == big
    assert len(enc) < len(big)  # actually compresses low-entropy data


def test_missing_eod_tolerated_and_bad_code_rejected():
    v = _pack([256, 65, 66])  # truncated, no EOD
    assert lzw.decode(v) == b"AB"
    with pytest.raises(ValueError):
        lzw.decode(_pack([256, 300, 257]))  # 300 not yet in table


def test_pdf_stream_integration():
    """An LZW-compressed content stream parses identically to Flate."""
    from docprompt_spark.corpus import gen_corpus

    lzw_doc = next(iter(gen_corpus(1, seed=99, skew_every=0, envelope="lzw")))
    plain = next(iter(gen_corpus(1, seed=99, skew_every=0)))
    assert lzw_doc["pdf"] != plain["pdf"]
    assert b"/LZWDecode" in bytes(lzw_doc["pdf"])
    assert lzw_doc["spans"] == plain["spans"]
    from docprompt_spark import pdfparse

    pages_a = pdfparse.extract_pages(bytes(lzw_doc["pdf"]))
    pages_b = pdfparse.extract_pages(bytes(plain["pdf"]))
    assert [p["words"] for p in pages_a] == [p["words"] for p in pages_b]


def test_lzw_image_decodes():
    from docprompt_spark import multimodal

    payload = lzw.encode(bytes(range(256)) * 4)
    px = multimodal.decode_image(payload, 32, 32, "lzw-gray8")
    assert px.shape == (32, 32) and px[0, 5] == 5


def _early_change_0_sample():
    # long enough to cross the 9 -> 10 bit width bump, where the two
    # EarlyChange values differ by one code
    data = bytes((i * 37 + (i >> 3)) % 256 for i in range(3000))
    enc = lzw.encode(data, early_change=0)
    with pytest.raises(ValueError):
        lzw.decode(enc)  # read as the default EarlyChange 1
    return data, enc


def test_stream_honours_early_change_0():
    from docprompt_spark.pdfparse import Name, Stream

    data, enc = _early_change_0_sample()
    for parms in ({"EarlyChange": 0}, [{"EarlyChange": 0}]):
        stm = Stream(
            {"Filter": Name("LZWDecode"), "DecodeParms": parms}, enc
        )
        assert stm.data(lambda x: x) == data
    default = Stream({"Filter": Name("LZWDecode")}, lzw.encode(data))
    assert default.data(lambda x: x) == data


def test_lzw_image_with_early_change_0_decodes():
    """An LZW image's /EarlyChange 0 rides its codec tag as ;e0, and the
    decode stage reads the payload with it."""
    import numpy as np

    from docprompt_spark import multimodal
    from docprompt_spark.pdfparse import Name

    data, enc = _early_change_0_sample()
    xo = {
        "Filter": Name("LZWDecode"), "ColorSpace": Name("DeviceGray"),
        "BitsPerComponent": 8, "Width": 60, "Height": 50,
        "DecodeParms": {"EarlyChange": 0},
    }
    codec = multimodal._codec_of(xo, lambda x: x)
    assert codec == "lzw-gray8;e0"
    px = multimodal.decode_image(enc, 60, 50, codec)
    assert np.array_equal(px, np.frombuffer(data, np.uint8).reshape(50, 60))
    xo["DecodeParms"] = {"EarlyChange": 1}
    assert multimodal._codec_of(xo, lambda x: x) == "lzw-gray8"
    xo["ColorSpace"] = Name("DeviceRGB")
    xo["DecodeParms"] = {"EarlyChange": 0}
    assert multimodal._codec_of(xo, lambda x: x) == "lzw-rgb8;e0"
    rgb = multimodal.decode_image(enc, 20, 50, "lzw-rgb8;e0")
    want = multimodal.rgb_to_gray8(
        np.frombuffer(data, np.uint8).reshape(50, 20, 3)
    )
    assert np.array_equal(rgb, want)


def test_lzw_gray_image_undoes_its_predictor():
    """An LZW gray image with PNG Up rows (tag ``lzw-gray8;p12;c8``)
    decodes to the same pixels as its Flate twin."""
    import numpy as np

    from docprompt_spark import multimodal
    from docprompt_spark.pdfparse import Name

    px = np.array([[(r * 29 + c * 11) % 256 for c in range(8)] for r in range(8)],
                  dtype=np.uint8)
    up = np.diff(px.astype(np.int16), axis=0, prepend=0).astype(np.uint8)
    rows = b"".join(b"\x02" + row.tobytes() for row in up)  # filter 2 = Up
    xo = {
        "Filter": Name("LZWDecode"), "ColorSpace": Name("DeviceGray"),
        "BitsPerComponent": 8, "Width": 8, "Height": 8,
        "DecodeParms": {"Predictor": 12, "Columns": 8},
    }
    codec = multimodal._codec_of(xo, lambda x: x)
    assert codec == "lzw-gray8;p12;c8"
    got = multimodal.decode_image(lzw.encode(rows), 8, 8, codec)
    flate = multimodal.decode_image(zlib.compress(rows), 8, 8, "flate-gray8;p12;c8")
    assert np.array_equal(flate, px)
    assert np.array_equal(got, flate)


def test_final_code_width_boundary_phantom_entry():
    """The decoder adds a PHANTOM table entry for the final data code and
    may bump the code width before reading EOD; the encoder must mirror
    that bump. Hit by real corpus content (doc idx 9118 page 7 in the
    r3 bench corpus); the dense size sweep crosses the 511/1023 boundaries
    with the final code repeatedly."""
    for n in range(400, 1300):
        data = bytes((i * 37 + (i >> 3)) % 256 for i in range(n))
        assert lzw.decode(lzw.encode(data)) == data, n


def test_full_bench_corpus_slice_parses():
    """Every LZW-enveloped doc in a corpus slice round-trips through the
    full parse (regression: three of 24k docs failed before the phantom
    bump fix)."""
    from docprompt_spark import pdfparse
    from docprompt_spark.corpus import gen_doc

    for idx in (9118, 16262, 18142, 2, 6, 10):
        d = gen_doc(idx, seed=42)
        assert pdfparse.extract_pages(bytes(d["pdf"]))


def test_large_stream_roundtrip_masked_accumulator():
    """r6: the decoder/encoder truncate their bit accumulators after each
    code (without it both were quadratic in stream size — 11x measured on
    100 KB streams). Pin correctness of the masked path on streams large
    enough that every width (9-12 bits) and several CLEAR resets are
    crossed, plus a low-entropy stream that rides maximum-length table
    entries."""
    import random

    rng = random.Random(20260822)
    words = [b"scan", b"batch", b"line", b"column", b"value", b"spark"]
    big = b" ".join(rng.choice(words) for _ in range(30000))  # ~160 KB
    assert lzw.decode(lzw.encode(big)) == big
    runs = b"".join(bytes([b]) * rng.randrange(1, 60) for b in range(256)) * 3
    assert lzw.decode(lzw.encode(runs)) == runs


def _reference_decode(data: bytes, early_change: int = 1) -> bytes:
    """The scalar decoder: one code per loop step, bits read a byte at a
    time. ``lzw.decode`` unpacks a run of codes at once and must return
    what this returns, and raise where this raises."""
    out = bytearray()
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table, tsize, width = list(base), 258, 9
    limit, mask = (1 << 9) - early_change, (1 << 9) - 1
    prev, acc, nbits, pos = b"", 0, 0, 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return bytes(out)
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        code = (acc >> nbits) & mask
        acc &= (1 << nbits) - 1
        if code == lzw.EOD:
            return bytes(out)
        if code == lzw.CLEAR:
            table, tsize, width = list(base), 258, 9
            limit, mask = (1 << 9) - early_change, (1 << 9) - 1
            prev = b""
            continue
        if prev == b"":
            if code >= tsize:
                raise ValueError("LZW: first code not in table")
            entry = table[code]
        elif code < tsize:
            entry = table[code]
            table.append(prev + entry[:1])
            tsize += 1
        elif code == tsize:
            entry = prev + prev[:1]
            table.append(entry)
            tsize += 1
        else:
            raise ValueError("LZW: code out of range")
        out += entry
        prev = entry
        if tsize >= limit and width < 12:
            width += 1
            limit, mask = (1 << width) - early_change, (1 << width) - 1


def _outcome(fn, *args):
    try:
        return fn(*args)
    except ValueError as e:
        return ("ValueError", str(e))


def test_decode_matches_scalar_reference():
    """Valid streams across every code width and several Clears, cut at
    random byte offsets (no EOD), with random bytes flipped (codes out of
    range), with both EarlyChange values, and with a Clear and an EOD
    landing in the middle of a run of same-width codes."""
    rng = random.Random(11)
    streams = []
    for size in (0, 1, 40, 300, 700, 1500, 3000, 9000, 20000):
        data = bytes(rng.choice(b"abcdefgh ") for _ in range(size))
        streams.append(lzw.encode(data))
    streams.append(lzw.encode(bytes(rng.randrange(256) for _ in range(12000))))
    cases = list(streams)
    for enc in streams:
        for _ in range(6):
            cut = rng.randrange(len(enc) + 1)
            cases.append(enc[:cut])
            flipped = bytearray(enc)
            if flipped:
                flipped[rng.randrange(len(flipped))] ^= 1 << rng.randrange(8)
            cases.append(bytes(flipped))
    cases.append(_pack([256, 65, 66, 258, 256, 67, 68, 259, 257, 69]))
    cases.append(_pack([256, 65, 66, 257, 67]))
    cases.append(_pack([256, 256, 65, 256, 257]))
    for data in cases:
        for early in (1, 0):
            assert _outcome(lzw.decode, data, early) == _outcome(
                _reference_decode, data, early
            )
