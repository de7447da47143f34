"""Parser ⇄ writer round-trip: the from-scratch PDF parse + layout must
reproduce the generator's golden span sequences bit-exactly (the north-rule
span-sequence equality contract), across all corpus variants: raw/base64/
gzip-wrapped bytes, Flate-compressed streams, simple and Type0/ToUnicode
fonts, TJ kerning, Td-relative positioning, multi-node page trees (skew
docs), and interleaved image XObjects."""

import pytest

from docprompt_spark import kernels, pdfparse
from docprompt_spark.corpus import gen_doc


def spans_from_pdf(pdf_bytes: bytes):
    pages = pdfparse.extract_pages(pdf_bytes)
    prs = []
    for p in pages:
        layout = kernels.build_page_layout(p["words"])
        spans = kernels.assemble_page_spans(layout, p["images"])
        prs.append(
            {
                "page_number": p["page_number"],
                "page_text": layout["page_text"],
                "spans": spans,
            }
        )
    return kernels.assemble_doc_spans(prs)


@pytest.mark.parametrize("idx", list(range(12)))
def test_roundtrip_span_equality(idx):
    d = gen_doc(idx, seed=42)
    assert spans_from_pdf(d["pdf"]) == d["spans"]


def test_roundtrip_skew_doc_multinode_page_tree():
    d = gen_doc(47, seed=42)  # skew tail: 24-64 pages, intermediate /Pages nodes
    assert d["n_pages"] >= 24
    assert pdfparse.page_count(d["pdf"]) == d["n_pages"]
    assert spans_from_pdf(d["pdf"]) == d["spans"]


def test_page_range_parse_matches_full_parse():
    d = gen_doc(47, seed=42)
    full = pdfparse.extract_pages(d["pdf"])
    lo, hi = 5, 9
    part = pdfparse.extract_pages(d["pdf"], lo, hi)
    assert [p["page_number"] for p in part] == [6, 7, 8, 9]
    for a, b in zip(part, full[lo:hi]):
        assert a == b


def test_wrapper_sniffing_variants():
    # idx % 4 selects raw / base64 / gzip / base64(gzip)
    for idx in (4, 5, 6, 7):
        d = gen_doc(idx, seed=7)
        raw = pdfparse.unwrap_pdf_bytes(d["pdf"])
        assert raw[:5] == b"%PDF-"
        assert spans_from_pdf(d["pdf"]) == d["spans"]


def test_media_spans_present_and_content_addressed():
    import hashlib

    found = False
    for idx in range(20):
        d = gen_doc(idx, seed=42)
        media = [s for s in d["spans"] if s["kind"] == "media"]
        for m in media:
            found = True
            assert m["text"] is None
            assert len(m["media_ref"]) == 32  # md5 hex of the image payload
            assert m["offset"] >= 0
    assert found


def test_xref_stream_envelope_roundtrip():
    """PDF 1.5+ envelope (xref stream + ObjStm, spec 7.5.7-7.5.8): same
    content as classic xref, parse must recover identical words/images."""
    from docprompt_spark.pdfparse import extract_pages
    from docprompt_spark.pdfwrite import write_pdf
    import random

    from docprompt_spark import corpus

    rng = random.Random("xrefstream-test")
    pages = [corpus._gen_page(rng, use_f2, 42)[0] for use_f2 in (False, True, False)]
    classic = write_pdf(pages, compress_streams=True)
    modern = write_pdf(pages, compress_streams=True, xref_stream=True)
    assert modern.startswith(b"%PDF-1.5")
    assert b"/Type /XRef" in modern and b"/ObjStm" in modern
    pc, pm = extract_pages(classic), extract_pages(modern)
    assert len(pc) == len(pm) == 3
    for a, b in zip(pc, pm):
        assert a["words"] == b["words"]
        assert a["images"] == b["images"]


def test_gen_doc_envelope_rotation_spans_invariant():
    """idx%5==1 docs use the xref-stream envelope; golden spans must be
    identical across envelopes for the same (idx, seed)."""
    from docprompt_spark.corpus import gen_doc

    a = gen_doc(1, seed=42, envelope="classic")
    b = gen_doc(1, seed=42, envelope="xrefstream")
    rotated = gen_doc(1, seed=42)  # default rotation picks xrefstream for idx 1
    assert a["spans"] == b["spans"]
    assert rotated["pdf"] != a["pdf"]


def test_stream_predictor_decoders_match_png_reference():
    """_apply_predictor must invert every PNG row filter; cross-check it
    against the PNG codec's own encoder output (same filter definitions)."""
    import struct
    import zlib

    import numpy as np

    from docprompt_spark import png
    from docprompt_spark.pdfparse import _apply_predictor

    rng = np.random.RandomState(3)
    arr = rng.randint(0, 256, (12, 7), dtype=np.uint8)
    for ft in range(5):
        data = png.encode(arr, ft)
        # extract the raw filtered bytes from the IDAT chunk
        pos = 8
        (ihdr_len,) = struct.unpack(">I", data[pos : pos + 4])
        idat_off = pos + 12 + ihdr_len
        (idat_len,) = struct.unpack(">I", data[idat_off : idat_off + 4])
        filtered = zlib.decompress(data[idat_off + 8 : idat_off + 8 + idat_len])
        parms = {"Predictor": 10 + ft, "Columns": 7, "Colors": 1,
                 "BitsPerComponent": 8}
        out = _apply_predictor(filtered, parms, lambda x: x)
        assert out == arr.tobytes(), f"filter {ft}"


def test_tiff_predictor():
    from docprompt_spark.pdfparse import _apply_predictor

    row = bytes([10, 5, 5, 246, 0])  # deltas decoding to 10,15,20,10,10
    out = _apply_predictor(row, {"Predictor": 2, "Columns": 5}, lambda x: x)
    assert list(out) == [10, 15, 20, 10, 10]


import itertools

import pytest as _pytest


@_pytest.mark.parametrize(
    "xref_stream,comp,enc",
    list(
        itertools.product(
            [False, True],
            [False, "flate", "lzw"],
            [None, "rc4-40", "rc4-128", "aes-128", "aes-256"],
        )
    ),
)
def test_full_envelope_matrix_roundtrips(xref_stream, comp, enc):
    """Every writer-envelope combination (xref form x stream filter x
    encryption mode, 30 cells) parses back to the exact plaintext-classic
    words/images — pinning the combined envelope matrix (r3 verdict
    stretch #10)."""
    from docprompt_spark import pdfparse, pdfwrite
    from docprompt_spark.corpus import _gen_doc_pages

    doc_id, pages = _gen_doc_pages(0, 17, 0)
    pages_w = [p for p, _, _ in pages][:1]  # one page keeps aes-256 cheap
    base = pdfparse.extract_pages(pdfwrite.write_pdf(pages_w, doc_title=doc_id))
    pdf = pdfwrite.write_pdf(
        pages_w, doc_title=doc_id, compress_streams=comp,
        xref_stream=xref_stream, encrypt=enc,
    )
    got = pdfparse.extract_pages(pdf)
    assert [p["words"] for p in got] == [p["words"] for p in base]
    assert [p["images"] for p in got] == [p["images"] for p in base]


def test_tounicode_bfrange_forms_and_surrogates():
    """ToUnicode (§9.10.3): continuous bfrange increments the destination
    as a BYTE string (so a UTF-16 surrogate-pair destination advances on
    its last code unit — the emoji form), the array-destination bfrange
    (`1 beginbfrange <lo> <hi> [<d> ...]`) maps positionally incl.
    multi-char ligature destinations, and bfchar handles surrogate
    pairs."""
    from docprompt_spark import pdfparse

    cm = pdfparse._parse_tounicode(
        b"2 beginbfrange\n"
        b"<0001> <0003> <d83dde00>\n"
        b"<0010> <0012> [<0041> <00420043> <d83dde42>]\n"
        b"endbfrange\n"
        b"1 beginbfchar\n<0020> <d83ddc4d>\nendbfchar\n"
    )
    assert cm[1] == "\U0001F600"
    assert cm[3] == "\U0001F602"
    assert cm[0x10] == "A" and cm[0x11] == "BC"
    assert cm[0x12] == "\U0001F642"
    assert cm[0x20] == "\U0001F44D"


def test_tounicode_serialization_forms_rotate_in_corpus():
    """The writer rotates bfchar vs array-bfrange serialization per doc
    charset; the mapping — and therefore golden text — is
    serialization-invariant."""
    from docprompt_spark import corpus, pdfparse

    forms = set()
    for idx in (0, 3, 6, 9, 12, 15, 18, 21):
        d = corpus.gen_doc(idx, seed=42, skew_every=0)
        raw = pdfparse.unwrap_pdf_bytes(d["pdf"])
        pf = pdfparse.PdfFile(raw)
        res = pf.resolve(
            pf._inherited(pf.resolve(pf.page_refs[0]), "Resources")
        )
        fonts = pf.resolve(res.get("Font", {})) or {}
        if "F2" not in fonts:
            continue
        f2 = pf.resolve(fonts["F2"])
        tu = pf.resolve(f2["ToUnicode"]).data(pf.resolve)
        forms.add(b"beginbfrange" in tu)
    assert forms == {True, False}


def test_ascii85_and_runlength_filters():
    """ASCII85Decode (§7.4.3, incl. the [/ASCII85Decode /FlateDecode]
    cascade and 'z' shorthand) and RunLengthDecode (§7.4.5) round-trip;
    the default corpus rotates a85 content streams (idx%4==3) and half
    the structured XMP packets ride RunLength."""
    import base64
    import random

    from docprompt_spark import corpus, pdfparse
    from docprompt_spark.pdfparse import (
        _a85_decode, _a85_encode, _rle_decode, _rle_encode,
    )

    rng = random.Random(3)
    for _ in range(50):
        data = bytes(rng.randrange(256) for _ in range(rng.randrange(150)))
        data += b"\x00" * rng.randrange(10)
        assert _a85_decode(_a85_encode(data)) == data
        assert _rle_decode(_rle_encode(data)) == data
    assert _a85_decode(b"9jqo^BlbD-BleB1DJ+*+F(f,q~>") == b"Man is distinguished"
    assert _a85_decode(b"z~>") == b"\x00\x00\x00\x00"
    # §7.4.3: a final partial group of one character is an error (the
    # stdlib decoder would return b"" for b"!")
    for lone in (b"!~>", b"<~9jqo^ \n!~>", b"z!"):
        with pytest.raises(ValueError):
            _a85_decode(lone)

    # the group-at-once decode against the stdlib's per-character one, on
    # bodies with whitespace, 'z' (at and inside a group), stray and
    # overflowing characters, and every final-group length
    def reference(data):
        body = data.translate(None, b" \t\n\r\x0c\x00")
        if (len(body) - body.count(b"z")) % 5 == 1:
            raise ValueError("final group of one character")
        return base64.a85decode(body, ignorechars=b"")

    def outcome(fn, data):
        try:
            return fn(data)
        except ValueError:
            return ValueError

    for _ in range(3000):
        n = rng.randrange(30)
        body = bytes(rng.choice(b"!#0AZafsu\x00 \nuz~v") for _ in range(n))
        assert outcome(_a85_decode, body) == outcome(reference, body), body
    for body in (b"s8W-!", b's8W-"', b"uuuuu", b"!!!!!!!", b"", b"!!z!!!"):
        assert outcome(_a85_decode, body) == outcome(reference, body), body

    d = corpus.gen_doc(3, seed=42, skew_every=0)
    raw = pdfparse.unwrap_pdf_bytes(d["pdf"])
    assert b"/ASCII85Decode" in raw
    assert pdfparse.PdfFile(raw).extract_page(0)["words"]

    rl_seen = False
    for idx in range(12):
        d = corpus.gen_doc(idx, seed=7, skew_every=0, envelope="structured")
        raw = pdfparse.unwrap_pdf_bytes(d["pdf"])
        if b"/RunLengthDecode" in raw:
            rl_seen = True
            assert pdfparse.PdfFile(raw).xmp_metadata() is not None
    assert rl_seen
