"""CID-keyed CFF font programs (CIDFontType0C — CFF spec §18, PDF 32000
§9.7.4 / Table 126): the embedding form modern subsetters and CJK producers
use behind /FontFile3 on a /CIDFontType0 descendant. The reference renders
these through pdfium's CID font path (_pdfium.py:126-135); here the loop is
author (fontgen.build_cff_cid) -> embed (write_pdf cid_font_program) ->
parse (cff.cff_cid_glyph_outlines: ROS, charset gid->CID, FDArray/FDSelect,
per-FD Private widths) -> rasterize, with golden spans/rasters
form-INVARIANT vs the metrics-only CIDFontType2 descendant."""

import hashlib
import warnings

from docprompt_spark import cff, fontgen, kernels, pdfparse, pdfwrite, rasterize

CHARS = "Hello, CID World! 0123 ΔΩλ文書"


def _contours_eq(a, b):
    return [[tuple(p) for p in ct] for ct in a] == [
        [tuple(p) for p in ct] for ct in b
    ]


def test_cid_cff_roundtrip_both_fdselect_formats():
    pool = fontgen.glyph_pool(CHARS)
    schars = sorted(set(CHARS), key=ord)
    for fmt in (0, 3):
        blob = fontgen.build_cff_cid(CHARS, fdselect_format=fmt)
        out = cff.cff_cid_glyph_outlines(blob)
        assert len(out) == len(schars)
        for cid, c in enumerate(schars, start=1):
            w, contours = out[cid]
            wp, cp = pool[c]
            # widths only come out right if the glyph's FD (and so its
            # nominalWidthX) was resolved through FDSelect
            assert w == wp, (c, w, wp)
            assert _contours_eq(contours, cp), c


def test_parsers_are_mutually_exclusive():
    cid_blob = fontgen.build_cff_cid(CHARS)
    name_blob = fontgen.build_cff(CHARS)
    assert cff.cff_glyph_outlines(cid_blob) == {}
    assert cff.cff_cid_glyph_outlines(name_blob) == {}


def _pages():
    return [
        {
            "width": 612.0,
            "height": 792.0,
            "images": [],
            "vectors": [],
            "text_ops": [
                {
                    "font": "F1",
                    "size": 12,
                    "x": 72,
                    "y": 700,
                    "mode": "Tm",
                    "segments": ["Plain ascii line"],
                },
                {
                    "font": "F2",
                    "size": 12,
                    "x": 72,
                    "y": 660,
                    "mode": "Tm",
                    "segments": ["Unicode Δλ 文書 line"],
                },
            ],
        }
    ]


def _words(pdf):
    pf = pdfparse.PdfFile(pdf)
    return pf, [
        (w["text"], round(w["x0"], 6), round(w["x1"], 6), round(w["top"], 6))
        for w in pf.extract_page(0)["words"]
    ]


def test_descendant_form_invariance_spans_and_rasters():
    """CIDFontType2 (metrics-only) and CIDFontType0 (+real program) docs
    extract identical words AND render identical rasters."""
    md5s, words = set(), set()
    for cid_prog in (False, True):
        pdf = pdfwrite.write_pdf(
            _pages(), doc_title="cidtest", cid_font_program=cid_prog
        )
        pf, ws = _words(pdf)
        words.add(tuple(ws))
        page = pf.extract_page(0, with_image_data=True)
        layout = kernels.build_page_layout(page["words"])
        wds = rasterize.layout_words(layout)
        canvas = rasterize.render_page(
            wds, [], page["width"], page["height"],
            glyphs=pf.glyph_outline_pool(),
        )
        md5s.add(hashlib.md5(canvas.tobytes()).hexdigest())
    assert len(words) == 1
    assert len(md5s) == 1


def test_cid_program_is_the_pool_source_under_base14():
    """With font_format='base14' F1 embeds NO program, so the unicode
    chars' outlines can only come from the CID-keyed CFF — proves the
    pool path through ToUnicode CID->char mapping is load-bearing."""
    pdf = pdfwrite.write_pdf(
        _pages(),
        doc_title="cidbase14",
        font_format="base14",
        cid_font_program=True,
    )
    pf = pdfparse.PdfFile(pdf)
    pool = pf.glyph_outline_pool()
    gt = fontgen.glyph_pool("Unicode Δλ 文書 line")
    for c in "UnicodeΔλ文書":
        w, contours = pool[c]
        wp, cp = gt[c]
        assert w == wp
        assert _contours_eq(contours, cp), c
    # and without the program, base14 docs have no outline source at all
    pdf2 = pdfwrite.write_pdf(
        _pages(), doc_title="cidbase14b", font_format="base14"
    )
    assert "文" not in pdfparse.PdfFile(pdf2).glyph_outline_pool()


def test_envelope_composition():
    """CID program composes with encryption and the xref-stream/ObjStm
    envelope (the font stream decrypts like any other stream)."""
    _, base = _words(
        pdfwrite.write_pdf(_pages(), doc_title="cidenv", cid_font_program=True)
    )
    for enc in (None, "rc4-128", "aes-128", "aes-256"):
        for xs in (False, True):
            pdf = pdfwrite.write_pdf(
                _pages(),
                doc_title="cidenv",
                cid_font_program=True,
                encrypt=enc,
                xref_stream=xs,
            )
            pf, ws = _words(pdf)
            assert ws == base, (enc, xs)
            assert "文" in pf.glyph_outline_pool(), (enc, xs)


def test_corpus_slice_spans_match_golden():
    """A default-corpus cid-program doc (idx%6==0 with F2 text) still
    extracts exactly its golden spans."""
    from docprompt_spark import corpus
    from docprompt_spark.pdfparse import unwrap_pdf_bytes
    from tests.test_pdf_roundtrip import spans_from_pdf

    found = 0
    for idx in (0, 6, 12, 18, 24, 30):
        doc = corpus.gen_doc(idx, seed=42)
        pdf = unwrap_pdf_bytes(bytes(doc["pdf"]))
        if b"CIDFontType0C" not in pdf:
            continue  # this idx happened to draw no F2 paragraphs
        found += 1
        assert spans_from_pdf(doc["pdf"]) == doc["spans"], idx
    assert found >= 2  # the slice actually rotates the program in


def test_eexec_decrypt_vectorized_matches_scalar():
    """r6: eexec_decrypt is vectorized via a modular prefix sum over
    uint16 numpy arrays; pin equivalence against the per-byte reference
    recurrence for both the eexec and charstring keys, several skips,
    and lengths crossing numpy's internal thresholds."""
    import random

    from docprompt_spark import cff

    def scalar(data, r, skip):
        out = bytearray()
        for c in data:
            out.append((c ^ (r >> 8)) & 0xFF)
            r = ((c + r) * 52845 + 22719) & 0xFFFF
        return bytes(out[skip:])

    rng = random.Random(7)
    keys = ((55665, 4), (4330, 4), (4330, 0), (55665, 2))
    # a key over 16 bits acts as its low 16 bits, with no numpy overflow
    keys += tuple((r0 + 65536, skip) for r0, skip in keys)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for r0, skip in keys:
            for n in (0, 1, 2, 3, 17, 256, 4097):
                data = bytes(rng.randrange(256) for _ in range(n))
                assert cff.eexec_decrypt(data, r=r0, skip=skip) == scalar(
                    data, r0, skip
                ), (r0, skip, n)
