"""Multimodal plumbing: media table extraction, stubbed codec kernels —
schemas, batch shapes, fan-out, and joinability with extraction media spans."""

import pyspark.sql.functions as F
import pytest

from docprompt_spark import multimodal, pipeline


@pytest.fixture(scope="module")
def media(spark):
    docs = pipeline.corpus_df(spark, 16, seed=11, skew_every=0)
    docs.persist().count()
    m = multimodal.media_table(docs.select("doc_id", "pdf", "n_pages"))
    m.persist().count()
    return docs, m


@pytest.mark.parametrize(
    "envelope", [None, "inline", "ocg", "scanned"], ids=lambda e: e or "default"
)
def test_media_table_matches_extraction_media_spans(spark, media, envelope):
    """Media spans and media_table rows come from the same image list. The
    envelopes are where a separate image walk could part from it: BI/ID/EI
    inline images, hidden optional content and full-page scans."""
    docs, m = media
    if envelope is not None:
        docs = pipeline.corpus_df(spark, 12, seed=11, skew_every=0, envelope=envelope)
        m = multimodal.media_table(docs.select("doc_id", "pdf", "n_pages"))
    result = pipeline.run_extraction(spark, docs.select("doc_id", "pdf", "n_pages"))
    spans_media = (
        pipeline.spans_exploded(result)
        .filter(F.col("kind") == "media")
        .select("doc_id", "media_ref")
    )
    # every media span joins to exactly one media payload row (content-addressed)
    joined = spans_media.join(m, ["doc_id", "media_ref"], "left")
    assert joined.filter(F.col("payload").isNull()).count() == 0
    n_spans = spans_media.count()
    assert n_spans > 0
    assert joined.count() == n_spans == m.count()


def test_media_payload_content_addressed(media):
    import hashlib

    _, m = media
    rows = m.select("media_ref", "payload").collect()
    assert rows
    for r in rows:
        assert hashlib.md5(bytes(r["payload"])).hexdigest() == r["media_ref"]


def test_image_features_deterministic(media):
    _, m = media
    f1 = {r["media_ref"]: r for r in multimodal.image_features(m).collect()}
    f2 = {r["media_ref"]: r for r in multimodal.image_features(m).collect()}
    assert f1.keys() == f2.keys() and len(f1) > 0
    for k in f1:
        assert f1[k] == f2[k]
        assert 0.0 <= f1[k]["mean_intensity"] <= 255.0


def test_thumbnails_shape(media):
    _, m = media
    rows = multimodal.resize_thumbnails(m).collect()
    assert rows
    for r in rows:
        assert len(r["thumb"]) == 64


def test_frame_sample_fanout(media):
    _, m = media
    frames = multimodal.frame_sample(m)
    per_ref = frames.groupBy("media_ref").count().collect()
    assert per_ref
    assert all(1 <= r["count"] <= 4 for r in per_ref)
    # frame_idx dense from 0
    idx = frames.groupBy("media_ref").agg(
        F.min("frame_idx").alias("lo"), F.max("frame_idx").alias("hi"), F.count("*").alias("n")
    )
    bad = idx.filter((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1)).count()
    assert bad == 0


def test_lossless_codecs_decode_real_pixels():
    """gray8 / flate-gray8 / png decode REAL pixels; dct raises (external
    codec genuinely required) and decode_or_stub falls back to the stub."""
    import zlib

    import numpy as np

    from docprompt_spark import png

    samples = bytes(range(24))
    arr = np.frombuffer(samples, dtype=np.uint8).reshape(4, 6)
    assert (multimodal.decode_image(samples, 6, 4, "gray8") == arr).all()
    assert (
        multimodal.decode_image(zlib.compress(samples), 6, 4, "flate-gray8") == arr
    ).all()
    assert (multimodal.decode_image(png.encode(arr), 6, 4, "png") == arr).all()
    # dct and jpx are both REAL now (docprompt_spark.jpeg / .jpx)
    from docprompt_spark import jpeg, jpx

    jarr = multimodal.decode_image(jpeg.encode(arr, 95), 6, 4, "dct")
    assert jarr.shape == (4, 6)
    assert (multimodal.decode_image(jpx.encode(arr, 1), 6, 4, "jpx") == arr).all()
    with pytest.raises(ValueError):
        multimodal.decode_image(b"anything", 2, 2, "jpx")  # garbage payload
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"x", 1, 1, "no-such-codec")
    # corrupt payloads fall back to the deterministic stub, not a crash
    fake = multimodal.decode_or_stub(b"\xff\xd8truncated", 2, 2, "dct")
    assert fake.shape == (2, 2)


def test_ccitt_decode_honors_decodeparms_columns_rows():
    """DecodeParms /Columns (spec default 1728) governs the coded row
    geometry, not the XObject /Width; when they differ the codec tag carries
    c{cols};r{rows} and decode_image crops back to Width x Height."""
    import numpy as np

    from docprompt_spark import ccitt, multimodal

    rng = np.random.default_rng(5)
    cols, rows = 72, 20
    bits = (rng.integers(0, 4, size=(rows, cols)) == 0).astype(np.uint8)
    payload = ccitt.encode(bits)
    want = ((1 - bits) * 255).astype(np.uint8)

    got = multimodal.decode_image(payload, 64, 16, f"ccitt-g4;c{cols};r{rows}")
    assert got.shape == (16, 64)
    assert np.array_equal(got, want[:16, :64])
    # matched geometry still works through the bare tag
    full = multimodal.decode_image(payload, cols, rows, "ccitt-g4")
    assert np.array_equal(full, want)


def test_codec_of_emits_suffix_only_on_mismatch():
    from docprompt_spark import multimodal

    def resolve(x):
        return x

    base = {
        "Filter": "CCITTFaxDecode",
        "Width": 64,
        "Height": 16,
        "DecodeParms": {"K": -1, "Columns": 64, "Rows": 16},
    }
    assert multimodal._codec_of(base, resolve) == "ccitt-g4"
    mism = dict(base, DecodeParms={"K": -1, "Columns": 1728, "Rows": 16})
    assert multimodal._codec_of(mism, resolve) == "ccitt-g4;c1728;r16"
    # spec default when Columns absent
    nodp = dict(base, DecodeParms={"K": -1})
    assert multimodal._codec_of(nodp, resolve) == "ccitt-g4;c1728;r16"


def test_decode_array_inversion_and_codec_flag():
    import numpy as np

    from docprompt_spark import multimodal

    samples = bytes(range(64))
    def resolve(x):
        return x

    xo = {"Width": 8, "Height": 8, "ColorSpace": "DeviceGray",
          "BitsPerComponent": 8, "Decode": [1, 0]}
    codec = multimodal._codec_of(xo, resolve)
    assert codec == "gray8;d10"
    px = multimodal.decode_image(samples, 8, 8, codec)
    want = (255 - np.frombuffer(samples, np.uint8)).reshape(8, 8)
    assert np.array_equal(px, want)
    # without Decode: plain tag, no inversion
    xo2 = dict(xo)
    del xo2["Decode"]
    assert multimodal._codec_of(xo2, resolve) == "gray8"


def test_imagemask_stencil_flag_and_composite():
    import numpy as np

    from docprompt_spark import ccitt, multimodal, rasterize

    def resolve(x):
        return x

    bits = np.zeros((8, 16), np.uint8)
    bits[2:6, 4:12] = 1  # ink block
    payload = ccitt.encode(bits)
    xo = {"Width": 16, "Height": 8, "ImageMask": True, "BitsPerComponent": 1,
          "Filter": "CCITTFaxDecode",
          "DecodeParms": {"K": -1, "Columns": 16, "Rows": 8, "BlackIs1": True}}
    codec = multimodal._codec_of(xo, resolve)
    assert codec == "ccitt-g4;mask"
    assert multimodal.is_stencil(codec)
    px = multimodal.decode_image(payload, 16, 8, codec)
    assert np.array_equal(px, ((1 - bits) * 255).astype(np.uint8))
    # stencil composite: background survives where mask is not ink
    canvas = np.full((8, 16), 200, np.uint8)
    rasterize._paint_image(canvas, px, (0, 0, 16, 8), stencil=True)
    assert canvas[0, 0] == 200 and canvas[3, 8] == 0
    # non-stencil paste overwrites everything
    canvas2 = np.full((8, 16), 200, np.uint8)
    rasterize._paint_image(canvas2, px, (0, 0, 16, 8), stencil=False)
    assert canvas2[0, 0] == 255


def test_gray4_unpack_exact_and_inverted():
    # 4-bit samples decode to v*17 exactly (255/15); ;d10 inverts after
    import numpy as np

    from docprompt_spark.corpus import _pack4
    from docprompt_spark.multimodal import decode_image

    w, h = 5, 3  # odd width exercises row padding
    src = bytes((7 * x + 13 * y) % 256 for y in range(h) for x in range(w))
    packed = _pack4(src, w, h)
    px = decode_image(packed, w, h, "gray4")
    exp = np.array([(b >> 4) * 17 for b in src], np.uint8).reshape(h, w)
    assert (px == exp).all()
    inv = decode_image(packed, w, h, "gray4;d10")
    assert (inv == 255 - exp).all()


def test_png_predictor_flate_roundtrip():
    import zlib

    from docprompt_spark.corpus import _png_up_predict
    from docprompt_spark.multimodal import decode_image

    w, h = 16, 8
    src = bytes((b * 37 + 11) % 256 for b in range(w * h))
    payload = zlib.compress(_png_up_predict(src, w, h), 6)
    px = decode_image(payload, w, h, f"flate-gray8;p15;c{w}")
    assert px.tobytes() == src


def test_indexed_palette_luma_decode():
    import zlib

    from docprompt_spark.corpus import _indexed_palette
    from docprompt_spark.multimodal import decode_image

    pal = _indexed_palette()
    w, h = 8, 4
    idx = bytes((3 * i + 5) % 256 for i in range(w * h))
    px = decode_image(idx, w, h, "idx-rgb8", palette=pal)
    exp = [
        min(255, max(0, round(
            0.299 * pal[3 * b] + 0.587 * pal[3 * b + 1] + 0.114 * pal[3 * b + 2]
        )))
        for b in idx
    ]
    assert list(px.ravel()) == exp
    # flate + predictor + indexed compose
    from docprompt_spark.corpus import _png_up_predict

    payload = zlib.compress(_png_up_predict(idx, w, h), 6)
    px2 = decode_image(payload, w, h, f"flate-idx-rgb8;p15;c{w}", palette=pal)
    assert (px2 == px).all()
    with pytest.raises(ValueError):
        decode_image(idx, w, h, "idx-rgb8")  # no palette


def test_codec_of_classifies_new_image_forms():
    from docprompt_spark.multimodal import _codec_of

    r = lambda x: x
    assert _codec_of(
        {"ColorSpace": "DeviceGray", "BitsPerComponent": 4}, r
    ) == "gray4"
    assert _codec_of(
        {"ColorSpace": ["Indexed", "DeviceRGB", 255, b"\0" * 768],
         "BitsPerComponent": 8, "Filter": "FlateDecode",
         "DecodeParms": {"Predictor": 15, "Columns": 24}}, r
    ) == "flate-idx-rgb8;p15;c24"
    assert _codec_of(
        {"ColorSpace": "DeviceGray", "BitsPerComponent": 8,
         "Filter": "FlateDecode",
         "DecodeParms": {"Predictor": 12, "Columns": 16}}, r
    ) == "flate-gray8;p12;c16"


def test_indexed_image_roundtrips_through_parser(spark):
    import numpy as np  # noqa: F401
    # writer -> parser -> media table: palette survives as a typed column
    # and the decode matches the generator's luma ground truth
    from docprompt_spark import multimodal, pdfparse, pipeline
    from docprompt_spark.corpus import gen_doc, golden_page_layouts

    # find a seed-11 doc with an indexed image
    target = None
    for i in range(20):
        d = gen_doc(i, seed=11, skew_every=0)
        raw = pdfparse.unwrap_pdf_bytes(d["pdf"])
        if b"/Indexed" in raw:
            target = (i, d, raw)
            break
    assert target is not None
    i, d, raw = target
    gt = {}
    for _doc, _pn, _layout, imgs in golden_page_layouts(i + 1, seed=11, skew_every=0):
        if _doc == d["doc_id"]:
            for im in imgs:
                gt[im["media_ref"]] = im
    docs = pipeline.corpus_df(spark, i + 1, seed=11, skew_every=0).filter(
        F.col("doc_id") == d["doc_id"]
    )
    rows = multimodal.media_table(
        docs.select("doc_id", "pdf", "n_pages")
    ).collect()
    idx_rows = [r for r in rows if "idx-rgb8" in r.codec]
    assert idx_rows, "corpus doc should carry an /Indexed image"
    for r in idx_rows:
        assert r.palette is not None and len(bytes(r.palette)) == 768
        px = multimodal.decode_image(
            bytes(r.payload), r.width, r.height, r.codec,
            palette=bytes(r.palette),
        )
        assert px.tobytes() == gt[r.media_ref]["samples"]


def test_rgb8_and_cmyk8_decode_luma():
    import zlib

    import numpy as np

    from docprompt_spark.corpus import _png_up_predict
    from docprompt_spark.multimodal import (
        cmyk_to_gray8,
        decode_image,
        rgb_to_gray8,
    )

    w, h = 12, 6
    arr = np.arange(w * h, dtype=np.uint8).reshape(h, w) * 3
    rgb = np.stack([arr, np.roll(arr, 3, axis=1), 255 - arr], axis=-1)
    px = decode_image(rgb.tobytes(), w, h, "rgb8")
    assert (px == rgb_to_gray8(rgb)).all()
    # flate + predictor compose: rows are w*3 bytes
    payload = zlib.compress(_png_up_predict(rgb.tobytes(), w * 3, h), 6)
    px2 = decode_image(payload, w, h, f"flate-rgb8;p15;c{w}")
    assert (px2 == px).all()

    cmyk = np.stack([arr, np.roll(arr, 3, axis=1), 255 - arr, arr >> 2], axis=-1)
    pc = decode_image(cmyk.tobytes(), w, h, "cmyk8")
    assert (pc == cmyk_to_gray8(cmyk)).all()
    pc2 = decode_image(zlib.compress(cmyk.tobytes(), 6), w, h, "flate-cmyk8")
    assert (pc2 == pc).all()


def test_inline_indexed_palette_tokenizes_and_decodes():
    # BI-dict hex strings must parse as HexString (not Op): regression for
    # the inline /Indexed palette arriving as repr()-mangled text
    import zlib

    from docprompt_spark import pdfparse
    from docprompt_spark.corpus import _indexed_palette
    from docprompt_spark.multimodal import _codec_of, decode_image, indexed_palette

    pal = _indexed_palette()
    w, h = 6, 4
    idx = bytes((5 * i + 2) % 256 for i in range(w * h))
    payload = zlib.compress(idx, 6)
    content = (
        f"BI /W {w} /H {h} /CS [/I /RGB 255 <{pal.hex()}>] /BPC 8"
        f" /F /Fl /L {len(payload)} ID\n"
    ).encode("latin-1") + payload + b" EI"
    iis = pdfparse.inline_images(content)
    assert len(iis) == 1
    ii = iis[0]
    got_pal = indexed_palette(ii.dict, lambda x: x)
    assert got_pal == pal
    codec = _codec_of(ii.dict, lambda x: x, ii.raw)
    assert codec == "flate-idx-rgb8"
    px = decode_image(ii.raw, w, h, codec, palette=got_pal)
    ref = decode_image(idx, w, h, "idx-rgb8", palette=pal)
    assert (px == ref).all()


def test_inline_indexed_corpus_roundtrip():
    # the default corpus rotates inline /Indexed images; write -> parse ->
    # decode must be bit-exact against the generator ground truth
    from docprompt_spark import multimodal, pdfparse
    from docprompt_spark.corpus import gen_doc, golden_page_layouts

    hit = 0
    for i in range(40):
        d = gen_doc(i, seed=42, skew_every=0)
        raw = pdfparse.unwrap_pdf_bytes(d["pdf"])
        pf = pdfparse.PdfFile(raw)
        gt = {}
        for _doc, _pn, _layout, imgs in golden_page_layouts(
            i + 1, seed=42, skew_every=0
        ):
            if _doc == d["doc_id"]:
                for im in imgs:
                    gt[im["media_ref"]] = im
        for idx in range(len(pf.page_refs)):
            page = pf.extract_page(idx, with_image_data=True)
            for img in page.get("images", []):
                if "payload" not in img or "idx" not in img.get("codec", ""):
                    continue
                g = gt[img["media_ref"]]
                px = multimodal.decode_image(
                    bytes(img["payload"]), g["px_w"], g["px_h"],
                    img["codec"], palette=img.get("palette"),
                )
                assert px.tobytes() == g["samples"]
                hit += 1
        if hit >= 6:
            return
    assert hit, "corpus should rotate /Indexed images"


def test_iccbased_colorspace_maps_to_device_family():
    """[/ICCBased stream] colorspaces (§8.6.5.5 — the near-universal
    real-producer form) classify and decode by their /N component count;
    codec tags and pixels are identical to the bare device space."""
    import hashlib

    from docprompt_spark import corpus, pdfparse

    seen = 0
    for idx in range(36):
        _, pages = corpus._gen_doc_pages(idx, 11, 0)
        if not any(
            w.get("icc") for p, _w, _i in pages for w in p["images"]
        ):
            continue
        d = corpus.gen_doc(idx, seed=11, skew_every=0)
        raw = pdfparse.unwrap_pdf_bytes(d["pdf"])
        assert b"/ICCBased" in raw
        pf = pdfparse.PdfFile(raw)
        for p, (page, _wg, _ig) in enumerate(pages):
            ep = pf.extract_page(p, with_image_data=True)
            parsed = {i["media_ref"]: i["codec"] for i in ep["images"]}
            for w in page["images"]:
                ref = hashlib.md5(w["data"]).hexdigest()
                assert parsed[ref] == corpus.writer_entry_codec(w)
        seen += 1
    assert seen
