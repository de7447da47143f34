"""Standard security handler (docprompt_spark.crypt) — PDF 32000-1 §7.6.

AES is validated against the FIPS-197 Appendix C.1 known-answer vector and
(import-gated) against the `cryptography` package; the handler end-to-end
against our own writer/reader with span equality.
"""

import pytest

from docprompt_spark import crypt


def test_aes_fips197_known_answer():
    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    w = crypt._expand_key(key)
    ct = crypt._encrypt_block(pt, w)
    assert ct.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert crypt._decrypt_block(ct, w) == pt


def test_generated_sbox_spot_values():
    # canonical S-box corners (FIPS-197 Fig. 7)
    assert crypt._SBOX[0x00] == 0x63
    assert crypt._SBOX[0x01] == 0x7C
    assert crypt._SBOX[0x53] == 0xED
    assert crypt._SBOX[0xFF] == 0x16
    assert crypt._INV_SBOX[0x63] == 0x00


def test_rc4_known_vector():
    # classic test vector: key "Key", plaintext "Plaintext"
    assert crypt.rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    assert crypt.rc4(b"Key", crypt.rc4(b"Key", b"data")) == b"data"


def test_cbc_roundtrip_and_padding_sizes():
    key = bytes(range(16))
    iv = bytes(range(16, 32))
    for n in (0, 1, 15, 16, 17, 31, 32, 1000):
        data = bytes((i * 7) & 0xFF for i in range(n))
        enc = crypt.aes128_cbc_encrypt(key, iv, data)
        assert len(enc) % 16 == 0 and enc[:16] == iv
        assert crypt.aes128_cbc_decrypt(key, enc) == data


def test_cross_check_against_cryptography_if_present():
    try:
        from cryptography.hazmat.decrepit.ciphers.algorithms import ARC4
        from cryptography.hazmat.primitives.ciphers import (
            Cipher,
            algorithms,
            modes,
        )
    except Exception:
        pytest.skip("cryptography not installed")
    key, iv = bytes(range(16)), bytes(range(100, 116))
    data = b"cross-check payload of odd length.."
    pad = 16 - len(data) % 16
    c = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
    ref = iv + c.update(data + bytes([pad]) * pad) + c.finalize()
    assert crypt.aes128_cbc_encrypt(key, iv, data) == ref
    rk = bytes(range(50, 66))  # 128-bit (ARC4 validates key sizes)
    r = Cipher(ARC4(rk), mode=None).encryptor()
    assert crypt.rc4(rk, data) == r.update(data)


def test_aes256_fips197_known_answer():
    key = bytes(range(32))
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    w = crypt._expand_key(key)
    ct = crypt._encrypt_block(pt, w)
    assert ct.hex() == "8ea2b7ca516745bfeafc49904b496089"  # App. C.3
    assert crypt._decrypt_block(ct, w) == pt


def test_aes256_cross_check_against_cryptography_if_present():
    try:
        from cryptography.hazmat.primitives.ciphers import (
            Cipher,
            algorithms,
            modes,
        )
    except Exception:
        pytest.skip("cryptography not installed")
    key, iv = bytes(range(32)), bytes(range(100, 116))
    data = b"AESV3 cross-check payload, odd len."
    pad = 16 - len(data) % 16
    c = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
    ref = iv + c.update(data + bytes([pad]) * pad) + c.finalize()
    assert crypt.aes_cbc_encrypt(key, iv, data) == ref
    assert crypt.aes_cbc_decrypt(key, ref) == data
    # no-pad CBC (the R6 KDF/key-wrap primitive)
    blocks = bytes(range(64, 128))
    c2 = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
    ref2 = c2.update(blocks) + c2.finalize()
    assert crypt.aes_cbc_nopad(key, iv, blocks, encrypt=True) == ref2
    assert crypt.aes_cbc_nopad(key, iv, ref2, encrypt=False) == blocks


def test_r6_handler_user_owner_and_perms():
    id0 = bytes(range(16))
    h = crypt.StdSecurityHandler.create("aes-256", id0)
    assert (h.v, h.r, len(h.key), len(h.u), len(h.o)) == (5, 6, 32, 48, 48)
    enc = {
        "Filter": "Standard", "V": 5, "R": 6, "Length": 256, "P": h.p,
        "O": h.o, "U": h.u, "OE": h.oe, "UE": h.ue, "Perms": h.perms,
        "CF": {"StdCF": {"CFM": "AESV3"}}, "StmF": "StdCF",
    }
    # user (empty) and owner password both unwrap the same file key
    hu = crypt.StdSecurityHandler.from_encrypt_dict(enc, id0, lambda x: x, b"")
    ho = crypt.StdSecurityHandler.from_encrypt_dict(enc, id0, lambda x: x, b"owner")
    assert hu.key == h.key == ho.key
    data = b"AESV3 object payload" * 5
    assert hu.decrypt(h.encrypt(data, 9), 9) == data
    with pytest.raises(ValueError):
        crypt.StdSecurityHandler.from_encrypt_dict(enc, id0, lambda x: x, b"nope")
    # tampered Perms detected
    bad = dict(enc, Perms=bytes(16))
    with pytest.raises(ValueError):
        crypt.StdSecurityHandler.from_encrypt_dict(bad, id0, lambda x: x, b"")


@pytest.mark.parametrize("mode", ["rc4-40", "rc4-128", "aes-128"])
def test_handler_create_then_authenticate(mode):
    id0 = bytes(range(16))
    h = crypt.StdSecurityHandler.create(mode, id0)
    enc = {
        "Filter": "Standard", "V": h.v, "R": h.r, "Length": len(h.key) * 8,
        "P": h.p, "O": h.o, "U": h.u,
    }
    if h.v == 4:
        enc["CF"] = {"StdCF": {"CFM": "AESV2"}}
        enc["StmF"] = "StdCF"
        enc["StrF"] = "StdCF"
    h2 = crypt.StdSecurityHandler.from_encrypt_dict(enc, id0, lambda x: x)
    assert h2.key == h.key
    data = b"per-object payload" * 3
    assert h2.decrypt(h.encrypt(data, 12, 0), 12, 0) == data
    with pytest.raises(ValueError):
        crypt.StdSecurityHandler.from_encrypt_dict(enc, id0, lambda x: x, b"bad")


@pytest.mark.parametrize("mode", ["rc4-40", "rc4-128", "aes-128"])
def test_encrypted_pdf_spans_equal_plaintext(mode):
    from docprompt_spark import pdfparse, pdfwrite
    from docprompt_spark.corpus import _gen_doc_pages

    doc_id, pages = _gen_doc_pages(0, 11, 0)  # idx 0 -> CID font exercised
    pages_w = [p for p, _, _ in pages]
    plain = pdfparse.extract_pages(pdfwrite.write_pdf(pages_w, doc_title=doc_id))
    enc = pdfwrite.write_pdf(pages_w, doc_title=doc_id, encrypt=mode)
    got = pdfparse.extract_pages(enc)
    assert [p["words"] for p in got] == [p["words"] for p in plain]
    assert [p["images"] for p in got] == [p["images"] for p in plain]
    pf = pdfparse.PdfFile(enc)
    assert bytes(pf.resolve(pf.trailer["Info"])["Title"]).decode() == doc_id
    with pytest.raises(ValueError):
        pdfparse.PdfFile(enc, password=b"wrong")


def test_encrypted_corpus_golden_spans_hold():
    from docprompt_spark.corpus import gen_corpus

    from docprompt_spark.pdfparse import unwrap_pdf_bytes

    enc_docs = gen_corpus(3, seed=5, skew_every=0, envelope="encrypted")
    plain_docs = gen_corpus(3, seed=5, skew_every=0)
    for e, p in zip(enc_docs, plain_docs):
        assert b"/Encrypt" in unwrap_pdf_bytes(bytes(e["pdf"]))
        assert e["spans"] == p["spans"]


@pytest.mark.parametrize("mode", ["rc4-128", "aes-128", "aes-256"])
def test_encrypted_xref_stream_envelope_roundtrips(mode):
    """Encryption now composes with the 1.5+ envelope: the ObjStm payload
    encrypts as a whole (member strings plaintext inside), the XRef stream
    stays unencrypted, /Encrypt stays a direct object."""
    from docprompt_spark import pdfparse, pdfwrite
    from docprompt_spark.corpus import _gen_doc_pages

    doc_id, pages = _gen_doc_pages(0, 11, 0)  # idx 0 -> CID font exercised
    pages_w = [p for p, _, _ in pages]
    plain = pdfparse.extract_pages(
        pdfwrite.write_pdf(pages_w, doc_title=doc_id, xref_stream=True)
    )
    enc = pdfwrite.write_pdf(
        pages_w, doc_title=doc_id, xref_stream=True, encrypt=mode
    )
    got = pdfparse.extract_pages(enc)
    assert [p["words"] for p in got] == [p["words"] for p in plain]
    assert [p["images"] for p in got] == [p["images"] for p in plain]
    # Info lives in the ObjStm -> its strings are NOT individually encrypted
    pf = pdfparse.PdfFile(enc)
    assert bytes(pf.resolve(pf.trailer["Info"])["Title"]).decode() == doc_id
    with pytest.raises(ValueError):
        pdfparse.PdfFile(enc, password=b"wrong")


def test_r6_corpus_envelope_golden_spans_hold():
    from docprompt_spark.corpus import gen_corpus
    from docprompt_spark.pdfparse import unwrap_pdf_bytes

    enc_docs = gen_corpus(2, seed=5, skew_every=0, envelope="encrypted-r6")
    plain_docs = gen_corpus(2, seed=5, skew_every=0)
    for e, p in zip(enc_docs, plain_docs):
        raw = unwrap_pdf_bytes(bytes(e["pdf"]))
        assert b"/AESV3" in raw
        assert e["spans"] == p["spans"]


@pytest.mark.parametrize("envelope", ["encrypted", "encrypted-r6", "structured"])
def test_encrypted_envelope_docs_read_like_their_plain_twins(envelope, monkeypatch):
    """Every object of the envelope's first 8 docs loads (a cross-reference
    stream is not encrypted, §7.6.1), and every page reads the same words
    and images, image data included, as the same doc written without
    encryption (an /Indexed palette string in an image dict is encrypted
    like every other string of the file)."""
    from docprompt_spark import corpus, pdfparse

    docs = [corpus.gen_doc(i, seed=7, envelope=envelope) for i in range(8)]
    write = corpus.write_pdf
    monkeypatch.setattr(
        corpus, "write_pdf", lambda *a, **k: write(*a, **{**k, "encrypt": None})
    )
    twins = [corpus.gen_doc(i, seed=7, envelope=envelope) for i in range(8)]
    n_encrypted = 0
    for doc, twin in zip(docs, twins):
        pf = pdfparse.PdfFile(bytes(doc["pdf"]))
        plain = pdfparse.PdfFile(bytes(twin["pdf"]))
        assert plain._crypt is None
        n_encrypted += pf._crypt is not None
        for num in [*pf.xref, *pf._compressed]:
            pf.get_object(num)
        assert pf.page_count == plain.page_count
        for p in range(pf.page_count):
            got = pf.extract_page(p, with_vectors=False, with_image_data=True)
            want = plain.extract_page(p, with_vectors=False, with_image_data=True)
            assert (got["words"], got["images"]) == (want["words"], want["images"])
    assert n_encrypted == (2 if envelope == "structured" else 8)
