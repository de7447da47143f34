"""Minimal-but-real PDF writer for the deterministic synthetic corpus.

Emits genuine PDF 1.7 byte streams — classic xref table, page tree (with
intermediate /Pages nodes to exercise tree walking), content streams using
Tm/Td/Tj/TJ text operators, a simple /Type1 font with /Widths, a composite
/Type0 (Identity-H) font with a /W array and a /ToUnicode CMap stream, and
image XObjects placed via `cm ... Do`. Content streams are optionally
FlateDecode-compressed.

The parser (:mod:`docprompt_spark.pdfparse`) reads these files the hard way
(xref walk, object parse, content-stream tokenization, ToUnicode decoding) —
the reference library delegates this to pdfium
(/root/reference/docprompt/_pdfium.py); per the north rule we implement it
from scratch.
"""

from __future__ import annotations

import zlib
from typing import Dict, List, Optional, Sequence, Tuple, Union

# ---------------------------------------------------------------------------
# Font metrics (authoring side; readers recover these from the file itself)
# ---------------------------------------------------------------------------

ASCENT_PM = 720
_BASE14_NAME = "Helvetica"  # face used by font_format='base14' (tests rotate)
DESCENT_PM = -180


def char_width_pm(ch: str) -> int:
    """Deterministic per-mille advance width for a character."""
    return 350 + (ord(ch) * 37) % 401


Segment = Union[str, int]  # str = glyph run, int = TJ kerning adjustment


def advance_width(segments: Sequence[Segment], size: float, width_pm=char_width_pm) -> float:
    """Pen advance of a TJ-style segment list, accumulated glyph-by-glyph in
    the same float-op order the parser uses (so widths match bit-exactly)."""
    x = 0.0
    for seg in segments:
        if isinstance(seg, str):
            for ch in seg:
                x += width_pm(ch) * size / 1000.0
        else:
            x += -seg / 1000.0 * size
    return x


# ---------------------------------------------------------------------------
# Low-level serialization helpers
# ---------------------------------------------------------------------------


def fmt_num(v: float) -> str:
    if isinstance(v, int):
        return str(v)
    if float(v).is_integer():
        return str(int(v))
    return repr(float(v))


def esc_literal(data: bytes) -> bytes:
    out = bytearray()
    for b in data:
        if b in (0x28, 0x29, 0x5C):  # ( ) \
            out += b"\\" + bytes([b])
        elif 32 <= b <= 126:
            out.append(b)
        else:
            out += ("\\%03o" % b).encode()
    return bytes(out)


class _Builder:
    """Accumulates numbered objects, then assembles body + xref + trailer.

    When ``encryptor`` is set (a ``crypt.StdSecurityHandler``), stream
    payloads encrypt per object AFTER filter encoding (PDF §7.6.2 order)."""

    def __init__(self) -> None:
        self.objects: List[Optional[bytes]] = []
        self.encryptor = None

    def reserve(self) -> int:
        self.objects.append(None)
        return len(self.objects)  # 1-based object number

    def set(self, num: int, body: bytes) -> int:
        self.objects[num - 1] = body
        return num

    def add(self, body: bytes) -> int:
        return self.set(self.reserve(), body)

    def add_stream(
        self, dict_entries: str, data: bytes, compress=False,
        dict_entries_fn=None,
    ) -> int:
        """``compress``: False, True/'flate', 'lzw', 'a85' (ASCII85 over
        Flate — the email/text-safe cascade real tools emit), or 'rl'
        (PDF §7.4.4.2). ``dict_entries_fn(num)``: extra dict entries that
        need the object NUMBER (strings in stream dicts encrypt with the
        containing object's key, §7.6.2)."""
        if compress == "lzw":
            from docprompt_spark import lzw

            data = lzw.encode(data)
            dict_entries += " /Filter /LZWDecode"
        elif compress == "a85":
            # filter CASCADE: [/ASCII85Decode /FlateDecode] — data flate-
            # compressed then 85-armored; the reader undoes in list order
            from docprompt_spark.pdfparse import _a85_encode

            data = _a85_encode(zlib.compress(data, 6))
            dict_entries += " /Filter [/ASCII85Decode /FlateDecode]"
        elif compress == "rl":
            from docprompt_spark.pdfparse import _rle_encode

            data = _rle_encode(data)
            dict_entries += " /Filter /RunLengthDecode"
        elif compress:
            data = zlib.compress(data, 6)
            dict_entries += " /Filter /FlateDecode"
        num = self.reserve()
        if self.encryptor is not None:
            data = self.encryptor.encrypt(data, num)
        if dict_entries_fn is not None:
            dict_entries += dict_entries_fn(num)
        head = f"<< {dict_entries} /Length {len(data)} >>\nstream\n".encode()
        return self.set(num, head + data + b"\nendstream")

    def assemble(
        self, root_num: int, info_num: Optional[int] = None,
        xref_stream: bool = False, encrypt_num: Optional[int] = None,
        file_id: Optional[bytes] = None,
    ) -> bytes:
        if xref_stream:
            return self._assemble_xref_stream(
                root_num, info_num, encrypt_num=encrypt_num, file_id=file_id
            )
        out = bytearray(b"%PDF-1.7\n%\xe2\xe3\xcf\xd3\n")
        offsets = [0] * (len(self.objects) + 1)
        for i, body in enumerate(self.objects, start=1):
            assert body is not None, f"object {i} never set"
            offsets[i] = len(out)
            out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
        xref_off = len(out)
        out += f"xref\n0 {len(self.objects) + 1}\n".encode()
        out += b"0000000000 65535 f\r\n"
        for i in range(1, len(self.objects) + 1):
            out += ("%010d 00000 n\r\n" % offsets[i]).encode()
        trailer = f"<< /Size {len(self.objects) + 1} /Root {root_num} 0 R"
        if info_num is not None:
            trailer += f" /Info {info_num} 0 R"
        if encrypt_num is not None:
            hexid = file_id.hex().upper()
            trailer += f" /Encrypt {encrypt_num} 0 R /ID [<{hexid}> <{hexid}>]"
        trailer += " >>"
        out += b"trailer\n" + trailer.encode() + b"\n"
        out += b"startxref\n" + str(xref_off).encode() + b"\n%%EOF\n"
        return bytes(out)

    def _assemble_xref_stream(
        self, root_num: int, info_num: Optional[int] = None,
        encrypt_num: Optional[int] = None, file_id: Optional[bytes] = None,
    ) -> bytes:
        """PDF 1.5+ envelope: dict-only objects packed into one /ObjStm
        (type-2 xref entries), cross-reference emitted as a /Type /XRef
        stream with /W [1 4 2] and PNG-Up /Predictor 12 — the layout modern
        writers produce (spec §7.5.7-7.5.8). Same document content as the
        classic assemble(); only the envelope differs.

        With encryption: the ObjStm payload encrypts as a whole (its member
        objects' strings stay plaintext inside), the /Encrypt dictionary
        stays a DIRECT object, and the XRef stream itself is never
        encrypted (§7.5.8.2) — /Encrypt + /ID ride in its dict."""
        out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
        n_user = len(self.objects)
        objstm_num, xref_num = n_user + 1, n_user + 2
        offsets: Dict[int, int] = {}
        compressed: List[Tuple[int, bytes]] = []  # (objnum, body)
        for i, body in enumerate(self.objects, start=1):
            assert body is not None, f"object {i} never set"
            if b">>\nstream\n" in body or i == root_num or i == encrypt_num:
                # streams can't live in an ObjStm; keep the catalog direct
                # so naive scanners find it, and /Encrypt direct (required:
                # it must be readable before any decryption context exists)
                offsets[i] = len(out)
                out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
            else:
                compressed.append((i, body))
        # object stream
        header = " ".join(f"{num} {off}" for num, off in _objstm_offsets(compressed))
        payload = header.encode() + b"\n" + b"\n".join(b for _, b in compressed)
        first = len(header) + 1
        zdata = zlib.compress(payload, 6)
        if self.encryptor is not None:
            zdata = self.encryptor.encrypt(zdata, objstm_num)
        offsets[objstm_num] = len(out)
        out += (
            f"{objstm_num} 0 obj\n<< /Type /ObjStm /N {len(compressed)} "
            f"/First {first} /Filter /FlateDecode /Length {len(zdata)} "
            f">>\nstream\n".encode()
            + zdata
            + b"\nendstream\nendobj\n"
        )
        # xref stream entries: W = [1, 4, 2]
        size = xref_num + 1
        xref_off = len(out)
        offsets[xref_num] = xref_off
        idx_of = {num: k for k, (num, _) in enumerate(compressed)}
        rows = bytearray()
        for num in range(size):
            if num == 0:
                row = bytes([0]) + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")
            elif num in idx_of:
                row = (
                    bytes([2])
                    + objstm_num.to_bytes(4, "big")
                    + idx_of[num].to_bytes(2, "big")
                )
            else:
                row = bytes([1]) + offsets[num].to_bytes(4, "big") + (0).to_bytes(2, "big")
            rows += row
        # PNG Up predictor (type 2) per 7-byte row, then flate
        rowlen = 7
        pred = bytearray()
        prev = bytes(rowlen)
        for r in range(0, len(rows), rowlen):
            row = bytes(rows[r : r + rowlen])
            pred.append(2)
            pred += bytes((row[i] - prev[i]) & 0xFF for i in range(rowlen))
            prev = row
        zrows = zlib.compress(bytes(pred), 6)
        trailer_extra = f" /Info {info_num} 0 R" if info_num is not None else ""
        if encrypt_num is not None:
            hexid = file_id.hex().upper()
            trailer_extra += (
                f" /Encrypt {encrypt_num} 0 R /ID [<{hexid}> <{hexid}>]"
            )
        out += (
            f"{xref_num} 0 obj\n<< /Type /XRef /Size {size} /W [1 4 2] "
            f"/Root {root_num} 0 R{trailer_extra} /Filter /FlateDecode "
            f"/DecodeParms << /Predictor 12 /Columns 7 >> "
            f"/Length {len(zrows)} >>\nstream\n".encode()
            + zrows
            + b"\nendstream\nendobj\n"
        )
        out += b"startxref\n" + str(xref_off).encode() + b"\n%%EOF\n"
        return bytes(out)


def _objstm_offsets(compressed: List[Tuple[int, bytes]]) -> List[Tuple[int, int]]:
    """(objnum, offset-within-ObjStm-payload) pairs; bodies are joined with
    single newlines after the header line."""
    pairs = []
    off = 0
    for num, body in compressed:
        pairs.append((num, off))
        off += len(body) + 1
    return pairs


# ---------------------------------------------------------------------------
# Document model accepted by the writer
# ---------------------------------------------------------------------------
# page = {
#   "width": float, "height": float,
#   "text_ops": [ {font: "F1"|"F2", size: float, x: float, y: float,
#                  mode: "Tm"|"Td", segments: [str|int, ...]} ... ],
#   "images": [ {data: bytes, width: int, height: int,
#                x: float, y: float, w: float, h: float} ... ],
# }
# Words on one visual line share a y; ops are emitted in the given order.


def _cid_cmap_stream(n_chars: int, first_cid: int, code_off: int) -> bytes:
    """An embedded CID CMap stream (§9.7.5.3 — the /Encoding form real CJK
    subset fonts carry instead of /Identity-H): 2-byte codespace, codes =
    CID + ``code_off``. Mappings serialize as chunked begincidrange
    sections PLUS trailing begincidchar singles, so the reader's range AND
    char paths are both exercised."""
    lines = [
        "/CIDInit /ProcSet findresource begin",
        "12 dict begin",
        "begincmap",
        "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
        " /Supplement 0 >> def",
        "/CMapName /DS-Ext def",
        "/CMapType 1 def",
        "/WMode 0 def",
        "1 begincodespacerange",
        "<0000> <ffff>",
        "endcodespacerange",
    ]
    n_singles = min(2, n_chars)  # last codes go through begincidchar
    n_ranged = n_chars - n_singles
    chunk = 3
    ranges = []
    i = 0
    while i < n_ranged:
        n = min(chunk, n_ranged - i)
        lo = first_cid + i + code_off
        ranges.append(f"<{lo:04x}> <{lo + n - 1:04x}> {first_cid + i}")
        i += n
    if ranges:
        lines.append(f"{len(ranges)} begincidrange")
        lines.extend(ranges)
        lines.append("endcidrange")
    if n_singles:
        lines.append(f"{n_singles} begincidchar")
        for j in range(n_ranged, n_chars):
            lines.append(f"<{first_cid + j + code_off:04x}> {first_cid + j}")
        lines.append("endcidchar")
    lines += [
        "endcmap",
        "CMapName currentdict /CMap defineresource pop",
        "end",
        "end",
    ]
    return "\n".join(lines).encode()


def _tounicode_cmap(charset: Sequence[str], first_cid: int = 0) -> bytes:
    lines = [
        "/CIDInit /ProcSet findresource begin",
        "12 dict begin",
        "begincmap",
        "/CIDSystemInfo << /Registry (DS) /Ordering (UCS) /Supplement 0 >> def",
        "/CMapName /DS-UCS def",
        "/CMapType 2 def",
        "1 begincodespacerange",
        "<0000> <FFFF>",
        "endcodespacerange",
    ]
    # serialization form rotates deterministically per charset: bfchar
    # pairs or the ARRAY-destination bfrange form (`<lo> <hi> [<d> …]`)
    # word processors emit — same mapping, different wire form, so golden
    # text is serialization-invariant while the reader proves both paths.
    # Sections max 100 entries each per spec.
    use_array = sum(ord(c) for c in charset) % 2 == 1
    for start in range(0, len(charset), 100):
        chunk = charset[start : start + 100]
        if use_array:
            dsts = " ".join(
                f"<{ch.encode('utf-16-be').hex()}>" for ch in chunk
            )
            lines.append("1 beginbfrange")
            lines.append(
                f"<{first_cid + start:04x}>"
                f" <{first_cid + start + len(chunk) - 1:04x}> [{dsts}]"
            )
            lines.append("endbfrange")
        else:
            lines.append(f"{len(chunk)} beginbfchar")
            for cid, ch in enumerate(chunk, start=first_cid + start):
                u = ch.encode("utf-16-be").hex()
                lines.append(f"<{cid:04x}> <{u}>")
            lines.append("endbfchar")
    lines += ["endcmap", "CMapName currentdict /CMap defineresource pop", "end", "end"]
    return "\n".join(lines).encode()


def write_pdf(
    pages: List[dict],
    *,
    doc_title: str = "",
    compress_streams: bool = False,
    kids_per_node: int = 8,
    xref_stream: bool = False,
    encrypt: Optional[str] = None,
    font_format: str = "cff",
    cid_font_program: bool = False,
    cid_encoding_cmap: bool = False,
    form_xobject: bool = False,
    rotate: int = 0,
    media_origin: Tuple[float, float] = (0.0, 0.0),
    structure: Optional[dict] = None,
    tagged: bool = False,
    ocgs: Optional[List[dict]] = None,
    crop_bleed: Optional[Tuple[float, float, float, float]] = None,
) -> bytes:
    """Serialize page dicts (see module comment) into PDF bytes.

    ``xref_stream=True`` emits the PDF 1.5+ envelope (cross-reference
    stream + object stream) instead of a classic xref table — same content,
    different envelope; exercises the reader's §7.5.7-7.5.8 path.

    ``encrypt``: ``'rc4-40' | 'rc4-128' | 'aes-128' | 'aes-256'`` — Standard
    security handler, empty user password, composable with either envelope
    (the file ID, AES IVs, and R6 salts derive from the title so output
    stays byte-deterministic).

    ``structure``: optional document-structure layer (corpus
    ``_doc_structure_gt`` shape) — /Info metadata keys + an XMP /Metadata
    stream, a nested /Outlines bookmark tree (§12.3.3), AcroForm fields
    with filled values merged into page /Annots widgets (§12.7), and
    /EmbeddedFiles attachments behind a name tree (§7.7.4, §7.11.4).
    Strings in these dicts follow §7.6.2: encrypted per containing object
    in the classic envelope, plaintext when they ride inside the ObjStm
    (§7.5.7); strings in STREAM dicts (attachment /CheckSum) always
    encrypt — stream objects never join the ObjStm."""
    b = _Builder()
    handler = None
    file_id = None
    if encrypt:
        from docprompt_spark import crypt

        file_id = __import__("hashlib").md5(
            b"fileid:" + doc_title.encode()
        ).digest()
        handler = crypt.StdSecurityHandler.create(encrypt, file_id)
        b.encryptor = handler
    catalog = b.reserve()
    pages_root = b.reserve()

    # --- fonts -----------------------------------------------------------
    # Shared outline font program: a REAL CFF (Type1C) with Type2
    # charstrings for the document's ENTIRE charset (ASCII + any CID text),
    # embedded via F1's /FontFile3 — the rasterizer interprets these
    # outlines back out of the file (cff.cff_glyph_outlines), closing
    # round 3's glyph-cell divergence (reference renders outlines via
    # pdfium, _pdfium.py:126-135).
    from docprompt_spark import fontgen

    # SUBSET the embedded program to the document's used charset — what
    # real PDF producers emit (ABCDEF+Name subsets): glyph coverage equals
    # word content, and font streams stay small enough that stream-filter
    # decode doesn't dominate parse time on font-heavy envelopes
    doc_chars = sorted(
        {
            ch
            for page in pages
            for op in page["text_ops"]
            for seg in op["segments"]
            if isinstance(seg, str)
            for ch in seg
        }
        | {" "}
        # widget appearance streams (§12.5.5) draw field VALUES with F1,
        # so the subset must cover them too — exactly what real producers
        # do when they regenerate appearances
        | {
            ch
            for fdef in (structure or {}).get("fields", ())
            if fdef["ftype"] in ("Tx", "Ch")
            for ch in str(fdef.get("value") or "")
        }
    )
    widths = " ".join(str(char_width_pm(chr(c))) for c in range(32, 127))
    if font_format == "type3":
        # Type3 font (§9.6.5): no font *program* — each glyph IS a tiny
        # content stream under /CharProcs (``wx 0 d0`` + ``re`` fills of
        # the same rectilinear contours), mapped by the REQUIRED /Encoding
        # /Differences to uniXXXX names; glyph space is a 1000-upm em via
        # /FontMatrix [0.001 0 0 0.001 0 0]. The parser interprets the
        # procs through the same path machinery as page vector art.
        cp_entries = []
        for ch in doc_chars:
            num = b.add_stream(
                "", fontgen.type3_charproc(ch), compress=compress_streams
            )
            cp_entries.append(f"/uni{ord(ch):04X} {num} 0 R")
        diffs = " ".join(
            f"{ord(ch)} /uni{ord(ch):04X}"
            for ch in doc_chars
            if 32 <= ord(ch) <= 126
        )
        f1 = b.add(
            (
                "<< /Type /Font /Subtype /Type3 /Name /DSMono"
                " /FontBBox [0 -180 760 720]"
                " /FontMatrix [0.001 0 0 0.001 0 0]"
                f" /CharProcs << {' '.join(cp_entries)} >>"
                f" /Encoding << /Type /Encoding /Differences [{diffs}] >>"
                f" /FirstChar 32 /LastChar 126 /Widths [{widths}] >>"
            ).encode()
        )
    elif font_format == "truetype":
        # TrueType (glyf) program via /FontFile2 — the other embedded-
        # outline format real PDFs carry (§9.9); same 1000-upm outlines
        # as the CFF, so rendering is format-independent
        from docprompt_spark import truetype

        ttf = truetype.build_ttf(doc_chars)
        fontfile = b.add_stream(
            f"/Length1 {len(ttf)}", ttf, compress=compress_streams
        )
        ff_entry = f" /FontFile2 {fontfile} 0 R >>"
        f1_subtype = "TrueType"
    elif font_format == "base14":
        # unembedded standard-14 reference (§9.6.2.2): no font program,
        # no /Widths, no descriptor — the bare pre-2008 real-world form;
        # readers must supply the published AFM metrics (ours:
        # docprompt_spark.standard14). Which face is chosen via the
        # module-level _BASE14_NAME (tests rotate it).
        ff_entry = None
        f1_subtype = "Type1"
    elif font_format == "type1":
        # original Type1 program via /FontFile (§9.9 Table 127):
        # cleartext header + eexec body + zeros trailer, with the
        # Length1/2/3 split declared on the stream dict
        l1, l2, l3 = fontgen.build_type1_parts(doc_chars)
        fontfile = b.add_stream(
            f"/Length1 {len(l1)} /Length2 {len(l2)} /Length3 {len(l3)}",
            l1 + l2 + l3,
            compress=compress_streams,
        )
        ff_entry = f" /FontFile {fontfile} 0 R >>"
        f1_subtype = "Type1"
    else:
        fontfile = b.add_stream(
            "/Subtype /Type1C", fontgen.build_cff(doc_chars),
            compress=compress_streams,
        )
        ff_entry = f" /FontFile3 {fontfile} 0 R >>"
        f1_subtype = "Type1"
    if font_format == "base14":
        f1 = b.add(
            (
                "<< /Type /Font /Subtype /Type1"
                f" /BaseFont /{_BASE14_NAME} >>"
            ).encode()
        )
    elif font_format != "type3":
        # F1: simple font with explicit /Widths for codes 32..126
        f1_desc = b.add(
            (
                "<< /Type /FontDescriptor /FontName /DSMono /Flags 32"
                f" /Ascent {ASCENT_PM} /Descent {DESCENT_PM} /CapHeight 660"
                " /ItalicAngle 0 /StemV 80 /FontBBox [0 -180 760 720]"
                + ff_entry
            ).encode()
        )
        f1 = b.add(
            (
                f"<< /Type /Font /Subtype /{f1_subtype} /BaseFont /DSMono"
                f" /FirstChar 32 /LastChar 126 /Widths [{widths}]"
                f" /FontDescriptor {f1_desc} 0 R >>"
            ).encode()
        )

    # F2: Type0 / Identity-H with per-doc charset; ToUnicode CMap
    charset = sorted(
        {
            ch
            for page in pages
            for op in page["text_ops"]
            if op["font"] == "F2"
            for seg in op["segments"]
            if isinstance(seg, str)
            for ch in seg
        }
    )
    # With a real CID-keyed program, CIDs are 1-based: CFF gid 0 is
    # .notdef == CID 0, and gid i carries CID i via the charset — so the
    # document's CID assignment must leave 0 to .notdef, exactly like
    # real subsetters number ABCDEF+ CID subsets.
    first_cid = 1 if cid_font_program else 0
    # With an embedded /Encoding CMap (§9.7.5.3), show-string CODES are no
    # longer CIDs: code = CID + 0x100 — the mapping only round-trips if
    # the reader actually walks the cidrange/cidchar sections. ToUnicode
    # stays keyed by CODE (§9.10.3); /W stays keyed by CID.
    code_off = 0x100 if cid_encoding_cmap else 0
    cid_of: Dict[str, int] = {
        ch: i + first_cid + code_off for i, ch in enumerate(charset)
    }
    f2 = None
    if charset:
        cid_ff_entry = ""
        if cid_font_program:
            # CID-keyed CFF program (CIDFontType0C, §9.9 Table 126): the
            # descendant becomes /CIDFontType0 and CID->glyph resolution
            # runs through the CFF charset instead of /CIDToGIDMap
            cid_fontfile = b.add_stream(
                "/Subtype /CIDFontType0C",
                fontgen.build_cff_cid(charset),
                compress=compress_streams,
            )
            cid_ff_entry = f" /FontFile3 {cid_fontfile} 0 R"
        f2_desc = b.add(
            (
                "<< /Type /FontDescriptor /FontName /DSCID /Flags 4"
                f" /Ascent {ASCENT_PM} /Descent {DESCENT_PM} /CapHeight 660"
                " /ItalicAngle 0 /StemV 80 /FontBBox [0 -180 760 720]"
                f"{cid_ff_entry} >>"
            ).encode()
        )
        w_array = " ".join(str(char_width_pm(ch)) for ch in charset)
        cidfont = b.reserve()
        # /Registry and /Ordering are STRINGS: like every string outside a
        # stream they encrypt with the containing object's key (§7.6.2)
        reg, order = b"Adobe", b"Identity"
        if handler is not None and not xref_stream:
            # in the 1.5+ envelope this dict lands inside the ObjStm, whose
            # member strings are NOT individually encrypted (§7.5.7)
            reg = handler.encrypt(reg, cidfont)
            order = handler.encrypt(order, cidfont)
        desc_subtype = "CIDFontType0" if cid_font_program else "CIDFontType2"
        # /CIDToGIDMap applies only to CIDFontType2 (§9.7.4.2) — with a
        # CID-keyed program the CFF charset carries CID->glyph itself
        gidmap = "" if cid_font_program else " /CIDToGIDMap /Identity"
        b.set(
            cidfont,
            (
                f"<< /Type /Font /Subtype /{desc_subtype} /BaseFont /DSCID"
                f" /CIDSystemInfo << /Registry ({esc_literal(reg).decode('latin-1')})"
                f" /Ordering ({esc_literal(order).decode('latin-1')})"
                " /Supplement 0 >>"
                f" /FontDescriptor {f2_desc} 0 R /DW 500"
                f" /W [{first_cid} [{w_array}]]{gidmap} >>"
            ).encode(),
        )
        tounicode = b.add_stream(
            "",
            _tounicode_cmap(charset, first_cid + code_off),
            compress=compress_streams,
        )
        if cid_encoding_cmap:
            def _csi(num: int) -> str:
                # /CIDSystemInfo strings in a STREAM dict encrypt with the
                # containing object's key (§7.6.2 — stream objects never
                # join the ObjStm, so this applies in both envelopes)
                def s(txt: bytes) -> str:
                    if handler is not None:
                        txt = handler.encrypt(txt, num)
                    return esc_literal(txt).decode("latin-1")

                return (
                    f" /CIDSystemInfo << /Registry ({s(b'Adobe')})"
                    f" /Ordering ({s(b'Identity')}) /Supplement 0 >>"
                )

            enc_stream = b.add_stream(
                "/Type /CMap /CMapName /DS-Ext",
                _cid_cmap_stream(len(charset), first_cid, code_off),
                compress=compress_streams,
                dict_entries_fn=_csi,
            )
            enc_entry = f" /Encoding {enc_stream} 0 R"
        else:
            enc_entry = " /Encoding /Identity-H"
        f2 = b.add(
            (
                "<< /Type /Font /Subtype /Type0 /BaseFont /DSCID"
                f"{enc_entry}"
                f" /DescendantFonts [{cidfont} 0 R] /ToUnicode {tounicode} 0 R >>"
            ).encode()
        )

    # --- document structure: string serializers + field reservation --------
    def _dstr(txt, num: int) -> str:
        """Literal string in a DICT object: encrypts with the containing
        object's key in the classic envelope; ObjStm member strings stay
        plaintext (§7.5.7)."""
        data = txt.encode() if isinstance(txt, str) else bytes(txt)
        if handler is not None and not xref_stream:
            data = handler.encrypt(data, num)
        return f"({esc_literal(data).decode('latin-1')})"

    def _sstr(txt, num: int) -> str:
        """Literal string in a STREAM dict: stream objects are always
        direct, so these encrypt in BOTH envelopes."""
        data = txt.encode() if isinstance(txt, str) else bytes(txt)
        if handler is not None:
            data = handler.encrypt(data, num)
        return f"({esc_literal(data).decode('latin-1')})"

    if tagged and form_xobject:
        # structure elements would need /Stm indirection to point into a
        # Form XObject's content (§14.7.4.2) — out of scope; tagged docs
        # keep all marked content in the page stream
        raise ValueError("tagged=True is not supported with form_xobject")

    # AcroForm fields are merged field+widget annotations living in their
    # page's /Annots — reserve object numbers now (pages need the refs),
    # set the bodies after the page loop (fields need /P page refs)
    struct = structure or {}
    field_entries: List[tuple] = []  # (kind, num, parent_num, gt_dict)
    annots_by_page: Dict[int, List[int]] = {}
    parent_nodes: Dict[str, tuple] = {}  # parent name -> (num, ftype, kid nums)
    for fdef in struct.get("fields", ()):
        parts = fdef["name"].split(".")
        pnum = None
        if len(parts) == 2:
            if parts[0] not in parent_nodes:
                parent_nodes[parts[0]] = (b.reserve(), fdef["ftype"], [])
            pnum = parent_nodes[parts[0]][0]
        num = b.reserve()
        if pnum is not None:
            parent_nodes[parts[0]][2].append(num)
        field_entries.append((parts[-1], num, pnum, fdef))
        annots_by_page.setdefault(fdef["page"], []).append(num)

    # optional-content groups (§8.11): OCG objects written up front (pages
    # reference them from /Properties, the catalog from /OCProperties);
    # /Name strings encrypt with the containing object's key like every
    # other dict string
    ocg_nums: List[int] = []
    if ocgs:
        for g in ocgs:
            num = b.reserve()
            b.set(
                num,
                (
                    f"<< /Type /OCG /Name {_dstr(g['name'], num)} >>"
                ).encode("latin-1"),
            )
            ocg_nums.append(num)

    # TOC-style internal GoTo link (§12.6.4.2): docs with outlines carry a
    # /Link on page 1 whose /Dest is the first NAMED destination —
    # reserved now (the page needs the ref), body set after the outline
    # build registers the name
    toc_link_num: Optional[int] = None
    if struct.get("outlines"):
        toc_link_num = b.reserve()
        annots_by_page.setdefault(0, []).append(toc_link_num)

    # --- pages ------------------------------------------------------------
    page_nums: List[int] = []
    rotate = int(rotate) % 360
    if rotate not in (0, 90, 180, 270):
        raise ValueError(f"rotate must be a multiple of 90, got {rotate}")
    ox, oy = float(media_origin[0]), float(media_origin[1])
    # /CropBox bleed (§7.7.3.3/§14.11.2): the MediaBox keeps (left,
    # bottom, right, top) extra stored-frame margins around the visible
    # region and /CropBox marks the region itself — the press-sheet /
    # cropped-scan form. Placements translate to the CropBox origin, so
    # the visible content is identical with or without the bleed.
    cb = (
        tuple(float(v) for v in crop_bleed)
        if crop_bleed is not None
        else None
    )
    if cb is not None:
        ox += cb[0]
        oy += cb[1]
    for page_idx, page in enumerate(pages):
        if rotate or ox or oy:
            page = {**page, "rotate": rotate, "origin": (ox, oy)}
        content, form_data = _render_content(
            page, cid_of, form_split=form_xobject, tagged=tagged
        )
        content_num = b.add_stream("", content, compress=compress_streams)
        sh_res = _shading_resource(
            b, page.get("vectors"), rotate, page["width"], page["height"],
            ox, oy,
        )
        gs_res = _gstate_resource(page.get("vectors"))
        pat_res = _pattern_streams(b, page.get("vectors"))
        sep_res = _separation_resource(b, page.get("vectors"))
        xobj_entries = []
        if form_data is not None:
            # Form XObject carrying the vector art + header line; its own
            # /Resources name the same font objects (no /Matrix: identity).
            # The page's /Font entry stays (the remaining lines use it).
            form_fonts = f"/F1 {f1} 0 R"
            if f2 is not None:
                form_fonts += f" /F2 {f2} 0 R"
            fw, fh = page["width"], page["height"]
            if rotate in (90, 270):
                fw, fh = fh, fw  # form BBox spans the STORED page frame
            form_res = f"/Font << {form_fonts} >>"
            if sh_res:
                # the vector art (incl. any sh ops) rides in the form, so
                # the shading dicts belong to the FORM's resources
                form_res += f" /Shading {sh_res}"
            if gs_res:
                form_res += f" /ExtGState {gs_res}"
            if pat_res:
                form_res += f" /Pattern {pat_res}"
            if sep_res:
                form_res += f" /ColorSpace {sep_res}"
            fm_num = b.add_stream(
                "/Type /XObject /Subtype /Form"
                f" /BBox [{fmt_num(ox)} {fmt_num(oy)} {fmt_num(ox + fw)}"
                f" {fmt_num(oy + fh)}]"
                f" /Resources << {form_res} >>",
                form_data,
                compress=compress_streams,
            )
            xobj_entries.append(f"/Fm0 {fm_num} 0 R")
        for i, im in enumerate(page["images"]):
            if im.get("inline"):
                continue  # written as BI/ID/EI inside the content stream
            entries = (
                f"/Type /XObject /Subtype /Image /Width {im['width']}"
                f" /Height {im['height']}"
            )
            cs_fn = None
            if im.get("imagemask"):
                # stencil masks carry no ColorSpace (spec §8.9.6.2)
                entries += " /ImageMask true /BitsPerComponent 1"
            else:
                cs = im.get("colorspace", "DeviceGray")
                # /Indexed etc. arrive as pre-serialized arrays "[...]"
                cs_ser = cs if cs.startswith("[") else "/" + cs
                if im.get("icc"):
                    # ICCBased wrapper (§8.6.5.5) — the near-universal
                    # real-producer form: an [/ICCBased stream] whose /N
                    # matches the device family; readers honoring /N (ours
                    # included) decode identically. The profile payload is
                    # a deterministic placeholder — profile TRANSFORMS are
                    # out of scope, declared at multimodal._cs_device_name.
                    n_comp = {"DeviceGray": 1, "DeviceRGB": 3,
                              "DeviceCMYK": 4}[cs]
                    icc_num = b.add_stream(
                        f"/N {n_comp}",
                        b"ICC-PROFILE-PLACEHOLDER/" + cs.encode(),
                        compress=False,
                    )
                    cs_ser = f"[/ICCBased {icc_num} 0 R]"
                elif im.get("cal") and cs in ("DeviceGray", "DeviceRGB"):
                    # CIE-based CalGray/CalRGB (§8.6.5.2-3) — the pre-ICC
                    # archival (PDF/A-1-era) form; the reader maps the
                    # family back to its device space, CIE transforms out
                    # of scope (multimodal._cs_device_name)
                    if cs == "DeviceGray":
                        cs_ser = (
                            "[/CalGray << /WhitePoint [0.9505 1 1.089]"
                            " /Gamma 2.2 >>]"
                        )
                    else:
                        cs_ser = (
                            "[/CalRGB << /WhitePoint [0.9505 1 1.089]"
                            " /Gamma [2.2 2.2 2.2] >>]"
                        )
                if (
                    handler is not None
                    and cs_ser.startswith("[/Indexed")
                    and "<" in cs_ser
                ):
                    # the /Indexed lookup string sits in a STREAM dict, so
                    # it encrypts with the image stream's key (§7.6.2)
                    head, _, table = cs_ser.partition("<")
                    table = bytes.fromhex(table.rstrip(">]"))
                    cs_fn = lambda num, head=head, table=table: (
                        f" /ColorSpace {head}<{handler.encrypt(table, num).hex()}>]"
                    )
                else:
                    entries += f" /ColorSpace {cs_ser}"
                entries += f" /BitsPerComponent {im.get('bpc', 8)}"
            if im.get("decode"):
                entries += f" /Decode {im['decode']}"
            if im.get("filter"):
                # payload arrives pre-encoded; declare without re-encoding so
                # media_ref = md5(raw stream bytes) holds on both sides
                entries += f" /Filter /{im['filter']}"
            if im.get("decode_parms"):
                entries += f" /DecodeParms {im['decode_parms']}"
            if im.get("smask"):
                # soft-mask alpha channel (§11.6.5.2): a separate gray8
                # image XObject referenced from the parent dict — the
                # logo/watermark-with-transparency form real producers emit
                sm = im["smask"]
                sm_num = b.add_stream(
                    "/Type /XObject /Subtype /Image"
                    f" /Width {sm['w']} /Height {sm['h']}"
                    " /ColorSpace /DeviceGray /BitsPerComponent 8"
                    " /Filter /FlateDecode",
                    zlib.compress(sm["alpha"], 6),
                    compress=False,
                )
                entries += f" /SMask {sm_num} 0 R"
            im_num = b.add_stream(
                entries, im["data"], compress=False, dict_entries_fn=cs_fn
            )
            xobj_entries.append(f"/Im{i} {im_num} 0 R")
        fonts = f"/F1 {f1} 0 R"
        if f2 is not None:
            fonts += f" /F2 {f2} 0 R"
        res = f"<< /Font << {fonts} >>"
        if xobj_entries:
            res += f" /XObject << {' '.join(xobj_entries)} >>"
        if sh_res and form_data is None:
            res += f" /Shading {sh_res}"
        if gs_res and form_data is None:
            res += f" /ExtGState {gs_res}"
        if pat_res and form_data is None:
            res += f" /Pattern {pat_res}"
        if sep_res and form_data is None:
            res += f" /ColorSpace {sep_res}"
        if ocg_nums:
            props = " ".join(
                f"/OC{i} {n} 0 R" for i, n in enumerate(ocg_nums)
            )
            res += f" /Properties << {props} >>"
        res += " >>"
        # /MediaBox inherited from the page-tree root; /Resources per page
        annots = ""
        if page_idx in annots_by_page:
            refs = " ".join(f"{n} 0 R" for n in annots_by_page[page_idx])
            annots = f" /Annots [{refs}]"
        if tagged:
            annots += f" /StructParents {page_idx}"
        page_num = b.add(
            (
                f"<< /Type /Page /Parent {pages_root} 0 R /Resources {res}"
                f" /Contents {content_num} 0 R{annots} >>"
            ).encode()
        )
        page_nums.append(page_num)

    # --- page tree (intermediate nodes exercise the tree walk) ------------
    # stored page dims: 90/270 swap the visual ones; /Rotate rides on the
    # page-tree ROOT (it is inheritable, §7.7.3.3 — exercises the reader's
    # attribute-inheritance walk the way scanner output does)
    pw, ph = pages[0]["width"], pages[0]["height"]
    if rotate in (90, 270):
        pw, ph = ph, pw
    if len(page_nums) > kids_per_node:
        kid_nodes = []
        for start in range(0, len(page_nums), kids_per_node):
            chunk = page_nums[start : start + kids_per_node]
            node = b.add(
                (
                    f"<< /Type /Pages /Parent {pages_root} 0 R /Count {len(chunk)}"
                    f" /Kids [{' '.join(f'{n} 0 R' for n in chunk)}] >>"
                ).encode()
            )
            kid_nodes.append(node)
        kids = kid_nodes
    else:
        kids = page_nums
    b.set(
        pages_root,
        (
            f"<< /Type /Pages /Count {len(page_nums)}"
            + (
                f" /MediaBox [{fmt_num(ox - cb[0])} {fmt_num(oy - cb[1])}"
                f" {fmt_num(ox + pw + cb[2])} {fmt_num(oy + ph + cb[3])}]"
                f" /CropBox [{fmt_num(ox)} {fmt_num(oy)}"
                f" {fmt_num(ox + pw)} {fmt_num(oy + ph)}]"
                if cb is not None
                else f" /MediaBox [{fmt_num(ox)} {fmt_num(oy)}"
                f" {fmt_num(ox + pw)} {fmt_num(oy + ph)}]"
            )
            + (f" /Rotate {rotate}" if rotate else "")
            + f" /Kids [{' '.join(f'{n} 0 R' for n in kids)}] >>"
        ).encode(),
    )
    # --- document-structure layer (fields / outlines / attachments / XMP) --
    cat_extra = ""
    if ocg_nums:
        # /OCProperties (§8.11.4): declared groups + the default viewer
        # configuration — groups listed in /D /OFF start hidden
        refs = " ".join(f"{n} 0 R" for n in ocg_nums)
        off = " ".join(
            f"{n} 0 R"
            for g, n in zip(ocgs, ocg_nums)
            if not g.get("on", True)
        )
        cat_extra += (
            f" /OCProperties << /OCGs [{refs}]"
            f" /D << /Order [{refs}]"
            + (f" /OFF [{off}]" if off else "")
            + " >> >>"
        )
    # field bodies: parent nodes carry /FT + /T, terminal widgets inherit
    # /FT through /Parent (§12.7.3.1 — dotted fully-qualified names)
    for leaf_t, num, pnum, fdef in field_entries:
        body = f"<< /Type /Annot /Subtype /Widget /T {_dstr(leaf_t, num)}"
        if pnum is None:
            body += f" /FT /{fdef['ftype']}"
        else:
            body += f" /Parent {pnum} 0 R"
        v = fdef["value"]
        if fdef["ftype"] == "Btn":
            body += f" /V /{v} /AS /{v}"  # appearance-state NAMES, not strings
        else:
            body += f" /V {_dstr(v, num)}"
        if fdef.get("opts"):
            body += (
                " /Opt [" + " ".join(_dstr(o, num) for o in fdef["opts"]) + "]"
            )
        x0, y0, x1, y1 = fdef["rect"]
        body += (
            f" /Rect [{fmt_num(x0)} {fmt_num(y0)} {fmt_num(x1)} {fmt_num(y1)}]"
            f" /F 4 /P {page_nums[fdef['page']]} 0 R"
            f" /DA {_dstr('/F1 9 Tf 0 g', num)}"
        )
        if fdef["ftype"] in ("Tx", "Ch") and v:
            # normal appearance stream (§12.5.5): the widget's rendered
            # value — a Form XObject whose /BBox spans the Rect dims; the
            # marked /Tx BMC…EMC wrapper is what real viewers regenerate.
            # The value string inside the STREAM encrypts with the stream
            # object's key automatically.
            ap_txt = esc_literal(str(v).encode("latin-1")).decode("latin-1")
            ap_content = (
                f"/Tx BMC q BT /F1 9 Tf 0 g 2 {fmt_num((y1 - y0) / 2 - 3.0)}"
                f" Td ({ap_txt}) Tj ET Q EMC"
            ).encode("latin-1")
            ap_num = b.add_stream(
                "/Type /XObject /Subtype /Form"
                f" /BBox [0 0 {fmt_num(x1 - x0)} {fmt_num(y1 - y0)}]"
                f" /Resources << /Font << /F1 {f1} 0 R >> >>",
                ap_content,
                compress=compress_streams,
            )
            body += f" /AP << /N {ap_num} 0 R >>"
        body += " >>"
        b.set(num, body.encode())
    for pname, (pnum, ftype, kid_nums) in parent_nodes.items():
        kids = " ".join(f"{k} 0 R" for k in kid_nums)
        b.set(
            pnum,
            (
                f"<< /FT /{ftype} /T {_dstr(pname, pnum)} /Kids [{kids}] >>"
            ).encode(),
        )
    if field_entries:
        top_refs = [pn for pn, *_ in parent_nodes.values()] + [
            num for _t, num, pnum, _f in field_entries if pnum is None
        ]
        acro = b.reserve()
        b.set(
            acro,
            (
                "<< /Fields [" + " ".join(f"{n} 0 R" for n in top_refs) + "]"
                f" /DA {_dstr('/F1 9 Tf 0 g', acro)} /NeedAppearances true >>"
            ).encode(),
        )
        cat_extra += f" /AcroForm {acro} 0 R"

    names_tree_entries: List[str] = []
    named_dests: List[tuple] = []  # (name, dest-array serialization)

    def _build_outline(items, parent_num):
        nums = [b.reserve() for _ in items]
        total = 0
        for i, (it, num) in enumerate(zip(items, nums)):
            kid_first = kid_last = None
            cnt = 0
            if it.get("kids"):
                kid_first, kid_last, cnt = _build_outline(it["kids"], num)
            total += 1 + cnt
            body = f"<< /Title {_dstr(it['title'], num)} /Parent {parent_num} 0 R"
            if i > 0:
                body += f" /Prev {nums[i - 1]} 0 R"
            if i < len(items) - 1:
                body += f" /Next {nums[i + 1]} 0 R"
            if kid_first is not None:
                body += f" /First {kid_first} 0 R /Last {kid_last} 0 R /Count {cnt}"
            dest_arr = (
                f"[{page_nums[it['page']]} 0 R /XYZ 0"
                f" {fmt_num(it['y'])} 0]"
            )
            if len(named_dests) % 2 == 0 or not named_dests:
                # every other item targets a NAMED destination (§12.3.2.3)
                # registered in the catalog /Names /Dests tree — the
                # indirection real TOC generators emit; zero-padded names
                # keep the tree's required lexicographic order
                name = f"sec{len(named_dests):03d}"
                named_dests.append((name, dest_arr))
                body += f" /Dest {_dstr(name, num)} >>"
            else:
                named_dests.append((None, None))  # parity counter only
                body += f" /Dest {dest_arr} >>"
            b.set(num, body.encode())
        return nums[0], nums[-1], total

    if struct.get("outlines"):
        ol_root = b.reserve()
        first, last, total = _build_outline(struct["outlines"], ol_root)
        b.set(
            ol_root,
            (
                f"<< /Type /Outlines /First {first} 0 R /Last {last} 0 R"
                f" /Count {total} >>"
            ).encode(),
        )
        cat_extra += f" /Outlines {ol_root} 0 R /PageMode /UseOutlines"
        real_dests = [(n, d) for n, d in named_dests if n is not None]
        if real_dests:
            # /Dests name tree (§7.7.4/§12.3.2.3): two /Limits kids when
            # >=2 entries so the tree walk (not just flat /Names) is
            # exercised; values rotate the bare-array and << /D [...] >>
            # dictionary forms — both occur in real files
            def _dest_val(k: int, darr: str) -> str:
                return darr if k % 2 == 0 else f"<< /D {darr} >>"

            if len(real_dests) >= 2:
                half = (len(real_dests) + 1) // 2
                kid_nums = [b.reserve(), b.reserve()]
                for kn, chunk in zip(
                    kid_nums, (real_dests[:half], real_dests[half:])
                ):
                    ser = " ".join(
                        f"{_dstr(nm, kn)} {_dest_val(k, da)}"
                        for k, (nm, da) in enumerate(chunk)
                    )
                    lims = (
                        f"[{_dstr(chunk[0][0], kn)}"
                        f" {_dstr(chunk[-1][0], kn)}]"
                    )
                    b.set(
                        kn,
                        f"<< /Limits {lims} /Names [{ser}] >>".encode(
                            "latin-1"
                        ),
                    )
                dt = b.add(
                    (
                        "<< /Kids ["
                        + " ".join(f"{k} 0 R" for k in kid_nums)
                        + "] >>"
                    ).encode()
                )
            else:
                dt = b.reserve()
                ser = " ".join(
                    f"{_dstr(nm, dt)} {_dest_val(k, da)}"
                    for k, (nm, da) in enumerate(real_dests)
                )
                b.set(dt, f"<< /Names [{ser}] >>".encode("latin-1"))
            names_tree_entries.append(f"/Dests {dt} 0 R")
        if toc_link_num is not None and real_dests:
            b.set(
                toc_link_num,
                (
                    "<< /Type /Annot /Subtype /Link"
                    " /Rect [72 54 200 66] /Border [0 0 0]"
                    f" /Dest {_dstr(real_dests[0][0], toc_link_num)} >>"
                ).encode("latin-1"),
            )

    if struct.get("page_labels"):
        # /PageLabels number tree (§12.4.2): label-range dicts keyed by
        # first page index. With >=2 ranges the tree is split into two
        # intermediate /Kids nodes with /Limits — the nested form real
        # many-chaptered documents carry — so the reader's number-tree
        # walk (not just flat /Nums) is exercised.
        def _range_ser(rd: dict, holder: int) -> str:
            body = f"<< /S /{rd['style']}"
            if rd.get("prefix"):
                body += f" /P {_dstr(rd['prefix'], holder)}"
            if rd.get("st", 1) != 1:
                body += f" /St {rd['st']}"
            return body + " >>"

        ranges = struct["page_labels"]  # [(first_page, rangedict), ...]
        if len(ranges) >= 2:
            kid_nums = [b.reserve(), b.reserve()]
            halves = [ranges[:1], ranges[1:]]
            for kn, half in zip(kid_nums, halves):
                nums_ser = " ".join(
                    f"{k} {_range_ser(rd, kn)}" for k, rd in half
                )
                lims = f"[{half[0][0]} {half[-1][0]}]"
                b.set(
                    kn,
                    f"<< /Limits {lims} /Nums [{nums_ser}] >>".encode(),
                )
            pl_num = b.add(
                (
                    "<< /Kids ["
                    + " ".join(f"{k} 0 R" for k in kid_nums)
                    + "] >>"
                ).encode()
            )
        else:
            pl_holder = b.reserve()
            nums_ser = " ".join(
                f"{k} {_range_ser(rd, pl_holder)}" for k, rd in ranges
            )
            b.set(pl_holder, f"<< /Nums [{nums_ser}] >>".encode())
            pl_num = pl_holder
        cat_extra += f" /PageLabels {pl_num} 0 R"

    if struct.get("attachments"):
        import hashlib as _hl

        spec_of: List[Tuple[str, int]] = []
        for att in struct["attachments"]:
            data = att["data"]
            efnum = b.reserve()
            payload = zlib.compress(data, 6)
            if handler is not None:
                payload = handler.encrypt(payload, efnum)
            cks = _hl.md5(data).hexdigest()
            mime_name = att["mime"].replace("/", "#2F")
            b.set(
                efnum,
                (
                    f"<< /Type /EmbeddedFile /Subtype /{mime_name}"
                    f" /Params << /Size {len(data)}"
                    f" /CheckSum {_sstr(cks, efnum)} >>"
                    f" /Filter /FlateDecode /Length {len(payload)}"
                    " >>\nstream\n"
                ).encode()
                + payload
                + b"\nendstream",
            )
            spec = b.reserve()
            b.set(
                spec,
                (
                    f"<< /Type /Filespec /F {_dstr(att['name'], spec)}"
                    f" /UF {_dstr(att['name'], spec)}"
                    f" /EF << /F {efnum} 0 R >> >>"
                ).encode(),
            )
            spec_of.append((att["name"], spec))
        # name tree (§7.9.6): split into /Kids leaf nodes with /Limits when
        # there's more than one entry — exercises the tree walk
        if len(spec_of) > 1:
            mid = (len(spec_of) + 1) // 2
            kid_nums = []
            for half in (spec_of[:mid], spec_of[mid:]):
                kn = b.reserve()
                names = " ".join(
                    f"{_dstr(nm, kn)} {sp} 0 R" for nm, sp in half
                )
                b.set(
                    kn,
                    (
                        f"<< /Limits [{_dstr(half[0][0], kn)}"
                        f" {_dstr(half[-1][0], kn)}] /Names [{names}] >>"
                    ).encode(),
                )
                kid_nums.append(kn)
            ef_tree = b.add(
                (
                    "<< /Kids ["
                    + " ".join(f"{k} 0 R" for k in kid_nums)
                    + "] >>"
                ).encode()
            )
        else:
            nm, sp = spec_of[0]
            ef_tree = b.reserve()
            b.set(
                ef_tree,
                f"<< /Names [{_dstr(nm, ef_tree)} {sp} 0 R] >>".encode(),
            )
        names_tree_entries.append(f"/EmbeddedFiles {ef_tree} 0 R")

    if names_tree_entries:
        # ONE catalog /Names dict carrying every name tree (§7.7.4)
        cat_extra += f" /Names << {' '.join(names_tree_entries)} >>"

    if struct.get("xmp"):
        sinfo = struct.get("info", {})
        c = sinfo.get("creation", "D:20200101000000Z")
        iso = (
            f"{c[2:6]}-{c[6:8]}-{c[8:10]}T{c[10:12]}:{c[12:14]}:{c[14:16]}Z"
        )
        esc_title = (
            doc_title.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;")
        )
        xmp = (
            '<?xpacket begin="﻿" id="W5M0MpCehiHzreSzNTczkc9d"?>\n'
            '<x:xmpmeta xmlns:x="adobe:ns:meta/">'
            '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">'
            '<rdf:Description xmlns:dc="http://purl.org/dc/elements/1.1/"'
            ' xmlns:xmp="http://ns.adobe.com/xap/1.0/"'
            ' xmlns:pdf="http://ns.adobe.com/pdf/1.3/">'
            "<dc:title><rdf:Alt>"
            f'<rdf:li xml:lang="x-default">{esc_title}</rdf:li>'
            "</rdf:Alt></dc:title>"
            f"<xmp:CreateDate>{iso}</xmp:CreateDate>"
            f"<pdf:Producer>{sinfo.get('producer', '')}</pdf:Producer>"
            "</rdf:Description></rdf:RDF></x:xmpmeta>\n"
            '<?xpacket end="w"?>'
        )
        # half the XMP packets ride RunLengthDecode (picked off the
        # title's trailing digit): XML is run-light but the filter is
        # cheap and real metadata writers do emit it — proves the §7.4.5
        # path on a load-bearing stream (document_metadata cross-checks
        # the decoded packet)
        meta_num = b.add_stream(
            "/Type /Metadata /Subtype /XML",
            xmp.encode("utf-8"),
            compress="rl" if doc_title[-1:] in tuple("13579") else False,
        )
        cat_extra += f" /Metadata {meta_num} 0 R"

    if tagged:
        # logical structure (§14.7) + tagged conventions (§14.8): one
        # /StructElem per text LINE (y-run of MCIDs, _mcid_line_groups),
        # first line of page 1 tagged /H1, the rest /P, all under one
        # /Document elem; /K holds bare MCIDs (with /Pg), and the
        # /ParentTree maps each page's /StructParents key to the
        # MCID-indexed array of owning elements (§14.7.5.4) — the reverse
        # lookup real consumers (screen readers, Acrobat reflow) use.
        st_root = b.reserve()
        doc_elem = b.reserve()
        elem_nums_all: List[int] = []
        mcid_maps: List[Dict[int, int]] = []
        for page_idx, page in enumerate(pages):
            groups = _mcid_line_groups(page["text_ops"])
            m2e: Dict[int, int] = {}
            for gi, group in enumerate(groups):
                en = b.reserve()
                tag = "H1" if page_idx == 0 and gi == 0 else "P"
                k = (
                    str(group[0])
                    if len(group) == 1
                    else "[" + " ".join(str(m) for m in group) + "]"
                )
                b.set(
                    en,
                    (
                        f"<< /Type /StructElem /S /{tag} /P {doc_elem} 0 R"
                        f" /Pg {page_nums[page_idx]} 0 R /K {k} >>"
                    ).encode(),
                )
                elem_nums_all.append(en)
                for m in group:
                    m2e[m] = en
            mcid_maps.append(m2e)
        nums_entries = []
        for page_idx, m2e in enumerate(mcid_maps):
            arr = (
                [
                    (f"{m2e[m]} 0 R" if m in m2e else "null")
                    for m in range(max(m2e) + 1)
                ]
                if m2e
                else []
            )
            an = b.add(("[" + " ".join(arr) + "]").encode())
            nums_entries.append(f"{page_idx} {an} 0 R")
        pt = b.add(f"<< /Nums [{' '.join(nums_entries)}] >>".encode())
        b.set(
            doc_elem,
            (
                f"<< /Type /StructElem /S /Document /P {st_root} 0 R /K ["
                + " ".join(f"{n} 0 R" for n in elem_nums_all)
                + "] >>"
            ).encode(),
        )
        b.set(
            st_root,
            (
                f"<< /Type /StructTreeRoot /K {doc_elem} 0 R"
                f" /ParentTree {pt} 0 R"
                f" /ParentTreeNextKey {len(pages)} >>"
            ).encode(),
        )
        cat_extra += (
            f" /StructTreeRoot {st_root} 0 R /MarkInfo << /Marked true >>"
        )

    b.set(
        catalog,
        f"<< /Type /Catalog /Pages {pages_root} 0 R{cat_extra} >>".encode(),
    )
    info = b.reserve()
    info_body = f"<< /Title {_dstr(doc_title, info)}"
    sinfo = struct.get("info", {})
    for key, label in (
        ("author", "Author"), ("subject", "Subject"),
        ("producer", "Producer"), ("creation", "CreationDate"),
    ):
        if key in sinfo:
            info_body += f" /{label} {_dstr(sinfo[key], info)}"
    b.set(info, (info_body + " >>").encode())
    if handler is None:
        return b.assemble(catalog, info, xref_stream=xref_stream)
    enc_num = b.add(handler.encrypt_dict_body().encode())
    return b.assemble(
        catalog, info, xref_stream=xref_stream,
        encrypt_num=enc_num, file_id=file_id,
    )


_II_FILT_ABBR = {
    "FlateDecode": "Fl", "LZWDecode": "LZW", "DCTDecode": "DCT",
    "CCITTFaxDecode": "CCF", "ASCIIHexDecode": "AHx",
}
_II_CS_ABBR = {"DeviceGray": "G", "DeviceRGB": "RGB", "DeviceCMYK": "CMYK"}


def _inline_image_ops(im: dict) -> str:
    """BI <abbreviated dict> ID <payload> EI (payload round-trips through
    latin-1 — the content stream is assembled as str then latin-1 encoded)."""
    d = f"/W {im['width']} /H {im['height']}"
    if im.get("imagemask"):
        d += " /IM true /BPC 1"
    else:
        cs = im.get("colorspace", "DeviceGray")
        if cs.startswith("["):
            # /Indexed arrives pre-serialized "[/Indexed /DeviceRGB 255
            # <hex>]"; inline dicts use the Table-93 abbreviated names
            d += " /CS " + cs.replace("/Indexed", "/I").replace(
                "/DeviceRGB", "/RGB"
            )
        else:
            d += f" /CS /{_II_CS_ABBR.get(cs, 'G')}"
        d += f" /BPC {im.get('bpc', 8)}"
    if im.get("decode"):
        d += f" /D {im['decode']}"
    if im.get("filter"):
        # /L (PDF 2.0) pins the payload length so a reader never has to
        # guess where filtered binary ends (ws-EI-ws can occur inside it);
        # raw payloads exercise the computed-length path instead
        d += f" /F /{_II_FILT_ABBR[im['filter']]} /L {len(im['data'])}"
    if im.get("decode_parms"):
        d += f" /DP {im['decode_parms']}"
    return "BI {dict} ID\n{data} EI".format(
        dict=d, data=im["data"].decode("latin-1")
    )


def _rot_path_op(
    op: tuple, rot: int, vw: float, vh: float,
    ox: float = 0.0, oy: float = 0.0,
) -> tuple:
    """Map one path op's VISUAL coordinates into the stored frame of a
    /Rotate page (plus the MediaBox origin offset). Axis-aligned rects
    stay ``re`` (90-degree multiples keep them axis-aligned, dims
    swapped); curve control points map point-wise (affine, so the
    flattened polyline maps exactly too)."""
    kind = op[0]
    if (rot == 0 and not ox and not oy) or kind == "h":
        return op
    if kind == "re":
        _, x, y, w, h = op
        if rot == 90:
            x, y, w, h = vh - y - h, x, h, w
        elif rot == 180:
            x, y = vw - x - w, vh - y - h
        elif rot == 270:
            x, y, w, h = y, vw - x - w, h, w
        if ox or oy:
            x, y = x + ox, y + oy
        return ("re", x, y, w, h)
    pts = op[1:]
    out = [kind]
    for i in range(0, len(pts), 2):
        out.extend(_rot_point(rot, pts[i], pts[i + 1], vw, vh, ox, oy))
    return (out[0], *out[1:])


def _vector_ops(
    vectors, rot: int = 0, vw: float = 0.0, vh: float = 0.0,
    ox: float = 0.0, oy: float = 0.0,
) -> List[str]:
    # vector graphics (rules, frames, accents): painted after images,
    # before the text block — the order the interpreter and rasterizer
    # assume. Each entry: {"path": [("re",x,y,w,h)|("m",x,y)|("l",x,y)|
    # ("c",x1,y1,x2,y2,x3,y3)|("h",)], "paint": f/f*/S/s/B, "gray": 0..1,
    # "lw": points}
    parts: List[str] = []
    sh_idx = 0
    pt_idx = 0
    for vec in vectors or []:
        paint = vec.get("paint", "S")
        if paint == "tile":
            # tiling-pattern fill (§8.7.3.3): /Pattern cs /PtN scn then
            # the region path filled — the hatched/dotted background form
            seg = ["q", "/Pattern cs", f"/Pt{pt_idx} scn"]
            for op in vec["path"]:
                op = _rot_path_op(op, rot, vw, vh, ox, oy)
                seg.append(
                    " ".join(fmt_num(v) for v in op[1:]) + " " + op[0]
                )
            seg.append("f Q")
            pt_idx += 1
            parts.append(" ".join(seg))
            continue
        if paint in ("sh", "shr"):
            # axial ("sh", §8.7.4.3.3) or radial ("shr", §8.7.4.3.4)
            # shading through a rect clip — the letterhead gradient /
            # badge-vignette forms real producers emit; the shading dict
            # itself rides in /Resources /Shading (see _shading_resource,
            # same enumeration order)
            seg = ["q"]
            for op in vec["path"]:
                op = _rot_path_op(op, rot, vw, vh, ox, oy)
                seg.append(" ".join(fmt_num(v) for v in op[1:]) + " " + op[0])
            seg.append(f"W n /Sh{sh_idx} sh Q")
            sh_idx += 1
            parts.append(" ".join(seg))
            continue
        seg = ["q"]
        gray = vec.get("gray", 0.0)
        if _gs_needed(vec):
            # constant alpha (§11.3.7.2) and/or blend mode (§11.3.5):
            # /GSaN gs names an ExtGState carrying /ca //CA and/or /BM —
            # _gstate_resource enumerates in the same order
            seg.append(f"/GSa{_alpha_index(vectors, vec)} gs")
        if vec.get("sep") is not None and paint in ("f", "f*"):
            # Separation spot fill (§8.6.6.4): select the named space and
            # set the tint; the reader maps it through the tint transform
            seg.append(
                f"/CSsp{_sep_index(vectors, vec)} cs"
                f" {fmt_num(vec['sep']['tint'])} scn"
            )
        elif paint in ("f", "f*", "B", "B*", "b", "b*"):
            seg.append(f"{fmt_num(gray)} g")
        if paint not in ("f", "f*"):
            seg.append(f"{fmt_num(vec.get('stroke_gray', gray))} G")
            seg.append(f"{fmt_num(vec.get('lw', 1.0))} w")
            if vec.get("dash"):
                vals = " ".join(fmt_num(v) for v in vec["dash"])
                seg.append(
                    f"[{vals}] {fmt_num(vec.get('dash_phase', 0.0))} d"
                )
        for op in vec["path"]:
            op = _rot_path_op(op, rot, vw, vh, ox, oy)
            seg.append(" ".join(fmt_num(v) for v in op[1:]) + (" " if len(op) > 1 else "") + op[0])
        seg.append(paint)
        seg.append("Q")
        parts.append(" ".join(seg))
    return parts


def _sep_index(vectors, vec) -> int:
    """Position of ``vec`` among the Separation-fill entries — the /CSspN
    name both _vector_ops and _separation_resource agree on."""
    i = 0
    for v in vectors or []:
        if v is vec:
            return i
        if v.get("sep") is not None:
            i += 1
    return i


def _separation_resource(b, vectors) -> str:
    """/ColorSpace resource for Separation-fill entries: one
    [/Separation /Name /DeviceGray tintFn] array per entry (§8.6.6.4),
    tint transforms serialized through :func:`_fn_ser` (so exponential /
    stitching / sampled / PostScript Type 4 all work)."""
    entries: List[str] = []
    for vec in vectors or []:
        sep = vec.get("sep")
        if sep is None:
            continue
        entries.append(
            f"/CSsp{len(entries)} [/Separation /{sep['name']}"
            f" /DeviceGray {_fn_ser(sep['fn'], b)}]"
        )
    return "" if not entries else "<< " + " ".join(entries) + " >>"


def _pattern_streams(b, vectors) -> str:
    """Serialize one tiling-pattern stream (§8.7.3) per "tile" vector
    entry: /PatternType 1 /PaintType 1 colored cells — a filled "dot"
    rect or a diagonal "hatch" stroke — with /XStep//YStep tiling. The
    /PtN resource names enumerate in entry order, the same enumeration
    :func:`_vector_ops` uses at the `scn` site."""
    entries: List[str] = []
    for vec in vectors or []:
        if vec.get("paint") != "tile":
            continue
        cell = vec["cell"]
        cw, ch = cell["w"], cell["h"]
        g = cell["gray"]
        if cell["shape"] == "dot":
            dx, dy, dw, dh = cell["rect"]
            content = (
                f"{fmt_num(g)} g {fmt_num(dx)} {fmt_num(dy)}"
                f" {fmt_num(dw)} {fmt_num(dh)} re f"
            )
        else:  # hatch: one diagonal stroke across the cell
            content = (
                f"{fmt_num(g)} G {fmt_num(cell.get('lw', 1.0))} w"
                f" 0 0 m {fmt_num(cw)} {fmt_num(ch)} l S"
            )
        num = b.add_stream(
            "/Type /Pattern /PatternType 1 /PaintType 1 /TilingType 1"
            f" /BBox [0 0 {fmt_num(cw)} {fmt_num(ch)}]"
            f" /XStep {fmt_num(vec['xstep'])}"
            f" /YStep {fmt_num(vec['ystep'])}"
            " /Resources << >>",
            content.encode("latin-1"),
        )
        entries.append(f"/Pt{len(entries)} {num} 0 R")
    return "" if not entries else "<< " + " ".join(entries) + " >>"


def _gs_needed(v) -> bool:
    return v.get("alpha") is not None or v.get("blend") is not None


def _alpha_index(vectors, vec) -> int:
    """Position of ``vec`` among the gstate-carrying entries (alpha and/or
    blend mode) — the /GSaN name both _vector_ops and _gstate_resource
    agree on."""
    i = 0
    for v in vectors or []:
        if v is vec:
            return i
        if _gs_needed(v):
            i += 1
    return i


def _gstate_resource(vectors) -> str:
    """/ExtGState resource dict for gstate-carrying vector entries: /GSa0..
    each with /ca //CA constant alpha (§11.3.7.2) and/or /BM blend mode
    (§11.3.5) — exactly the keys the entry sets."""
    parts = []
    for i, v in enumerate([v for v in vectors or [] if _gs_needed(v)]):
        body = "/Type /ExtGState"
        if v.get("alpha") is not None:
            body += f" /ca {fmt_num(v['alpha'])} /CA {fmt_num(v['alpha'])}"
        if v.get("blend") is not None:
            body += f" /BM /{v['blend']}"
        parts.append(f"/GSa{i} << {body} >>")
    return "" if not parts else "<< " + " ".join(parts) + " >>"


def _fn_ser(spec: dict, b) -> str:
    """Serialize a normalized function spec (§7.10): Type 2 inline, Type
    3 stitching with inline sub-functions, Type 0 as an indirect sampled
    STREAM (the only function form that must be a stream object)."""
    if spec["t"] == 2:
        return (
            "<< /FunctionType 2 /Domain [0 1]"
            f" /C0 [{fmt_num(spec['c0'])}] /C1 [{fmt_num(spec['c1'])}]"
            f" /N {fmt_num(spec['n'])} >>"
        )
    if spec["t"] == 3:
        subs = " ".join(_fn_ser(s, b) for s in spec["subs"])
        bounds = " ".join(fmt_num(v) for v in spec["bounds"])
        enc = " ".join(fmt_num(v) for v in spec["encode"])
        return (
            "<< /FunctionType 3 /Domain [0 1]"
            f" /Functions [{subs}] /Bounds [{bounds}]"
            f" /Encode [{enc}] >>"
        )
    if spec["t"] == 0:
        num = b.add_stream(
            "/FunctionType 0 /Domain [0 1] /Range [0 1]"
            f" /Size [{len(spec['samples'])}] /BitsPerSample 8",
            bytes(spec["samples"]),
        )
        return f"{num} 0 R"
    if spec["t"] == 4:
        def ser(code) -> str:
            parts = []
            for tok in code:
                if isinstance(tok, list):
                    parts.append(ser(tok))
                elif isinstance(tok, float):
                    parts.append(fmt_num(tok))
                else:
                    parts.append(str(tok))
            return "{ " + " ".join(parts) + " }"

        num = b.add_stream(
            "/FunctionType 4 /Domain [0 1] /Range [0 1]",
            ser(spec["code"]).encode("latin-1"),
        )
        return f"{num} 0 R"
    raise ValueError(f"unsupported function spec {spec['t']}")


def _shading_resource(
    b, vectors, rot: int = 0, vw: float = 0.0, vh: float = 0.0,
    ox: float = 0.0, oy: float = 0.0,
) -> str:
    """/Shading resource dict for the 'sh' vector entries (axial Type 2
    on DeviceGray; the function is exponential Type 2, stitching Type 3
    or a sampled Type 0 stream per the entry's spec); names /Sh0.. in
    the same order _vector_ops references them. Coords map visual→stored
    exactly like every other placement."""
    entries = []
    for vec in vectors or []:
        paint = vec.get("paint")
        if paint not in ("sh", "shr"):
            continue
        spec = vec.get("fn") or {
            "t": 2, "c0": vec["c0"], "c1": vec["c1"], "n": vec["n"]
        }
        fn_ser = f"/Function {_fn_ser(spec, b)}"
        if paint == "sh":
            x0, y0, x1, y1 = vec["coords"]
            sx0, sy0 = _rot_point(rot, x0, y0, vw, vh, ox, oy)
            sx1, sy1 = _rot_point(rot, x1, y1, vw, vh, ox, oy)
            entries.append(
                f"/Sh{len(entries)} << /ShadingType 2"
                " /ColorSpace /DeviceGray"
                f" /Coords [{fmt_num(sx0)} {fmt_num(sy0)}"
                f" {fmt_num(sx1)} {fmt_num(sy1)}] /Extend [true true]"
                f" {fn_ser} >>"
            )
        else:
            # radial: two circles (center + radius each); centers map
            # visual→stored like every placement, radii are rotation-
            # invariant (the viewing rotation is orthogonal)
            cx0, cy0, r0, cx1, cy1, r1 = vec["coords"]
            sx0, sy0 = _rot_point(rot, cx0, cy0, vw, vh, ox, oy)
            sx1, sy1 = _rot_point(rot, cx1, cy1, vw, vh, ox, oy)
            entries.append(
                f"/Sh{len(entries)} << /ShadingType 3"
                " /ColorSpace /DeviceGray"
                f" /Coords [{fmt_num(sx0)} {fmt_num(sy0)} {fmt_num(r0)}"
                f" {fmt_num(sx1)} {fmt_num(sy1)} {fmt_num(r1)}]"
                f" /Extend [true true] {fn_ser} >>"
            )
    return "" if not entries else "<< " + " ".join(entries) + " >>"


def _text_block(
    text_ops, cid_of: Dict[str, int], rot: int = 0,
    vw: float = 0.0, vh: float = 0.0, ox: float = 0.0, oy: float = 0.0,
    tr3: bool = False, tagged: bool = False,
) -> List[str]:
    parts = ["BT"]
    if tr3:
        # invisible text (Tr 3, §9.3.6): the OCR text layer scanners put
        # over the page scan — extractable, never painted
        parts.append("3 Tr")
    cur_font = None
    line_start: Optional[Tuple[float, float]] = None
    for mcid, op in enumerate(text_ops):
        ocv = op.get("oc")
        if ocv is not None:
            # optional content (§8.11.3): the op belongs to a layer —
            # /OC /OCn BDC ... EMC, the named-resource form real
            # producers emit (outside any tagged /P sequence)
            parts.append(f"/OC /OC{ocv} BDC")
        if tagged:
            # tagged PDF (§14.6-14.8): each show op is its own marked-
            # content sequence — /P << /MCID n >> BDC ... EMC, the form
            # Word/LibreOffice emit; the structure tree's /K arrays point
            # back at these MCIDs. BDC/EMC don't move the pen, so golden
            # span geometry is tag-invariant by construction.
            parts.append(f"/P << /MCID {mcid} >> BDC")
        key = (op["font"], op["size"])
        if key != cur_font:
            parts.append(f"/{op['font']} {fmt_num(op['size'])} Tf")
            cur_font = key
        # text state (§9.3.1): per-op character/word spacing, horizontal
        # scaling and rise — emitted before the op and reset after, the
        # way justification engines scope their adjustments
        ts_ops = []
        if op.get("char_spacing"):
            ts_ops.append((f"{fmt_num(op['char_spacing'])} Tc", "0 Tc"))
        if op.get("word_spacing"):
            ts_ops.append((f"{fmt_num(op['word_spacing'])} Tw", "0 Tw"))
        if op.get("hscale_pct") and op["hscale_pct"] != 100.0:
            ts_ops.append((f"{fmt_num(op['hscale_pct'])} Tz", "100 Tz"))
        if op.get("rise"):
            ts_ops.append((f"{fmt_num(op['rise'])} Ts", "0 Ts"))
        parts.extend(s for s, _ in ts_ops)
        if op["mode"] == "Td" and line_start is not None:
            # Td displacement lives in TEXT space, which the rotated Tm
            # keeps aligned with the visual frame — args are unchanged
            dx, dy = op["x"] - line_start[0], op["y"] - line_start[1]
            parts.append(f"{fmt_num(dx)} {fmt_num(dy)} Td")
        else:
            xp, yp = _rot_point(rot, op["x"], op["y"], vw, vh, ox, oy)
            parts.append(
                f"{_ROT_TM[rot]} {fmt_num(xp)} {fmt_num(yp)} Tm"
            )
        line_start = (op["x"], op["y"])
        parts.append(_show_op(op, cid_of))
        parts.extend(r for _, r in ts_ops)
        if tagged:
            parts.append("EMC")
        if ocv is not None:
            parts.append("EMC")
    parts.append("ET")
    return parts


def _rot_point(
    rot: int, x: float, y: float, vw: float, vh: float,
    ox: float = 0.0, oy: float = 0.0,
):
    """VISUAL-frame point -> stored-page coords for a /Rotate page (the
    inverse of the parser's _page_rotation_ctm viewing transform), plus
    the MediaBox origin offset (non-zero for cropped/offset scans)."""
    if rot == 90:
        sx, sy = (vh - y, x)
    elif rot == 180:
        sx, sy = (vw - x, vh - y)
    elif rot == 270:
        sx, sy = (y, vw - x)
    else:
        sx, sy = (x, y)
    if ox or oy:
        return (sx + ox, sy + oy)
    return (sx, sy)


# unit 2x2 text matrices that cancel the page rotation exactly
_ROT_TM = {0: "1 0 0 1", 90: "0 1 -1 0", 180: "-1 0 0 -1", 270: "0 -1 1 0"}


def _rot_image_cm(rot: int, x, y, w, h, vw, vh, ox=0.0, oy=0.0):
    """Image-placement CTM [w 0 0 h x y] (visual) composed with the
    inverse viewing rotation and the MediaBox origin offset — the matrix
    a real producer writes for a figure on a rotated/offset page."""
    e, f = _rot_point(rot, x, y, vw, vh, ox, oy)
    if rot == 90:
        m = (0, w, -h, 0, e, f)
    elif rot == 180:
        m = (-w, 0, 0, -h, e, f)
    elif rot == 270:
        m = (0, -w, h, 0, e, f)
    else:
        m = (w, 0, 0, h, e, f)
    return " ".join(fmt_num(v) for v in m)


def _mcid_line_groups(text_ops) -> List[List[int]]:
    """Group a page's text ops (one MCID each, in emission order) into
    LINES by y-run — the structure-element granularity the writer's
    tagged tree uses, shared with the corpus GT formula."""
    groups: List[List[int]] = []
    last_y = None
    for mcid, op in enumerate(text_ops):
        if last_y is None or op["y"] != last_y:
            groups.append([])
        groups[-1].append(mcid)
        last_y = op["y"]
    return groups


def _render_content(
    page: dict, cid_of: Dict[str, int], form_split: bool = False,
    tagged: bool = False,
):
    """Content stream: images first (painted under text), then vector art,
    then one BT/ET.

    ``form_split=True`` routes the vector art and the FIRST text line into
    a Form XObject (§8.10) invoked as ``/Fm0 Do`` where that content would
    have been painted — what real producers emit for letterheads, stamps
    and repeated headers — and returns ``(page_bytes, form_bytes)``.
    Paint/word order is unchanged, so golden spans are envelope-invariant.

    ``rot`` (page dict key ``rotate``, via write_pdf's ``rotate=``) emits
    every placement pre-rotated into the stored frame of a /Rotate page —
    the sideways-scan-with-upright-correction form real scanners emit."""
    rot = int(page.get("rotate", 0)) % 360
    ox, oy = page.get("origin", (0.0, 0.0))
    tr3 = bool(page.get("text_invisible"))
    vw, vh = page["width"], page["height"]
    parts: List[str] = []
    for i, im in enumerate(page["images"]):
        paint = f"/Im{i} Do" if not im.get("inline") else _inline_image_ops(im)
        cm = _rot_image_cm(
            rot, im["x"], im["y"], im["w"], im["h"], vw, vh, ox, oy
        )
        parts.append(f"q {cm} cm {paint} Q")
    text_ops = page["text_ops"]
    if form_split:
        form_parts = _vector_ops(
            page.get("vectors"), rot, vw, vh, ox, oy
        ) + _text_block(text_ops[:1], cid_of, rot, vw, vh, ox, oy, tr3)
        parts.append("/Fm0 Do")
        parts.extend(_text_block(text_ops[1:], cid_of, rot, vw, vh, ox, oy, tr3))
        return (
            "\n".join(parts).encode("latin-1"),
            "\n".join(form_parts).encode("latin-1"),
        )
    parts.extend(_vector_ops(page.get("vectors"), rot, vw, vh, ox, oy))
    parts.extend(
        _text_block(text_ops, cid_of, rot, vw, vh, ox, oy, tr3, tagged)
    )
    return "\n".join(parts).encode("latin-1"), None


def _encode_string(text: str, font: str, cid_of: Dict[str, int]) -> str:
    if font == "F2":
        return "<" + "".join("%04x" % cid_of[ch] for ch in text) + ">"
    return "(" + esc_literal(text.encode("latin-1")).decode("latin-1") + ")"


def _show_op(op: dict, cid_of: Dict[str, int]) -> str:
    segs = op["segments"]
    if len(segs) == 1 and isinstance(segs[0], str):
        return _encode_string(segs[0], op["font"], cid_of) + " Tj"
    items = [
        _encode_string(s, op["font"], cid_of) if isinstance(s, str) else str(s)
        for s in segs
    ]
    return "[" + " ".join(items) + "] TJ"


# ---------------------------------------------------------------------------
# Incremental updates (§7.5.6): append a revision to an existing file
# ---------------------------------------------------------------------------


def _ser_parsed(v) -> str:
    """Re-serialize a PARSED object (a pdfparse value tree) back to PDF
    syntax — append_incremental_link uses it to redefine the page object
    in an appended revision without re-writing the original bytes."""
    from docprompt_spark import pdfparse as pp

    if isinstance(v, pp.Ref):
        return f"{v.num} {v.gen} R"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "true" if v else "false"
    if isinstance(v, pp.Name):
        return "/" + str(v)
    if isinstance(v, pp.HexString):
        return "<" + v.hex() + ">"
    if isinstance(v, bytes):  # LitString and friends
        return "(" + esc_literal(bytes(v)).decode("latin-1") + ")"
    if isinstance(v, str):
        return "(" + esc_literal(v.encode("latin-1")).decode("latin-1") + ")"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return fmt_num(v)
    if isinstance(v, dict):
        return (
            "<< "
            + " ".join(f"/{k} {_ser_parsed(x)}" for k, x in v.items())
            + " >>"
        )
    if isinstance(v, list):
        return "[" + " ".join(_ser_parsed(x) for x in v) + "]"
    if v is None:
        return "null"
    raise TypeError(f"cannot serialize {type(v)!r}")


def append_incremental_link(
    pdf: bytes, uri: str, rect, page_index: int = 0
) -> bytes:
    """Append an INCREMENTAL UPDATE (§7.5.6) adding a /Link annotation
    with a /URI action to one page: the original bytes stay untouched, a
    new revision appends (1) the annotation object, (2) a REDEFINED page
    object carrying /Annots, (3) a classic xref section whose trailer
    /Prev chains to the previous xref. The redefined page shadows the
    original (newest revision wins), so a reader that walks the /Prev
    chain in the wrong order extracts no link — the override is
    load-bearing. Classic-xref base files only."""
    import re as _re

    from docprompt_spark import pdfparse as pp

    pf = pp.PdfFile(pdf)
    pref = pf.page_refs[page_index]
    page = dict(pf.resolve(pref))
    size = int(pf.resolve(pf.trailer.get("Size", 0)) or 0)
    annot_num = size
    annots = list(pf.resolve(page.get("Annots", [])) or [])
    annots.append(pp.Ref(annot_num, 0))
    page["Annots"] = annots
    m = None
    for m in _re.finditer(rb"startxref\s+(\d+)", pdf):
        pass
    if m is None:
        raise ValueError("no startxref in base file")
    prev_off = int(m.group(1))
    base = pdf if pdf.endswith((b"\n", b"\r")) else pdf + b"\n"
    rect_s = " ".join(fmt_num(float(v)) for v in rect)
    uri_s = esc_literal(uri.encode("latin-1")).decode("latin-1")
    annot_body = (
        f"{annot_num} 0 obj\n<< /Type /Annot /Subtype /Link"
        f" /Rect [{rect_s}] /Border [0 0 0]"
        f" /A << /S /URI /URI ({uri_s}) >> >>\nendobj\n"
    )
    gen = getattr(pref, "gen", 0)
    page_body = f"{pref.num} {gen} obj\n{_ser_parsed(page)}\nendobj\n"
    off_annot = len(base)
    off_page = off_annot + len(annot_body)
    xref_off = off_page + len(page_body)
    entries = sorted([(pref.num, off_page), (annot_num, off_annot)])
    secs: List[list] = []
    for num, off in entries:
        if secs and num == secs[-1][0] + len(secs[-1][1]):
            secs[-1][1].append(off)
        else:
            secs.append([num, [off]])
    xref_lines = ["xref"]
    for start, offs in secs:
        xref_lines.append(f"{start} {len(offs)}")
        xref_lines.extend(f"{o:010d} 00000 n " for o in offs)
    root = pf.trailer.get("Root")
    tail = (
        "\n".join(xref_lines)
        + f"\ntrailer\n<< /Size {max(annot_num + 1, size)}"
        f" /Root {root.num} {getattr(root, 'gen', 0)} R"
        f" /Prev {prev_off} >>\nstartxref\n{xref_off}\n%%EOF\n"
    )
    return (
        base
        + annot_body.encode("latin-1")
        + page_body.encode("latin-1")
        + tail.encode("latin-1")
    )


def append_signature(
    pdf: bytes, signer: str, sign_time: str, page_index: int = 0
) -> bytes:
    """Append a digital-signature revision (§12.8): the approval-signature
    form real signing tools write. A new incremental revision adds (1) a
    /Sig value dictionary with /ByteRange + /Contents, (2) a merged
    signature field/widget annotation (/FT /Sig, /SigFlags 3), (3) a
    REDEFINED page carrying the widget and a REDEFINED catalog carrying
    /AcroForm, then (4) a classic xref whose trailer /Prev chains back —
    the original bytes stay untouched, exactly like append_incremental_link.

    Two-pass layout, as real signers do it: the revision is serialized
    with a fixed-width zero /ByteRange and an all-zero /Contents hex
    placeholder; once offsets are final, /ByteRange is patched in place to
    [0 a (a+gap) (len-a-gap)] — the whole file except the /Contents hex
    string — and /Contents is patched with the digest over exactly those
    two ranges.

    /Contents carries a bare SHA-256 digest (64 hex chars) under
    /SubFilter /sha256.digest rather than a DER PKCS#7 envelope:
    the ByteRange arithmetic, whole-file-coverage check and
    digest-over-two-ranges verification — the structural layer a corpus
    pipeline validates — are real; CMS/X.509 cryptographic validation
    (certificates, RSA bignum) is declared out of scope. Reference
    equivalence: docprompt's pdfium exposes the same field surface
    (FPDF_GetSignatureObject / FPDFSignatureObj_GetByteRange).
    Classic-xref base files only."""
    import hashlib as _hl
    import re as _re

    from docprompt_spark import pdfparse as pp

    pf = pp.PdfFile(pdf)
    pref = pf.page_refs[page_index]
    page = dict(pf.resolve(pref))
    root_ref = pf.trailer.get("Root")
    cat = dict(pf.resolve(root_ref))
    if "AcroForm" in cat:
        raise ValueError("append_signature: base file already has AcroForm")
    size = int(pf.resolve(pf.trailer.get("Size", 0)) or 0)
    sig_num, wid_num = size, size + 1

    annots = list(pf.resolve(page.get("Annots", [])) or [])
    annots.append(pp.Ref(wid_num, 0))
    page["Annots"] = annots
    cat["AcroForm"] = {
        "Fields": [pp.Ref(wid_num, 0)],
        "SigFlags": 3,
    }

    m = None
    for m in _re.finditer(rb"startxref\s+(\d+)", pdf):
        pass
    if m is None:
        raise ValueError("no startxref in base file")
    prev_off = int(m.group(1))
    base = pdf if pdf.endswith((b"\n", b"\r")) else pdf + b"\n"

    br_pat = "/ByteRange [0 0000000000 0000000000 0000000000]"
    contents_pat = "<" + "0" * 64 + ">"
    sig_body = (
        f"{sig_num} 0 obj\n<< /Type /Sig /Filter /Adobe.PPKLite"
        f" /SubFilter /sha256.digest {br_pat}"
        f" /Contents {contents_pat}"
        f" /Name ({esc_literal(signer.encode('latin-1')).decode('latin-1')})"
        f" /M (D:{sign_time}) >>\nendobj\n"
    )
    wid_body = (
        f"{wid_num} 0 obj\n<< /Type /Annot /Subtype /Widget /FT /Sig"
        f" /T (Sig1) /V {sig_num} 0 R /F 132"
        f" /Rect [0 0 0 0] /P {pref.num} {getattr(pref, 'gen', 0)} R"
        f" >>\nendobj\n"
    )
    gen = getattr(pref, "gen", 0)
    page_body = f"{pref.num} {gen} obj\n{_ser_parsed(page)}\nendobj\n"
    cat_body = (
        f"{root_ref.num} {getattr(root_ref, 'gen', 0)} obj\n"
        f"{_ser_parsed(cat)}\nendobj\n"
    )

    off_sig = len(base)
    off_wid = off_sig + len(sig_body)
    off_page = off_wid + len(wid_body)
    off_cat = off_page + len(page_body)
    xref_off = off_cat + len(cat_body)
    entries = sorted(
        [
            (sig_num, off_sig),
            (wid_num, off_wid),
            (pref.num, off_page),
            (root_ref.num, off_cat),
        ]
    )
    secs: List[list] = []
    for num, off in entries:
        if secs and num == secs[-1][0] + len(secs[-1][1]):
            secs[-1][1].append(off)
        else:
            secs.append([num, [off]])
    xref_lines = ["xref"]
    for start, offs in secs:
        xref_lines.append(f"{start} {len(offs)}")
        xref_lines.extend(f"{o:010d} 00000 n " for o in offs)
    tail = (
        "\n".join(xref_lines)
        + f"\ntrailer\n<< /Size {wid_num + 1}"
        f" /Root {root_ref.num} {getattr(root_ref, 'gen', 0)} R"
        f" /Prev {prev_off} >>\nstartxref\n{xref_off}\n%%EOF\n"
    )
    out = bytearray(
        base
        + sig_body.encode("latin-1")
        + wid_body.encode("latin-1")
        + page_body.encode("latin-1")
        + cat_body.encode("latin-1")
        + tail.encode("latin-1")
    )

    # pass 2: patch /ByteRange + /Contents in place (lengths are fixed)
    c_start = out.index(contents_pat.encode(), off_sig)
    c_end = c_start + len(contents_pat)
    br = f"/ByteRange [0 {c_start:010d} {c_end:010d} {len(out) - c_end:010d}]"
    assert len(br) == len(br_pat)
    b_start = out.index(br_pat.encode(), off_sig)
    out[b_start : b_start + len(br_pat)] = br.encode()
    digest = _hl.sha256(
        bytes(out[:c_start]) + bytes(out[c_end:])
    ).hexdigest()
    out[c_start : c_end] = ("<" + digest + ">").encode()
    return bytes(out)
