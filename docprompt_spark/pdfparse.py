"""From-scratch PDF parser: xref walk, page-tree traversal, content-stream
tokenization, font-metric and ToUnicode CMap decoding.

Replaces the reference's pdfium delegation
(/root/reference/docprompt/_pdfium.py, docprompt/utils/util.py:33-42) with a
pure-Python implementation per the north rule ("xref/page-tree walk,
content-stream tokenization, CMap/ToUnicode decoding"). It runs inside
Arrow-batched ``mapInPandas`` workers; per-page outputs are small dicts that
feed the layout kernels (:mod:`docprompt_spark.kernels`).

Byte-wrapper sniffing (base64 / gzip envelopes) mirrors
``PdfDocument.validate_file_bytes`` (reference schema/document.py:111-127).

Supported subset (what our corpus writer emits, plus defensive extras):
classic xref tables (with /Prev chains), direct & indirect /Length,
FlateDecode, literal/hex strings, arrays/dicts/names/numbers/refs,
page-tree inheritance (/MediaBox, /Resources), text ops
BT/ET/Tf/Td/TD/TL/T*/Tm/Tj/TJ/', graphics q/Q/cm/Do, simple fonts with
/Widths and Type0 (Identity-H) fonts with /W + /ToUnicode.
"""

from __future__ import annotations

import base64
import binascii
import gzip
import hashlib
import math
import re
import zlib
from typing import Any, Dict, List, Optional, Tuple

import numpy as np

from docprompt_spark import cff
from docprompt_spark.kernels import norm_rect_bbox

# Chunks on the same baseline closer than this (in em units of the pending
# word's effective size) are the same word split for kerning; gaps at or
# above it are word-separating space. Real space widths run 0.19-0.55 em;
# kerning adjustments stay within +-0.1 em (measured bimodal on the
# reference fixture and the synthetic corpus, which uses >= 0.25 em gaps).
MERGE_GAP_EM = 0.125

# ---------------------------------------------------------------------------
# Byte-wrapper sniffing (S5)
# ---------------------------------------------------------------------------

_B64_RE = re.compile(rb"\A[A-Za-z0-9+/=\r\n]+\Z")


def unwrap_pdf_bytes(data: bytes, _depth: int = 0) -> bytes:
    """Sniff & unwrap base64 / gzip envelopes until raw %PDF bytes emerge."""
    if _depth > 4:
        raise ValueError("too many encoding layers")
    if data[:5] == b"%PDF-":
        return data
    if data[:2] == b"\x1f\x8b":
        return unwrap_pdf_bytes(gzip.decompress(data), _depth + 1)
    sample = data[:4096]
    if _B64_RE.match(sample):
        try:
            return unwrap_pdf_bytes(base64.b64decode(data, validate=False), _depth + 1)
        except (binascii.Error, ValueError):
            pass
    raise ValueError("not a PDF byte stream")


# ---------------------------------------------------------------------------
# Object model
# ---------------------------------------------------------------------------


class Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int) -> None:
        self.num, self.gen = num, gen

    def __repr__(self) -> str:  # pragma: no cover
        return f"{self.num} {self.gen} R"


class Name(str):
    """PDF name (distinct from strings)."""


class Stream:
    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes) -> None:
        self.dict, self.raw = d, raw

    def data(self, resolve) -> bytes:
        filt = resolve(self.dict.get("Filter"))
        raw = self.raw
        if filt is None:
            return raw
        filters = filt if isinstance(filt, list) else [filt]
        parms = resolve(self.dict.get("DecodeParms", self.dict.get("DP")))
        parms_list = parms if isinstance(parms, list) else [parms] * len(filters)
        for f, p in zip(filters, parms_list):
            if f == "FlateDecode":
                raw = zlib.decompress(raw)
                raw = _apply_predictor(raw, resolve(p) or {}, resolve)
            elif f == "LZWDecode":
                from docprompt_spark import lzw

                pd_ = resolve(p) or {}
                early = 0 if resolve(pd_.get("EarlyChange")) == 0 else 1
                raw = lzw.decode(raw, early)
                raw = _apply_predictor(raw, pd_, resolve)
            elif f == "ASCIIHexDecode":
                raw = binascii.unhexlify(
                    re.sub(rb"[^0-9A-Fa-f]", b"", raw.rstrip(b">"))
                )
            elif f == "ASCII85Decode":
                raw = _a85_decode(raw)
            elif f == "RunLengthDecode":
                raw = _rle_decode(raw)
            else:
                raise ValueError(f"unsupported filter {f}")
        return raw


def _a85_decode(data: bytes) -> bytes:
    """ASCII85Decode (§7.4.3): 5 chars '!'..'u' -> 4 bytes base-85
    big-endian; 'z' = four zero bytes (group start only); whitespace
    skipped; '~>' terminates; a partial group of n chars pads with 'u'
    and keeps n-1 bytes. A final group of one character is an error."""
    i = data.find(b"<~")
    body = data[i + 2 :] if i == 0 else data
    j = body.find(b"~>")
    if j >= 0:
        body = body[:j]
    body = body.translate(None, b" \t\n\r\x0c\x00")
    # 'z' stands alone at a group start (a85decode rejects it elsewhere),
    # so the other characters form 5-char groups plus the final one
    if (len(body) - body.count(b"z")) % 5 == 1:
        raise ValueError("ASCII85Decode: final group of one character")
    pad = -len(body) % 5
    digits = np.frombuffer(body + b"u" * pad, np.uint8)
    if b"z" in body or (len(body) and (digits.min() < 0x21 or digits.max() > 0x75)):
        # stdlib a85decode implements the identical Adobe semantics ('z'
        # only at group start, trailing group padded with 'u' keeping n-1
        # bytes, ValueError on stray chars) — except that it silently
        # drops a final one-char group, hence the check above
        return base64.a85decode(body, ignorechars=b"")
    # only '!'..'u': every 5-char group at once, the final one padded
    # with 'u' as above
    groups = (digits.reshape(-1, 5).astype(np.uint64) - 0x21) @ _A85_WEIGHTS
    if len(groups) and groups.max() > 0xFFFFFFFF:
        raise ValueError("Ascii85 overflow")
    out = groups.astype(">u4").tobytes()
    return out[: len(out) - pad]


_A85_WEIGHTS = 85 ** np.arange(4, -1, -1, dtype=np.uint64)


def _a85_encode(data: bytes) -> bytes:
    """ASCII85 encoder (writer side): 'z' shorthand for zero groups,
    '~>' terminator."""
    out = bytearray()
    for i in range(0, len(data), 4):
        chunk = data[i : i + 4]
        n = len(chunk)
        v = int.from_bytes(chunk + b"\x00" * (4 - n), "big")
        if v == 0 and n == 4:
            out += b"z"
            continue
        digs = []
        for _ in range(5):
            digs.append(v % 85)
            v //= 85
        enc = bytes(0x21 + d for d in reversed(digs))
        out += enc if n == 4 else enc[: n + 1]
    return bytes(out) + b"~>"


def _rle_decode(data: bytes) -> bytes:
    """RunLengthDecode (§7.4.5): L in 0..127 copies L+1 literals, L in
    129..255 repeats the next byte 257-L times, 128 ends."""
    out = bytearray()
    i = 0
    while i < len(data):
        ln = data[i]
        i += 1
        if ln == 128:
            break
        if ln < 128:
            out += data[i : i + ln + 1]
            i += ln + 1
        else:
            out += data[i : i + 1] * (257 - ln)
            i += 1
    return bytes(out)


def _rle_encode(data: bytes) -> bytes:
    """RunLength encoder (writer side): greedy run detection, literal
    chunks capped at 128."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        j = i
        while j + 1 < n and data[j + 1] == data[i] and j - i < 127:
            j += 1
        if j > i + 1:  # run of >= 3 pays off; >= 2 is fine too
            out.append(257 - (j - i + 1))
            out.append(data[i])
            i = j + 1
            continue
        k = i
        while (
            k < n
            and k - i < 128
            and not (
                k + 2 < n and data[k] == data[k + 1] == data[k + 2]
            )
        ):
            k += 1
        out.append(k - i - 1)
        out += data[i:k]
        i = k
    out.append(128)
    return bytes(out)


def _apply_predictor(data: bytes, parms: dict, resolve) -> bytes:
    """Undo PNG (10-15) / TIFF (2) predictors (PDF 32000 §7.4.4.4).

    Xref streams are near-universally written with /Predictor 12 (PNG Up);
    all five PNG row filters are handled."""
    predictor = int(resolve(parms.get("Predictor", 1)) or 1)
    if predictor < 2:
        return data
    colors = int(resolve(parms.get("Colors", 1)) or 1)
    bpc = int(resolve(parms.get("BitsPerComponent", 8)) or 8)
    columns = int(resolve(parms.get("Columns", 1)) or 1)
    bpp = max(1, colors * bpc // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    if predictor == 2:  # TIFF horizontal differencing (8-bit components)
        out = bytearray(data)
        for r in range(0, len(out), rowlen):
            for i in range(r + bpp, min(r + rowlen, len(out))):
                out[i] = (out[i] + out[i - bpp]) & 0xFF
        return bytes(out)
    # PNG predictors: each row prefixed with a filter-type byte
    out = bytearray()
    prev = bytearray(rowlen)
    pos = 0
    while pos + 1 <= len(data):
        ft = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + rowlen])
        pos += 1 + rowlen
        if ft == 1:  # Sub
            for i in range(bpp, len(row)):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(len(row)):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        out += row
        prev = row
    return bytes(out)


class Op(bytes):
    """Keyword/operator token (content-stream operators, obj/endobj, R...)."""


class LitString(bytes):
    """String written as (...) literal."""


_WS = b"\x00\t\n\x0c\r "

# whitespace and comments before a token; possessive, so that once no
# token follows, the match fails instead of backtracking into the last
# comment and lifting its tail characters out as a token
_WS_PAT = rb"(?:%[^\r\n]*|[\0\t\n\f\r ])*+"
_WS_RE = re.compile(_WS_PAT)

# The one PDF token grammar (§7.2), for objects and content streams alike:
# one match per token, one group per token class; _Lexer.read_token and
# _tokenize_content dispatch on ``m.lastindex``. No group matches a lone
# ``)`` ``{`` ``}`` ``>``, or a ``<`` that opens no hex string.
_CS_RE = re.compile(
    _WS_PAT
    + rb"(?:([+-]?(?:\d+\.\d*|\.\d+))"  # 1 real
    rb"|([+-]?\d+)"  # 2 integer
    rb"|([^\0\t\n\f\r ()<>\[\]{}/%+\-.\d][^\0\t\n\f\r ()<>\[\]{}/%]*)"  # 3 operator
    rb"|\(([^()\\]*)\)"  # 4 literal string without escapes or nesting
    rb"|/([^\0\t\n\f\r ()<>\[\]{}/%]*)"  # 5 name
    rb"|(\[|\]|<<|>>)"  # 6 structural marker
    rb"|<([0-9A-Fa-f\0\t\n\f\r ]*)>"  # 7 hex string
    rb"|(\()"  # 8 literal string for the escape-aware reader
    rb"|([+\-.][^\0\t\n\f\r ()<>\[\]{}/%]*))"  # 9 sign or dot that starts no number
)

_NAME_ESC_RE = re.compile(rb"#([0-9A-Fa-f]{2})")


def _escaped_name(body: bytes) -> Name:
    """The name of a ``/`` token body that holds ``#``: each ``#`` plus two
    hex digits is that byte (§7.3.5); any other ``#`` is kept as it is."""
    return Name(
        _NAME_ESC_RE.sub(lambda m: binascii.unhexlify(m[1]), body), "latin-1"
    )


class _Lexer:
    """Reads the tokens of objects, xref tables and object streams from
    ``pos`` on; content streams go through _tokenize_content."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def skip_ws(self) -> None:
        self.pos = _WS_RE.match(self.data, self.pos).end()

    def read_token(self) -> Any:
        """Next token, typed as _tokenize_content types it: int/float,
        Name, LitString, HexString, Op for keywords (obj, R, true, ...),
        plain bytes for ``<<`` ``>>`` ``[`` ``]``. Raises EOFError at the
        end of the data, ValueError where no token starts."""
        m = _CS_RE.match(self.data, self.pos)
        if m is None:
            self.skip_ws()
            if self.pos == len(self.data):
                raise EOFError
            raise ValueError(f"no PDF token at offset {self.pos}")
        self.pos = m.end()
        k = m.lastindex
        if k == 2:
            return int(m[2])
        if k == 5:
            tok = m[5]
            return Name(tok, "latin-1") if 0x23 not in tok else _escaped_name(tok)
        if k == 6:
            return m[6]
        if k == 3:
            return Op(m[3])
        if k == 1:
            return float(m[1])
        if k == 4:
            return LitString(m[4])
        if k == 7:
            return _hex_string(m[7])
        if k == 8:
            self.pos = m.start(8)
            return self._read_literal_string()
        raise ValueError(f"malformed number {m[9]!r}")

    def stream_data_start(self) -> int:
        """After an object's dict: the offset of its stream data when the
        ``stream`` keyword and its end of line (CRLF or LF, §7.3.8.1)
        follow, else -1. Either way the lexer moves past the whitespace."""
        self.skip_ws()
        d, p = self.data, self.pos
        if d[p : p + 6] != b"stream":
            return -1
        p += 6
        if d[p : p + 2] == b"\r\n":
            return p + 2
        return p + 1 if d[p : p + 1] == b"\n" else p

    def _read_literal_string(self) -> bytes:
        d = self.data
        self.pos += 1
        # fast path: no escapes / nesting before the closing paren (the
        # overwhelmingly common case in real content streams)
        j = d.find(b")", self.pos)
        if j != -1:
            seg = d[self.pos : j]
            if b"\\" not in seg and b"(" not in seg:
                self.pos = j + 1
                return LitString(seg)
        depth = 1
        out = bytearray()
        n = len(d)
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos == n:
                    break
                e = d[self.pos]
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    end = min(self.pos + 3, n)
                    start = self.pos
                    while self.pos < end and 0x30 <= d[self.pos] <= 0x37:
                        self.pos += 1
                    out.append(int(d[start : self.pos], 8) & 0xFF)
                elif e in b"\r\n":  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return LitString(bytes(out))
                out.append(c)
            else:
                out.append(c)
                self.pos += 1
        raise ValueError("unterminated string")


class HexString(bytes):
    """Marks strings written as <...> (2-byte CID codes for Type0 fonts)."""


def _hex_string(body: bytes) -> HexString:
    """The string of a ``<...>`` body of hex digits and whitespace; an odd
    final digit is padded with 0 (§7.3.4.3)."""
    digits = body.translate(None, _WS)
    if len(digits) % 2:
        digits += b"0"
    return HexString(binascii.unhexlify(digits))


# the rest of an array that holds only numbers: each whitespace-separated
# run is one number token of the object lexer (NUL, which bytes.split does
# not split on, takes the token path)
_NUM_ARRAY_RE = re.compile(rb"([0-9+.\-\t\n\f\r ]*)\]")
_REF_TAIL_RE = re.compile(rb"[\0\t\n\f\r ]+(\d+)[\0\t\n\f\r ]+R(?![^\0\t\n\f\r ()<>\[\]{}/%])")


def _parse_object(lex: _Lexer) -> Any:
    """Parse one object (after keywords like obj); resolves `n g R` inline."""
    tok = lex.read_token()
    return _parse_from_token(lex, tok)


def _parse_from_token(lex: _Lexer, tok: Any) -> Any:
    structural = type(tok) is bytes
    if structural and tok == b"<<":
        d: Dict[str, Any] = {}
        while True:
            key = lex.read_token()
            if type(key) is bytes and key == b">>":
                return d
            if not isinstance(key, Name):
                raise ValueError(f"bad dict key {key!r}")
            d[str(key)] = _parse_object(lex)
    if structural and tok == b"[":
        # numbers only (/Widths, /W runs, /MediaBox): one match, no refs
        m = _NUM_ARRAY_RE.match(lex.data, lex.pos)
        if m is not None:
            lex.pos = m.end()
            return [float(t) if b"." in t else int(t) for t in m[1].split()]
        arr = []
        while True:
            t = lex.read_token()
            if type(t) is bytes and t == b"]":
                return arr
            arr.append(_parse_from_token(lex, t))
    if isinstance(tok, int):
        # maybe "n g R" — single regex probe instead of two token reads
        m = _REF_TAIL_RE.match(lex.data, lex.pos)
        if m is not None:
            lex.pos = m.end()
            return Ref(tok, int(m.group(1)))
        return tok
    if isinstance(tok, Op):
        if tok == b"true":
            return True
        if tok == b"false":
            return False
        if tok == b"null":
            return None
    return tok  # Name, str/bytes, float, operator bytes


# ---------------------------------------------------------------------------
# File-level: xref + object store
# ---------------------------------------------------------------------------


class PdfFile:
    def __init__(self, data: bytes, password: bytes = b"") -> None:
        self.data = unwrap_pdf_bytes(data)
        self._cache: Dict[int, Any] = {}
        self._font_cache: Dict[int, dict] = {}
        self.xref: Dict[int, int] = {}
        self._compressed: Dict[int, Tuple[int, int]] = {}  # num -> (objstm, idx)
        self._objstm_cache: Dict[int, Dict[int, Any]] = {}
        self.trailer: Dict[str, Any] = {}
        self._crypt = None
        self._rebuilt = False
        try:
            self._parse_xref_chain()
            if "Root" not in self.trailer:
                raise ValueError("xref chain yielded no /Root")
        except Exception:
            # damaged file (garbage/missing startxref, corrupt xref table,
            # truncated trailer): salvage by scanning for object headers —
            # the reference gets this via pdfium's RebuildCrossRef
            self._reconstruct_xref()
        self._page_refs: Optional[List[Ref]] = None
        enc_ref = self.trailer.get("Encrypt")
        if enc_ref is not None:
            # the /Encrypt dict loads while _crypt is still None, so its own
            # /O /U strings stay raw (per spec they are not encrypted) and
            # its cache entry is never re-walked
            from docprompt_spark import crypt

            enc = self.resolve(enc_ref)
            ids = self.resolve(self.trailer.get("ID")) or []
            id0 = bytes(ids[0]) if ids else b""
            self._crypt = crypt.StdSecurityHandler.from_encrypt_dict(
                enc, id0, self.resolve, password
            )

    def _decrypt_obj(self, obj: Any, num: int, gen: int) -> Any:
        """Post-load decryption walk (§7.6.2): stream payloads and every
        string in the object, keyed by the CONTAINING object's num/gen."""
        if isinstance(obj, Stream):
            return Stream(
                self._decrypt_obj(obj.dict, num, gen),
                self._crypt.decrypt(obj.raw, num, gen),
            )
        if isinstance(obj, LitString):
            return LitString(self._crypt.decrypt(bytes(obj), num, gen))
        if isinstance(obj, HexString):
            return HexString(self._crypt.decrypt(bytes(obj), num, gen))
        if isinstance(obj, dict):
            return {k: self._decrypt_obj(v, num, gen) for k, v in obj.items()}
        if isinstance(obj, list):
            return [self._decrypt_obj(v, num, gen) for v in obj]
        return obj

    # -- xref ---------------------------------------------------------------
    def _parse_xref_chain(self) -> None:
        tail = self.data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise ValueError("no startxref")
        off = int(m.group(1))
        seen = set()
        while off and off not in seen:
            seen.add(off)
            off = self._parse_xref_section(off)

    def _parse_xref_section(self, off: int) -> int:
        lex = _Lexer(self.data, off)
        lex.skip_ws()
        if self.data[lex.pos : lex.pos + 4] != b"xref":
            return self._parse_xref_stream(off)
        lex.pos += 4
        while True:
            tok = lex.read_token()
            if tok == b"trailer":
                trailer = _parse_object(lex)
                for k, v in trailer.items():
                    self.trailer.setdefault(k, v)
                prev = trailer.get("Prev")
                return int(prev) if prev is not None else 0
            start = int(tok)
            count = int(lex.read_token())
            lex.skip_ws()
            for i in range(count):
                entry = self.data[lex.pos : lex.pos + 20]
                lex.pos += 20
                obj_off = int(entry[0:10])
                kind = entry[17:18]
                num = start + i
                if kind == b"n" and num not in self.xref:
                    self.xref[num] = obj_off

    def _parse_xref_stream(self, off: int) -> int:
        """Cross-reference STREAM section (PDF 1.5+, spec §7.5.8): a stream
        object with /Type /XRef, /W field widths, optional /Index subsection
        ranges; entry type 1 = offset, type 2 = (objstm number, index). The
        stream dict doubles as the trailer. Returns /Prev or 0."""
        lex = _Lexer(self.data, off)
        onum = lex.read_token()
        lex.read_token()  # gen
        kw = lex.read_token()
        if kw != b"obj":
            raise ValueError(f"expected xref table or xref stream at {off}")
        d = _parse_object(lex)
        start = lex.stream_data_start()
        if start < 0:
            raise ValueError(f"xref stream object {int(onum)} has no stream")
        # /Length may be an indirect ref into THIS xref section being built;
        # writers virtually never do that for xref streams, but resolve
        # defensively via the raw int when possible.
        length = self.resolve(d["Length"])
        stream = Stream(d, self.data[start : start + int(length)])
        payload = stream.data(self.resolve)

        w = [int(self.resolve(v)) for v in self.resolve(d.get("W", [1, 2, 1]))]
        size = int(self.resolve(d.get("Size", 0)))
        index = [int(self.resolve(v)) for v in self.resolve(d.get("Index", [0, size]))]
        entry_len = sum(w)
        pos = 0
        for k in range(0, len(index), 2):
            start, count = index[k], index[k + 1]
            for i in range(count):
                entry = payload[pos : pos + entry_len]
                pos += entry_len
                if len(entry) < entry_len:
                    break
                fields = []
                fpos = 0
                for width in w:
                    fields.append(
                        int.from_bytes(entry[fpos : fpos + width], "big")
                        if width
                        else None
                    )
                    fpos += width
                etype = fields[0] if w[0] else 1  # omitted type defaults to 1
                num = start + i
                if num in self.xref or num in self._compressed:
                    continue
                if etype == 1:
                    self.xref[num] = fields[1]
                elif etype == 2:
                    self._compressed[num] = (fields[1], fields[2] or 0)
        for key, v in d.items():
            if key not in ("W", "Index", "Filter", "DecodeParms", "Length", "Type"):
                self.trailer.setdefault(key, v)
        prev = d.get("Prev")
        return int(self.resolve(prev)) if prev is not None else 0

    # -- damaged-file salvage -------------------------------------------------
    def _scan_object_end(self, off: int) -> Optional[int]:
        """Validate an ``N G obj`` header at ``off`` and return the offset
        just past the object body (past ``endstream`` for streams), or
        None if nothing parseable starts there."""
        try:
            lex = _Lexer(self.data, off)
            int(lex.read_token())
            int(lex.read_token())
            if lex.read_token() != b"obj":
                return None
            obj = _parse_object(lex)
            start = lex.stream_data_start()
            if start < 0:
                return lex.pos
            length = obj.get("Length") if isinstance(obj, dict) else None
            if isinstance(length, (int, float)):
                return start + int(length)
            # /Length is an indirect ref we can't resolve mid-rebuild (or
            # garbage): fall back to the endstream keyword, like pdfium
            e = self.data.find(b"endstream", start)
            return e if e >= 0 else None
        except Exception:
            return None

    def _reconstruct_xref(self) -> None:
        """Rebuild the cross-reference map of a damaged file by scanning
        the raw bytes for ``N G obj`` headers (pdfium's RebuildCrossRef —
        the path the reference rides for real-world corrupt documents:
        bad/missing startxref, mangled xref tables, truncated trailers).

        Stream payloads are stepped over during the scan so binary data
        can't fake object headers; for same-numbered duplicates the later
        definition wins (incremental-update semantics). The trailer is
        recovered from (in precedence order) any ``trailer`` dicts, the
        dict of a recovered /Type /XRef stream, or — when both are gone —
        a direct scan for the /Type /Catalog object. /Type /ObjStm streams
        found by the scan have their members re-registered so compressed
        objects survive the loss of the xref stream that mapped them."""
        self.xref.clear()
        self._compressed.clear()
        self.trailer.pop("Prev", None)
        self._rebuilt = True
        data = self.data
        pos_min = 0
        for m in re.finditer(rb"(?<![0-9])(\d{1,10})[ \t\r\n]+(\d{1,5})[ \t\r\n]+obj\b", data):
            if m.start() < pos_min:
                continue  # inside a stream payload already stepped over
            end = self._scan_object_end(m.start())
            if end is None:
                continue
            self.xref[int(m.group(1))] = m.start()  # later wins
            pos_min = end
        # trailer dicts (classic xref files): later sections take precedence
        trailers = []
        for m in re.finditer(rb"trailer\b", data):
            try:
                lex = _Lexer(data, m.end())
                t = _parse_object(lex)
                if isinstance(t, dict):
                    trailers.append(t)
            except Exception:
                continue
        for t in reversed(trailers):
            for k, v in t.items():
                if k != "Prev":
                    self.trailer.setdefault(k, v)
        # xref-stream files: the /Type /XRef stream dict doubles as the
        # trailer; ObjStm member registration replaces the lost type-2 rows
        for num in sorted(self.xref):
            try:
                obj = self.get_object(num)
            except Exception:
                continue
            if not isinstance(obj, Stream):
                continue
            typ = str(obj.dict.get("Type"))
            if typ == "XRef":
                for k, v in obj.dict.items():
                    if k not in ("W", "Index", "Filter", "DecodeParms",
                                 "Length", "Type", "Prev", "Size"):
                        self.trailer.setdefault(k, v)
            elif typ == "ObjStm":
                try:
                    payload = obj.data(self.resolve)
                    n = int(self.resolve(obj.dict.get("N", 0)))
                    olex = _Lexer(payload, 0)
                    for i in range(n):
                        onum = int(olex.read_token())
                        olex.read_token()  # member offset
                        if onum not in self.xref:
                            self._compressed[onum] = (num, i)
                except Exception:
                    continue
        if "Root" not in self.trailer:
            # last resort: find the document catalog itself
            for num in sorted(self.xref):
                try:
                    obj = self.get_object(num)
                except Exception:
                    continue
                d = obj.dict if isinstance(obj, Stream) else obj
                if isinstance(d, dict):
                    if str(d.get("Type")) == "Catalog":
                        self.trailer["Root"] = Ref(num, 0)
                        break
        if "Root" not in self.trailer:
            raise ValueError("unrecoverable: no /Root found by rebuild")

    # -- objects --------------------------------------------------------------
    def resolve(self, obj: Any) -> Any:
        while isinstance(obj, Ref):
            obj = self.get_object(obj.num)
        return obj

    def get_object(self, num: int) -> Any:
        if num in self._cache:
            return self._cache[num]
        if num in self._compressed:
            stm_num, idx = self._compressed[num]
            obj = self._objstm_objects(stm_num).get(num)
            self._cache[num] = obj
            return obj
        off = self.xref.get(num)
        if off is None:
            return None
        lex = _Lexer(self.data, off)
        onum = lex.read_token()
        gen = lex.read_token()
        kw = lex.read_token()
        try:
            header_ok = kw == b"obj" and int(onum) == num
        except ValueError:
            header_ok = False
        if not header_ok:
            if not self._rebuilt:
                # intact xref chain but a lying offset (partial damage):
                # rebuild once from the raw bytes and retry
                self._reconstruct_xref()
                return self.get_object(num)
            raise ValueError(f"bad object header at {off}")
        obj = _parse_object(lex)
        start = lex.stream_data_start()
        if start >= 0:
            length = self.resolve(obj["Length"])
            obj = Stream(obj, self.data[start : start + int(length)])
        # a cross-reference stream is never encrypted (§7.6.1)
        if self._crypt is not None and not (
            start >= 0 and obj.dict.get("Type") == "XRef"
        ):
            obj = self._decrypt_obj(obj, num, int(gen))
        self._cache[num] = obj
        return obj

    def _objstm_objects(self, stm_num: int) -> Dict[int, Any]:
        """Parse an object stream (/Type /ObjStm, spec §7.5.7): header of /N
        (objnum, offset) pairs, then the objects back to back starting at
        /First. All objects parse in one pass and are memoized."""
        if stm_num in self._objstm_cache:
            return self._objstm_cache[stm_num]
        stm = self.get_object(stm_num)
        out: Dict[int, Any] = {}
        if isinstance(stm, Stream):
            payload = stm.data(self.resolve)
            n = int(self.resolve(stm.dict.get("N", 0)))
            first = int(self.resolve(stm.dict.get("First", 0)))
            lex = _Lexer(payload, 0)
            pairs = []
            for _ in range(n):
                onum = int(lex.read_token())
                ooff = int(lex.read_token())
                pairs.append((onum, ooff))
            for onum, ooff in pairs:
                olex = _Lexer(payload, first + ooff)
                out[onum] = _parse_object(olex)
        self._objstm_cache[stm_num] = out
        return out

    # -- page tree ------------------------------------------------------------
    @property
    def root(self) -> dict:
        return self.resolve(self.trailer["Root"])

    @property
    def page_refs(self) -> List[Ref]:
        if self._page_refs is None:
            pages: List[Ref] = []

            def walk(ref: Ref) -> None:
                node = self.resolve(ref)
                t = node.get("Type")
                if t == "Pages":
                    for kid in self.resolve(node["Kids"]):
                        walk(kid)
                else:
                    pages.append(ref)

            walk(self.root["Pages"])
            self._page_refs = pages
        return self._page_refs

    @property
    def page_count(self) -> int:
        return len(self.page_refs)

    def _inherited(self, page: dict, key: str) -> Any:
        node = page
        while node is not None:
            if key in node:
                return self.resolve(node[key])
            parent = node.get("Parent")
            node = self.resolve(parent) if parent is not None else None
        return None

    # -- fonts ------------------------------------------------------------
    def _load_font(self, ref: Ref) -> dict:
        if ref.num in self._font_cache:
            return self._font_cache[ref.num]
        fd = self.resolve(ref)
        subtype = fd.get("Subtype")
        info: Dict[str, Any] = {"type0": subtype == "Type0"}
        if info["type0"]:
            desc_font = self.resolve(self.resolve(fd["DescendantFonts"])[0])
            descriptor = self.resolve(desc_font.get("FontDescriptor")) or {}
            info["dw"] = float(self.resolve(desc_font.get("DW", 1000)))
            widths: Dict[int, float] = {}
            w_arr = self.resolve(desc_font.get("W", []))
            i = 0
            while i < len(w_arr):
                first = int(self.resolve(w_arr[i]))
                nxt = self.resolve(w_arr[i + 1])
                if isinstance(nxt, list):
                    for j, w in enumerate(nxt):
                        widths[first + j] = float(w)
                    i += 2
                else:
                    last = int(nxt)
                    w = float(self.resolve(w_arr[i + 2]))
                    for cid in range(first, last + 1):
                        widths[cid] = w
                    i += 3
            enc = self.resolve(fd.get("Encoding"))
            if isinstance(enc, Stream):
                # embedded CID CMap (§9.7.5.3): show-string CODES map
                # through cidrange/cidchar to CIDs. Re-key the width table
                # by CODE once at load time so the per-glyph hot loop
                # stays a plain dict lookup (Identity-H keeps code == CID).
                # If the CMap yields no mappings (usecmap-based or any form
                # the parser misses), KEEP the CID-keyed widths under the
                # code==CID assumption instead of silently degrading every
                # glyph to /DW.
                code2cid = _parse_cid_cmap(enc.data(self.resolve))
                if code2cid:
                    widths = {
                        code: widths[cid]
                        for code, cid in code2cid.items()
                        if cid in widths
                    }
            info["widths"] = widths
            tounicode = fd.get("ToUnicode")
            info["cmap"] = (
                _parse_tounicode(self.resolve(tounicode).data(self.resolve))
                if tounicode is not None
                else {}
            )
        else:
            descriptor = self.resolve(fd.get("FontDescriptor")) or {}
            first = int(self.resolve(fd.get("FirstChar", 0)))
            arr = self.resolve(fd.get("Widths", [])) or []
            info["widths"] = {first + i: float(self.resolve(w)) for i, w in enumerate(arr)}
            info["dw"] = float(descriptor.get("MissingWidth", 500))
            info["glyphmap"] = self._simple_font_glyphmap(fd, descriptor)
            if not arr:
                # unembedded standard-14 font with no /Widths (§9.6.2.2 —
                # the pre-2008 real-world form): built-in AFM metrics
                from docprompt_spark import standard14

                std = standard14.metrics_for(
                    str(self.resolve(fd.get("BaseFont", "")))
                )
                if std is not None:
                    info["widths"] = std["widths"]
                    descriptor = dict(descriptor)
                    descriptor.setdefault("Ascent", std["ascent"])
                    descriptor.setdefault("Descent", std["descent"])
        info["ascent"] = float(descriptor.get("Ascent", 720))
        info["descent"] = float(descriptor.get("Descent", -180))
        self._font_cache[ref.num] = info
        return info

    def _simple_font_glyphmap(self, fd: dict, descriptor: dict) -> Dict[int, str]:
        """byte code -> text for simple fonts whose mapping is not latin-1.

        Priority (PDF 32000 §9.6.6): font-program builtin encoding
        (/FontFile Type1 cleartext or /FontFile3 CFF charset+encoding),
        overlaid with the font dict's /Encoding /Differences; WinAnsi high
        codes patched when /Encoding names WinAnsiEncoding. Missing entries
        fall back to chr(code) at the interpreter."""
        code_to_name: Dict[int, str] = {}
        try:
            if "FontFile3" in descriptor:
                raw = self.resolve(descriptor["FontFile3"]).data(self.resolve)
                code_to_name = cff.cff_code_to_name(raw)
            elif "FontFile" in descriptor:
                raw = self.resolve(descriptor["FontFile"]).data(self.resolve)
                code_to_name = cff.type1_code_to_name(raw)
            elif "FontFile2" in descriptor:
                # TrueType: the embedded cmap maps codes directly to text
                # (no glyph-name indirection; post v3 carries no names)
                from docprompt_spark import truetype

                raw = self.resolve(descriptor["FontFile2"]).data(self.resolve)
                direct = truetype.ttf_code_to_text(raw)
                enc0 = self.resolve(fd.get("Encoding"))
                out0 = dict(direct)
                if isinstance(enc0, dict):
                    code = 0
                    for item in self.resolve(enc0.get("Differences", [])) or []:
                        item = self.resolve(item)
                        if isinstance(item, (int, float)):
                            code = int(item)
                        elif isinstance(item, Name):
                            t = cff.glyph_name_to_text(str(item))
                            if t:
                                out0[code] = t
                            code += 1
                return out0
        except Exception:
            code_to_name = {}
        differences: Dict[int, str] = {}
        enc = self.resolve(fd.get("Encoding"))
        winansi = False
        if isinstance(enc, Name):
            winansi = str(enc) == "WinAnsiEncoding"
        elif isinstance(enc, dict):
            winansi = str(enc.get("BaseEncoding", "")) == "WinAnsiEncoding"
            code = 0
            for item in self.resolve(enc.get("Differences", [])) or []:
                item = self.resolve(item)
                if isinstance(item, (int, float)):
                    code = int(item)
                elif isinstance(item, Name):
                    differences[code] = str(item)
                    code += 1
        out = cff.build_glyphmap(code_to_name, differences)
        if winansi:
            for c, t in cff.WINANSI_HIGH.items():
                out.setdefault(c, t)
        return out

    # -- page extraction ----------------------------------------------------
    def extract_page(
        self, index: int, with_image_data: bool = False,
        with_vectors: bool = True,
    ) -> dict:
        """Words + images for 0-based page ``index`` (normalized bboxes)."""
        page = self.resolve(self.page_refs[index])
        media = self._inherited(page, "MediaBox")
        media = [float(self.resolve(v)) for v in media]
        # /CropBox (inheritable, §7.7.3.3): the region a conforming
        # viewer displays and pdfium renders — the extraction/raster
        # frame. Defaults to the MediaBox; intersected with it per
        # §14.11.2 (a CropBox sticking past the MediaBox is clamped).
        crop = self._inherited(page, "CropBox")
        if crop is not None:
            c = [float(self.resolve(v)) for v in crop]
            media = [
                max(min(c[0], c[2]), media[0]),
                max(min(c[1], c[3]), media[1]),
                min(max(c[0], c[2]), media[2]),
                min(max(c[1], c[3]), media[3]),
            ]
        pw, ph = media[2] - media[0], media[3] - media[1]
        # /Rotate (inheritable, §7.7.3.3): compose the viewing rotation
        # into the base CTM so coordinates come out in the VISUAL frame —
        # the frame pdfium rasterizes and providers OCR, so a sideways
        # scan with the upright-correction /Rotate extracts upright.
        rotate = int(self.resolve(self._inherited(page, "Rotate") or 0)) % 360
        ctm0, pw, ph = _page_rotation_ctm(rotate, pw, ph)
        # non-zero MediaBox origin (cropped/offset scans): the visible
        # region's lower-left maps to user-space (0,0), so translate by
        # (-x0,-y0) BEFORE the viewing rotation — pdfium's page-to-device
        # matrix does the same
        ox, oy = float(media[0]), float(media[1])
        if ox != 0.0 or oy != 0.0:
            ctm0 = _mat_mul((1.0, 0.0, 0.0, 1.0, -ox, -oy), ctm0)
        resources = self._inherited(page, "Resources") or {}
        fonts_d = self.resolve(resources.get("Font", {})) or {}
        xobjs_d = self.resolve(resources.get("XObject", {})) or {}

        contents = page.get("Contents")
        if contents is None:
            return {
                "width": pw, "height": ph, "words": [], "images": [],
                "vectors": [], "annots": self._page_annotations(page),
            }
        contents = self.resolve(contents)
        if isinstance(contents, list):
            data = b"\n".join(
                self.resolve(c).data(self.resolve) for c in contents
            )
        else:
            data = contents.data(self.resolve)

        words, images, vectors = _interpret_content(
            data,
            fonts={name: self._load_font(ref) for name, ref in fonts_d.items()},
            xobjects=xobjs_d,
            resolve=self.resolve,
            page_w=pw,
            page_h=ph,
            with_image_data=with_image_data,
            with_vectors=with_vectors,
            load_font=self._load_font,
            ctm0=None if ctm0 is _ID else ctm0,
            shadings=self.resolve(resources.get("Shading", {})) or {},
            ext_gstates=self.resolve(resources.get("ExtGState", {})) or {},
            properties=self.resolve(resources.get("Properties", {})) or {},
            oc_off=self._oc_off_nums(),
            patterns=self.resolve(resources.get("Pattern", {})) or {},
            colorspaces=self.resolve(resources.get("ColorSpace", {})) or {},
        )
        return {
            "width": pw,
            "height": ph,
            "words": words,
            "images": images,
            "vectors": vectors,
            "annots": self._page_annotations(page),
        }

    def _page_annotations(self, page: dict) -> List[dict]:
        """Link-style annotations of a page (§12.5): subtype, /Rect in
        stored page coordinates, and the /URI of any URI action. The page
        object carrying /Annots is often REDEFINED by an incremental
        update (§7.5.6) — resolving through the newest revision is what
        makes appended link/markup layers visible."""
        out: List[dict] = []
        for aref in self.resolve(page.get("Annots", [])) or []:
            a = self.resolve(aref)
            a = a.dict if isinstance(a, Stream) else a
            if not isinstance(a, dict):
                continue
            rect = [
                float(self.resolve(v))
                for v in (self.resolve(a.get("Rect")) or [0, 0, 0, 0])
            ]
            act = self.resolve(a.get("A")) or {}
            uri = act.get("URI") if isinstance(act, dict) else None
            if uri is not None:
                uri = self.resolve(uri)
                uri = (
                    bytes(uri).decode("latin-1")
                    if isinstance(uri, bytes)
                    else str(uri)
                )
            # internal GoTo target (§12.6.4.2): /Dest on the annot or a
            # /GoTo action's /D; direct arrays, named destinations
            # (resolved through /Names /Dests) and /D-dict values all land
            # on a 1-based page + XYZ y
            dest = self.resolve(a.get("Dest"))
            if dest is None and isinstance(act, dict) and str(
                self.resolve(act.get("S", ""))
            ) == "GoTo":
                dest = self.resolve(act.get("D"))
            dest_page, dest_y = 0, None
            if dest is not None:
                if isinstance(dest, (str, bytes)):
                    dest = self.resolve(
                        self._named_dest(self._str_of(dest) or "")
                    )
                if isinstance(dest, dict):
                    dest = self.resolve(dest.get("D"))
                dest = dest or []
                if dest and isinstance(dest[0], Ref):
                    pgidx = {
                        r.num: i for i, r in enumerate(self.page_refs)
                    }
                    dest_page = pgidx.get(dest[0].num, -1) + 1
                if len(dest) >= 4 and str(
                    self.resolve(dest[1]) or ""
                ) == "XYZ":
                    yv = self.resolve(dest[3])
                    dest_y = float(yv) if yv is not None else None
            out.append(
                {
                    "subtype": str(self.resolve(a.get("Subtype", ""))),
                    "rect": rect,
                    "uri": uri,
                    "dest_page": dest_page,
                    "dest_y": dest_y,
                }
            )
        return out

    # -- document structure (metadata / outlines / forms / attachments) ----
    def _str_of(self, v: Any) -> Optional[str]:
        """Decode a PDF string value ((...) or <...>) to text."""
        v = self.resolve(v)
        if v is None:
            return None
        if isinstance(v, Name):
            return str(v)
        if isinstance(v, bytes):
            return bytes(v).decode("latin-1")
        return str(v)

    def doc_info(self) -> Dict[str, Optional[str]]:
        """Trailer /Info metadata dictionary (§14.3.3): the classic
        document-information layer (reference surfaces provider metadata
        per document; here it comes from the file itself)."""
        d = self.resolve(self.trailer.get("Info")) or {}
        return {
            "title": self._str_of(d.get("Title")),
            "author": self._str_of(d.get("Author")),
            "subject": self._str_of(d.get("Subject")),
            "producer": self._str_of(d.get("Producer")),
            "creation": self._str_of(d.get("CreationDate")),
        }

    def xmp_metadata(self) -> Optional[str]:
        """The catalog's XMP /Metadata packet (§14.3.2) as text, or None."""
        m = self.resolve(self.root.get("Metadata"))
        if not isinstance(m, Stream):
            return None
        return m.data(self.resolve).decode("utf-8", "replace")

    def outline_entries(self) -> List[dict]:
        """Flattened /Outlines (bookmark) tree (§12.3.3): depth-first over
        /First chains, siblings via /Next; each entry carries its document
        order, nesting level, title, and the 1-based page + y of its /Dest."""
        out: List[dict] = []
        ol = self.resolve(self.root.get("Outlines"))
        if not isinstance(ol, dict):
            return out
        pgidx = {r.num: i for i, r in enumerate(self.page_refs)}
        seen: set = set()

        def walk(ref: Any, level: int) -> None:
            while ref is not None:
                if isinstance(ref, Ref):
                    if ref.num in seen:  # cycle guard (damaged trees)
                        return
                    seen.add(ref.num)
                node = self.resolve(ref)
                if not isinstance(node, dict):
                    return
                dest = self.resolve(node.get("Dest"))
                if isinstance(dest, (str, bytes)):
                    # named destination (§12.3.2.3): resolve through the
                    # catalog /Names /Dests tree; values may be the bare
                    # array or a << /D [...] >> dictionary
                    dest = self.resolve(
                        self._named_dest(self._str_of(dest) or "")
                    )
                if isinstance(dest, dict):
                    dest = self.resolve(dest.get("D"))
                dest = dest or []
                page_number = 0
                y = None
                if dest and isinstance(dest[0], Ref):
                    page_number = pgidx.get(dest[0].num, -1) + 1
                if len(dest) >= 4 and str(
                    self.resolve(dest[1]) or ""
                ) == "XYZ":
                    yv = self.resolve(dest[3])
                    y = float(yv) if yv is not None else None
                out.append(
                    {
                        "order": len(out),
                        "level": level,
                        "title": self._str_of(node.get("Title")) or "",
                        "page_number": page_number,
                        "y": y,
                    }
                )
                if node.get("First") is not None:
                    walk(node["First"], level + 1)
                ref = node.get("Next")

        if ol.get("First") is not None:
            walk(ol["First"], 0)
        return out

    def form_fields(self) -> List[dict]:
        """AcroForm field values (§12.7): walks /AcroForm /Fields through
        /Kids, joining partial names with '.' and inheriting /FT and /V
        from parent nodes; terminal widgets yield (fully-qualified name,
        type, value, 1-based page via /P, /Rect). /Btn values are names
        (/Yes, /Off); text and choice values are strings — filled-form
        extraction, the interchange layer review/intake tools write."""
        out: List[dict] = []
        acro = self.resolve(self.root.get("AcroForm"))
        if not isinstance(acro, dict):
            return out
        pgidx = {r.num: i for i, r in enumerate(self.page_refs)}

        def walk(ref: Any, prefix: str, ftype: Optional[str],
                 value: Any) -> None:
            f = self.resolve(ref)
            f = f.dict if isinstance(f, Stream) else f
            if not isinstance(f, dict):
                return
            t = self._str_of(f.get("T"))
            name = f"{prefix}.{t}" if prefix and t else (t or prefix)
            if "FT" in f:
                ftype = str(self.resolve(f["FT"]))
            if ftype == "Sig":
                return  # signature fields surface via signatures()
            if "V" in f:
                value = f["V"]
            kids = self.resolve(f.get("Kids"))
            if kids:
                for k in kids:
                    walk(k, name, ftype, value)
                return
            if str(self.resolve(f.get("Subtype", ""))) != "Widget":
                return
            rect = [
                float(self.resolve(v))
                for v in (self.resolve(f.get("Rect")) or [0, 0, 0, 0])
            ]
            p = f.get("P")
            page_number = (
                pgidx.get(p.num, -1) + 1 if isinstance(p, Ref) else 0
            )
            out.append(
                {
                    "name": name,
                    "ftype": ftype or "",
                    "value": self._str_of(value),
                    "page_number": page_number,
                    "rect": rect,
                }
            )

        for ref in self.resolve(acro.get("Fields", [])) or []:
            walk(ref, "", None, None)
        return out

    def attachments(self) -> List[dict]:
        """Embedded-file attachments (§7.11.4) behind the catalog's
        /Names /EmbeddedFiles name tree (§7.9.6, incl. intermediate /Kids
        nodes): yields name, declared MIME (/Subtype), declared /Params
        size + /CheckSum, and the md5 of the DECODED payload — equality
        of the two digests proves the stream decode (filters +
        encryption) end to end."""
        out: List[dict] = []
        names_d = self.resolve(self.root.get("Names"))
        if not isinstance(names_d, dict):
            return out
        tree = self.resolve(names_d.get("EmbeddedFiles"))
        if not isinstance(tree, dict):
            return out

        pairs: List[tuple] = []

        def walk_tree(node: Any) -> None:
            node = self.resolve(node)
            if not isinstance(node, dict):
                return
            arr = self.resolve(node.get("Names"))
            if arr:
                for i in range(0, len(arr) - 1, 2):
                    pairs.append((self._str_of(arr[i]), arr[i + 1]))
            for kid in self.resolve(node.get("Kids")) or []:
                walk_tree(kid)

        walk_tree(tree)
        import hashlib as _hl

        for nm, specref in pairs:
            spec = self.resolve(specref)
            spec = spec.dict if isinstance(spec, Stream) else spec
            if not isinstance(spec, dict):
                continue
            ef = self.resolve(spec.get("EF")) or {}
            fstm = self.resolve(ef.get("F"))
            if not isinstance(fstm, Stream):
                continue
            data = fstm.data(self.resolve)
            params = self.resolve(fstm.dict.get("Params")) or {}
            size = self.resolve(params.get("Size"))
            out.append(
                {
                    "name": nm,
                    "mime": str(self.resolve(fstm.dict.get("Subtype", ""))),
                    "size": int(size) if size is not None else len(data),
                    "checksum": self._str_of(params.get("CheckSum")),
                    "payload_md5": _hl.md5(data).hexdigest(),
                }
            )
        return out

    def page_labels(self) -> List[str]:
        """Per-page display labels from the catalog's /PageLabels number
        tree (§12.4.2) — the 'iv', 'C2-7' page numbering viewers show for
        front matter / chaptered documents. Walks /Nums plus intermediate
        /Kids nodes, applies each range (/S style, /P prefix, /St start)
        to the pages up to the next range key. Pages before the first
        range (malformed trees) fall back to ordinal numbering."""
        pl = self.resolve(self.root.get("PageLabels"))
        if not isinstance(pl, dict):
            return []
        nums: List[tuple] = []

        def walk(node: Any) -> None:
            node = self.resolve(node)
            if not isinstance(node, dict):
                return
            arr = self.resolve(node.get("Nums")) or []
            for i in range(0, len(arr) - 1, 2):
                nums.append(
                    (int(self.resolve(arr[i])), self.resolve(arr[i + 1]))
                )
            for kid in self.resolve(node.get("Kids")) or []:
                walk(kid)

        walk(pl)
        nums.sort(key=lambda t: t[0])

        def fmt(style: str, n: int) -> str:
            if style == "D":
                return str(n)
            if style in ("R", "r"):
                out = []
                for v, sym in (
                    (1000, "m"), (900, "cm"), (500, "d"), (400, "cd"),
                    (100, "c"), (90, "xc"), (50, "l"), (40, "xl"),
                    (10, "x"), (9, "ix"), (5, "v"), (4, "iv"), (1, "i"),
                ):
                    while n >= v:
                        out.append(sym)
                        n -= v
                s = "".join(out)
                return s.upper() if style == "R" else s
            if style in ("A", "a"):
                ch = chr(ord("A") + (n - 1) % 26)
                s = ch * ((n - 1) // 26 + 1)
                return s.lower() if style == "a" else s
            return ""

        labels: List[str] = []
        for p in range(len(self.page_refs)):
            rng, start = None, 0
            for k, d in nums:
                if k <= p:
                    rng, start = d, k
            if not isinstance(rng, dict):
                labels.append(str(p + 1))
                continue
            st = int(self.resolve(rng.get("St", 1)) or 1)
            style = str(self.resolve(rng.get("S", "")) or "")
            prefix = self._str_of(rng.get("P")) or ""
            labels.append(prefix + fmt(style, st + (p - start)))
        return labels

    def _named_dest(self, name: str):
        """Value for ``name`` in the catalog /Names /Dests name tree
        (§7.7.4, §12.3.2.3) — flat /Names arrays plus /Kids with /Limits;
        the whole tree is walked once and cached."""
        cache = getattr(self, "_dests_cache", None)
        if cache is None:
            cache = {}

            def walk(node: Any) -> None:
                node = self.resolve(node)
                if not isinstance(node, dict):
                    return
                arr = self.resolve(node.get("Names")) or []
                for i in range(0, len(arr) - 1, 2):
                    cache[self._str_of(arr[i]) or ""] = arr[i + 1]
                for kid in self.resolve(node.get("Kids")) or []:
                    walk(kid)

            names = self.resolve(self.root.get("Names"))
            if isinstance(names, dict):
                walk(names.get("Dests"))
            self._dests_cache = cache
        return cache.get(name)

    def _oc_off_nums(self) -> set:
        """Object numbers of optional-content groups that are OFF in the
        default configuration (catalog /OCProperties /D /OFF, §8.11.4.3)
        — the set a conforming viewer hides with default layer state.
        Cached; empty for documents without layers."""
        cached = getattr(self, "_oc_off_cache", None)
        if cached is not None:
            return cached
        off: set = set()
        ocp = self.resolve(self.root.get("OCProperties"))
        if isinstance(ocp, dict):
            d = self.resolve(ocp.get("D"))
            if isinstance(d, dict):
                for r in self.resolve(d.get("OFF")) or []:
                    if isinstance(r, Ref):
                        off.add(r.num)
        self._oc_off_cache = off
        return off

    def ocg_layers(self) -> List[dict]:
        """Optional-content groups (§8.11): one row per declared layer —
        /Name and whether the default configuration shows it. The order
        is the catalog /OCGs array order."""
        out: List[dict] = []
        ocp = self.resolve(self.root.get("OCProperties"))
        if not isinstance(ocp, dict):
            return out
        off = self._oc_off_nums()
        for r in self.resolve(ocp.get("OCGs")) or []:
            g = self.resolve(r)
            if isinstance(g, dict):
                out.append(
                    {
                        "name": self._str_of(g.get("Name")) or "",
                        "default_on": not (
                            isinstance(r, Ref) and r.num in off
                        ),
                    }
                )
        return out

    def signatures(self) -> List[dict]:
        """Digital-signature fields (§12.8): walks /AcroForm for /FT /Sig
        fields and STRUCTURALLY verifies each /V signature dictionary —
        the layer a corpus pipeline validates before trusting a signed
        document. Per signature: recompute the SHA-256 digest over the
        two /ByteRange segments and compare against /Contents
        (``digest_valid``), and check the ranges cover the WHOLE file
        except exactly the /Contents hex token (``covers_whole_file`` —
        a signature whose ByteRange skips other bytes authenticates
        nothing, the classic incremental-save attack). CMS/X.509
        certificate validation is out of scope (declared); /Contents here
        carries the bare digest under /SubFilter /sha256.digest.

        Reference equivalence: docprompt's pdfium exposes this surface as
        FPDF_GetSignatureObject / FPDFSignatureObj_GetByteRange."""
        out: List[dict] = []
        acro = self.resolve(self.root.get("AcroForm"))
        if not isinstance(acro, dict):
            return out
        import hashlib as _hl

        data = self.data
        for ref in self.resolve(acro.get("Fields", [])) or []:
            f = self.resolve(ref)
            f = f.dict if isinstance(f, Stream) else f
            if not isinstance(f, dict):
                continue
            if str(self.resolve(f.get("FT", ""))) != "Sig":
                continue
            v = self.resolve(f.get("V"))
            if not isinstance(v, dict):
                continue
            br = [int(self.resolve(x)) for x in
                  (self.resolve(v.get("ByteRange")) or [])]
            contents = self.resolve(v.get("Contents"))
            digest_valid = covers_whole = False
            if len(br) == 4 and isinstance(contents, bytes):
                a, la, bo, lb = br
                ok_bounds = (
                    0 <= a <= a + la <= bo <= bo + lb <= len(data)
                )
                if ok_bounds:
                    covered = data[a : a + la] + data[bo : bo + lb]
                    digest_valid = (
                        _hl.sha256(covered).hexdigest()
                        == bytes(contents).hex()
                    )
                    gap = data[a + la : bo]
                    covers_whole = (
                        a == 0
                        and bo + lb == len(data)
                        and gap[:1] == b"<"
                        and gap[-1:] == b">"
                    )
            mval = self._str_of(v.get("M")) or ""
            out.append(
                {
                    "field_name": self._str_of(f.get("T")) or "",
                    "signer": self._str_of(v.get("Name")) or "",
                    "sign_time": mval[2:] if mval.startswith("D:") else mval,
                    "subfilter": str(self.resolve(v.get("SubFilter", ""))),
                    "byte_range": br,
                    "digest_valid": digest_valid,
                    "covers_whole_file": covers_whole,
                }
            )
        return out

    def annotation_appearances(self, index: int) -> List[dict]:
        """Rendered annotation appearances (§12.5.5): for each annotation
        with a normal appearance stream (/AP /N — the Form XObject real
        viewers regenerate to DISPLAY a widget's value), run the §12.5.5
        appearance algorithm — /BBox corners through /Matrix, the result
        mapped onto /Rect — and interpret the stream, returning the
        drawn text in PAGE space. This is the only place a filled form's
        on-page rendering lives; pdfium paints these with FPDF_ANNOT and
        docprompt's OCR providers read that paint. Page text extraction
        intentionally excludes appearance content (pdfium's text API does
        too); this surface exposes it separately."""
        page = self.resolve(self.page_refs[index])
        media = self._inherited(page, "MediaBox")
        media = [float(self.resolve(v)) for v in media]
        pw, ph = media[2] - media[0], media[3] - media[1]
        out: List[dict] = []
        for ref in self.resolve(page.get("Annots")) or []:
            a = self.resolve(ref)
            a = a.dict if isinstance(a, Stream) else a
            if not isinstance(a, dict):
                continue
            ap = self.resolve(a.get("AP"))
            n = self.resolve(ap.get("N")) if isinstance(ap, dict) else None
            if not isinstance(n, Stream):
                continue
            rect = [
                float(self.resolve(v))
                for v in self.resolve(a.get("Rect")) or [0, 0, 0, 0]
            ]
            rx0, ry0 = min(rect[0], rect[2]), min(rect[1], rect[3])
            rx1, ry1 = max(rect[0], rect[2]), max(rect[1], rect[3])
            bbox = [
                float(self.resolve(v))
                for v in self.resolve(n.dict.get("BBox")) or [0, 0, 1, 1]
            ]
            mat = self.resolve(n.dict.get("Matrix"))
            fm = (
                tuple(float(self.resolve(v)) for v in mat)
                if mat is not None
                else _ID
            )
            # §12.5.5 b): transformed bbox corners -> bounding quad
            xs, ys = [], []
            for cx, cy in (
                (bbox[0], bbox[1]), (bbox[2], bbox[1]),
                (bbox[2], bbox[3]), (bbox[0], bbox[3]),
            ):
                xs.append(fm[0] * cx + fm[2] * cy + fm[4])
                ys.append(fm[1] * cx + fm[3] * cy + fm[5])
            bx0, bx1 = min(xs), max(xs)
            by0, by1 = min(ys), max(ys)
            sx = (rx1 - rx0) / (bx1 - bx0) if bx1 > bx0 else 1.0
            sy = (ry1 - ry0) / (by1 - by0) if by1 > by0 else 1.0
            # A maps form space -> page space: Matrix, then scale the quad
            # onto Rect
            amap = _mat_mul(
                fm, (sx, 0.0, 0.0, sy, rx0 - bx0 * sx, ry0 - by0 * sy)
            )
            sub_res = self.resolve(n.dict.get("Resources")) or {}
            fonts_d = self.resolve(sub_res.get("Font", {})) or {}
            words, _im, _vec = _interpret_content(
                n.data(self.resolve),
                fonts={
                    nm: self._load_font(r) for nm, r in fonts_d.items()
                },
                xobjects=self.resolve(sub_res.get("XObject", {})) or {},
                resolve=self.resolve,
                page_w=pw,
                page_h=ph,
                ctm0=amap,
            )
            out.append(
                {
                    "field_name": self._str_of(a.get("T")) or "",
                    "subtype": str(self.resolve(a.get("Subtype", ""))),
                    "rect": [rx0, ry0, rx1, ry1],
                    "text": " ".join(w["text"] for w in words),
                }
            )
        return out

    def structure_tree(self) -> List[dict]:
        """Flattened logical-structure tree (tagged PDF, §14.7): DFS over
        /StructTreeRoot → /StructElem /K kids; each element yields its
        document order, nesting level, /S tag, 1-based page (via /Pg) and
        the MCIDs its /K holds (bare integers or /MCR dicts) — the
        logical-reading-order surface screen readers and reflow engines
        consume. Pair the MCIDs with extract_page words' ``mcid`` to
        recover per-element text."""
        out: List[dict] = []
        st = self.resolve(self.root.get("StructTreeRoot"))
        if not isinstance(st, dict):
            return out
        pgidx = {r.num: i for i, r in enumerate(self.page_refs)}

        def walk(k: Any, level: int) -> None:
            kr = self.resolve(k)
            if isinstance(kr, list):
                for item in kr:
                    walk(item, level)
                return
            if not isinstance(kr, dict) or "S" not in kr:
                return
            pg = kr.get("Pg")
            page_number = (
                pgidx.get(pg.num, -1) + 1 if isinstance(pg, Ref) else 0
            )
            kids = self.resolve(kr.get("K"))
            kid_list = kids if isinstance(kids, list) else [kids]
            mcids: List[int] = []
            sub: List[Any] = []
            for item in kid_list:
                it = self.resolve(item)
                if isinstance(it, (int, float)):
                    mcids.append(int(it))
                elif isinstance(it, dict) and "MCID" in it:
                    mcids.append(int(self.resolve(it["MCID"])))
                elif it is not None:
                    sub.append(item)
            out.append(
                {
                    "order": len(out),
                    "level": level,
                    "tag": str(self.resolve(kr.get("S", ""))),
                    "page_number": page_number,
                    "mcids": mcids,
                }
            )
            for s in sub:
                walk(s, level + 1)

        walk(st.get("K"), 0)
        return out

    def glyph_outline_pool(self) -> Dict[str, tuple]:
        """char -> (advance width, contours) harvested from every embedded
        outline font program — CFF (/FontFile3) and TrueType (/FontFile2)
        — in the document: the rasterizer's outline source (D7). CFF glyph
        names map to text via cff.glyph_name_to_text; TrueType outlines
        key by char straight from the embedded cmap. First font wins on
        collisions (the corpus authors identical outlines per codepoint,
        so order is moot)."""
        pool: Dict[str, tuple] = {}
        seen: set = set()
        for i in range(self.page_count):
            page = self.resolve(self.page_refs[i])
            resources = self._inherited(page, "Resources") or {}
            fonts_d = dict(self.resolve(resources.get("Font", {})) or {})
            # fonts referenced only from Form XObjects (§8.10) contribute
            # outlines too: walk nested form /Resources (depth-capped)
            pending = [(resources, 0)]
            while pending:
                res, d = pending.pop()
                if d >= 8:
                    continue
                xobjs = self.resolve(res.get("XObject", {})) or {}
                for xref in xobjs.values():
                    xkey = ("form", xref.num if isinstance(xref, Ref) else id(xref))
                    if xkey in seen:
                        continue
                    seen.add(xkey)
                    xo = self.resolve(xref)
                    if not isinstance(xo, Stream) or xo.dict.get("Subtype") != "Form":
                        continue
                    sub_res = self.resolve(xo.dict.get("Resources")) or {}
                    sub_fonts = self.resolve(sub_res.get("Font", {})) or {}
                    for n, r in sub_fonts.items():
                        fonts_d.setdefault(f"__form{len(fonts_d)}_{n}", r)
                    pending.append((sub_res, d + 1))
            for ref in fonts_d.values():
                fd_obj = self.resolve(ref)
                if not isinstance(fd_obj, dict):
                    continue
                if str(fd_obj.get("Subtype", "")) == "Type3":
                    # Type3 (§9.6.5): glyphs ARE content streams — interpret
                    # each /CharProcs entry's path ops into the shared
                    # 1000-upm outline space via /FontMatrix * 1000
                    key = ("t3", ref.num if isinstance(ref, Ref) else id(fd_obj))
                    if key in seen:
                        continue
                    seen.add(key)
                    fm = [
                        float(self.resolve(v))
                        for v in self.resolve(
                            fd_obj.get("FontMatrix", [0.001, 0, 0, 0.001, 0, 0])
                        )
                    ]
                    cps = self.resolve(fd_obj.get("CharProcs", {})) or {}
                    for nm, pref in cps.items():
                        st = self.resolve(pref)
                        if not isinstance(st, Stream):
                            continue
                        try:
                            wc = _type3_glyph_outline(
                                st.data(self.resolve), fm
                            )
                        except (ValueError, IndexError):
                            continue
                        if wc is None:
                            continue
                        ch = cff.glyph_name_to_text(str(nm))
                        if ch and ch not in pool:
                            pool[ch] = wc
                    continue
                descs = []
                desc = self.resolve(fd_obj.get("FontDescriptor"))
                if desc:
                    descs.append(desc)
                for dref in self.resolve(fd_obj.get("DescendantFonts", [])) or []:
                    d = self.resolve(dref)
                    dd = self.resolve((d or {}).get("FontDescriptor"))
                    if dd:
                        descs.append(dd)
                for desc in descs:
                    ff = self.resolve(desc.get("FontFile3"))
                    if isinstance(ff, Stream):
                        data = ff.data(self.resolve)
                        key = hashlib.md5(data).digest()
                        if key not in seen:
                            seen.add(key)
                            named = cff.cff_glyph_outlines(data)
                            for name, wc in named.items():
                                ch = cff.glyph_name_to_text(name)
                                if ch and ch not in pool:
                                    pool[ch] = wc
                            if not named:
                                # CID-keyed program (CIDFontType0C): the
                                # charset carries CIDs, not names — map
                                # CID->code (inverse of the /Encoding
                                # CMap; Identity-H: code == CID) then
                                # code->char through ToUnicode (§9.10.3,
                                # keyed by CODE)
                                tu = self.resolve(fd_obj.get("ToUnicode"))
                                cmap = (
                                    _parse_tounicode(tu.data(self.resolve))
                                    if isinstance(tu, Stream)
                                    else {}
                                )
                                enc = self.resolve(fd_obj.get("Encoding"))
                                cid2code = None
                                if isinstance(enc, Stream):
                                    cid2code = {
                                        c: k
                                        for k, c in _parse_cid_cmap(
                                            enc.data(self.resolve)
                                        ).items()
                                    }
                                for cid, wc in cff.cff_cid_glyph_outlines(
                                    data
                                ).items():
                                    code = (
                                        cid2code.get(cid)
                                        if cid2code is not None
                                        else cid
                                    )
                                    ch = cmap.get(code)
                                    if (
                                        ch
                                        and len(ch) == 1
                                        and ch not in pool
                                    ):
                                        pool[ch] = wc
                    ff2 = self.resolve(desc.get("FontFile2"))
                    if isinstance(ff2, Stream):
                        # TrueType (glyf) program: outlines keyed by char
                        # straight from the embedded cmap
                        from docprompt_spark import truetype

                        data = ff2.data(self.resolve)
                        key = hashlib.md5(data).digest()
                        if key not in seen:
                            seen.add(key)
                            for ch, wc in truetype.ttf_glyph_outlines(
                                data
                            ).items():
                                if ch not in pool:
                                    pool[ch] = wc
                    ff1 = self.resolve(desc.get("FontFile"))
                    if isinstance(ff1, Stream):
                        # original Type1 program: eexec + charstring
                        # decrypt, Type1 op interpretation
                        data = ff1.data(self.resolve)
                        key = hashlib.md5(data).digest()
                        if key not in seen:
                            seen.add(key)
                            for name, wc in cff.type1_glyph_outlines(
                                data
                            ).items():
                                ch = cff.glyph_name_to_text(name)
                                if ch and ch not in pool:
                                    pool[ch] = wc
        return pool


# ---------------------------------------------------------------------------
# ToUnicode CMap
# ---------------------------------------------------------------------------

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEXPAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")
_HEXTRIPLE_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>")


_BFRANGE_ARR_RE = re.compile(
    rb"<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>\s*\[((?:\s*<[0-9a-fA-F]+>)+)\s*\]"
)


_CIDRANGE_RE = re.compile(rb"begincidrange(.*?)endcidrange", re.S)
_CIDCHAR_RE = re.compile(rb"begincidchar(.*?)endcidchar", re.S)
_CIDRANGE_ROW_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(\d+)"
)
_CIDCHAR_ROW_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*(\d+)")


@cff.memo_bytes_fn
def _parse_cid_cmap(data: bytes) -> Dict[int, int]:
    """Embedded CID CMap stream (§9.7.5.3, the Type0 /Encoding form real
    CJK subset fonts carry instead of /Identity-H): code -> CID from
    begincidrange triples (`<lo> <hi> firstCID`) and begincidchar pairs
    (`<code> cid`). 2-byte codespace (the dominant real-world form; the
    show-string reader consumes byte pairs)."""
    out: Dict[int, int] = {}
    for section in _CIDRANGE_RE.findall(data):
        for lo, hi, cid in _CIDRANGE_ROW_RE.findall(section):
            lo_i, hi_i, c0 = int(lo, 16), int(hi, 16), int(cid)
            for k in range(hi_i - lo_i + 1):
                out[lo_i + k] = c0 + k
    for section in _CIDCHAR_RE.findall(data):
        for code, cid in _CIDCHAR_ROW_RE.findall(section):
            out[int(code, 16)] = int(cid)
    return out


@cff.memo_bytes_fn
def _parse_tounicode(data: bytes) -> Dict[int, str]:
    """ToUnicode CMap (§9.10.3): bfchar pairs, continuous bfrange (the
    destination string incremented per code — as a BYTE string, so
    multi-code-unit destinations incl. UTF-16 surrogate pairs advance on
    their last unit), and the ARRAY-destination bfrange form
    `<lo> <hi> [<d0> <d1> …]` word processors emit for non-contiguous
    glyph runs."""
    cmap: Dict[int, str] = {}
    for section in _BFCHAR_RE.findall(data):
        for src, dst in _HEXPAIR_RE.findall(section):
            cmap[int(src, 16)] = bytes.fromhex(dst.decode()).decode("utf-16-be")
    for section in _BFRANGE_RE.findall(data):
        for lo, hi, dsts in _BFRANGE_ARR_RE.findall(section):
            lo_i = int(lo, 16)
            vals = re.findall(rb"<([0-9a-fA-F]+)>", dsts)
            for k, d in enumerate(vals):
                cmap[lo_i + k] = bytes.fromhex(d.decode()).decode(
                    "utf-16-be"
                )
        section = _BFRANGE_ARR_RE.sub(b"", section)
        for lo, hi, dst in _HEXTRIPLE_RE.findall(section):
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            raw = bytes.fromhex(dst.decode())
            base = int.from_bytes(raw, "big")
            for cid in range(lo_i, hi_i + 1):
                v = base + (cid - lo_i)
                cmap[cid] = v.to_bytes(len(raw), "big").decode("utf-16-be")
    return cmap


# ---------------------------------------------------------------------------
# Content-stream tokenizer (fast path): one compiled-regex pass instead of
# byte-at-a-time lexing. Literal strings fall back to the escape-aware reader.
# ---------------------------------------------------------------------------

class InlineImage:
    """A BI/ID/EI inline image lifted out of a content stream at tokenize
    time (the binary payload would otherwise derail the lexer). ``dict``
    holds the image dict with abbreviations expanded to the full XObject
    key/value names (PDF 32000-1 Table 93), so downstream codec
    classification (_codec_of) is shared with image XObjects; ``raw`` is
    the still-encoded payload."""

    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes) -> None:
        self.dict = d
        self.raw = raw


_II_KEY = {
    "BPC": "BitsPerComponent", "CS": "ColorSpace", "D": "Decode",
    "DP": "DecodeParms", "F": "Filter", "H": "Height", "IM": "ImageMask",
    "I": "Interpolate", "L": "Length", "W": "Width",
}
_II_CS = {"G": "DeviceGray", "RGB": "DeviceRGB", "CMYK": "DeviceCMYK",
          "I": "Indexed"}
_II_FILT = {"AHx": "ASCIIHexDecode", "A85": "ASCII85Decode",
            "LZW": "LZWDecode", "Fl": "FlateDecode", "RL": "RunLengthDecode",
            "CCF": "CCITTFaxDecode", "DCT": "DCTDecode"}

# EI delimiter: whitespace + EI + (whitespace | EOF) — the portable way to
# find the end of filtered inline data when /L is absent
_II_EI_RE = re.compile(rb"[\0\t\n\f\r ]EI(?=[\0\t\n\f\r ]|$)")


def _ii_expand(tokens: List[Any]) -> dict:
    """Flat BI..ID token list -> full-name image dict (nested dicts/arrays
    rebuilt; true/false Ops become bools)."""
    it = iter(tokens)

    def value(tok):
        if type(tok) is bytes and tok == b"<<":
            d = {}
            for t in it:
                if type(t) is bytes and t == b">>":
                    break
                d[str(t)] = value(next(it))
            return d
        if type(tok) is bytes and tok == b"[":
            arr = []
            for t in it:
                if type(t) is bytes and t == b"]":
                    break
                arr.append(value(t))
            return arr
        if isinstance(tok, Op):
            return {b"true": True, b"false": False, b"null": None}.get(tok, str(tok))
        return tok

    out: dict = {}
    for tok in it:
        key = _II_KEY.get(str(tok), str(tok))
        v = value(next(it))
        if key == "ColorSpace" and isinstance(v, Name):
            v = Name(_II_CS.get(str(v), str(v)))
        elif key == "ColorSpace" and isinstance(v, list):
            # inline /Indexed form: [/I /RGB hival <table>] — expand the
            # member names too so indexed_palette/_codec_of see full names
            v = [
                Name(_II_CS.get(str(x), str(x))) if isinstance(x, Name) else x
                for x in v
            ]
        elif key == "Filter":
            if isinstance(v, Name):
                v = Name(_II_FILT.get(str(v), str(v)))
            elif isinstance(v, list):
                v = [Name(_II_FILT.get(str(x), str(x))) for x in v]
        out[key] = v
    return out


def _ii_data_len(d: dict) -> Optional[int]:
    """Byte length of UNFILTERED inline data (rows are byte-aligned), or
    None when a filter makes the length unknowable without /L."""
    if "L" in d or "Length" in d:
        return int(d.get("Length", d.get("L")))
    if d.get("Filter"):
        return None
    w = int(d.get("Width", 0) or 0)
    h = int(d.get("Height", 0) or 0)
    bpc = int(d.get("BitsPerComponent", 8) or 8)
    if d.get("ImageMask"):
        bpc = 1
    ncomp = {"DeviceRGB": 3, "DeviceCMYK": 4}.get(str(d.get("ColorSpace", "")), 1)
    return ((w * bpc * ncomp + 7) // 8) * h


# shared Op instances for the standard operators (PDF 32000-1 Annex A);
# BI and ID stay out: the token loop handles them
_OPS = {
    o: Op(o)
    for o in (
        b"b b* B B* BDC BMC BT BX c cm CS cs d d0 d1 Do DP EI EMC ET EX f F f* "
        b"G g gs h i j J K k l m M MP n q Q re RG rg ri s S SC sc SCN scn sh "
        b"T* Tc Td TD Tf Tj TJ TL Tm Tr Ts Tw Tz v w W W* y ' \" true false null"
    ).split()
}


def _lift_inline_image(data: bytes, pos: int, ii_toks: List[Any]):
    """(InlineImage, end) for the BI dict tokens ``ii_toks`` whose ``ID``
    ends at ``pos``: the binary payload is sliced out here, since it would
    derail the tokenizer."""
    n = len(data)
    d = _ii_expand(ii_toks)
    if pos < n and data[pos] in _WS:
        pos += 1  # exactly one whitespace after ID (spec)
    ln = _ii_data_len(d)
    if ln is not None:
        raw = data[pos : pos + ln]
        pos += ln
        m_ei = _II_EI_RE.search(data, pos - 1)
        return InlineImage(d, raw), (m_ei.end() if m_ei else n)
    m_ei = _II_EI_RE.search(data, pos)
    if m_ei is None:
        return InlineImage(d, data[pos:]), n
    return InlineImage(d, data[pos : m_ei.start()]), m_ei.end()


def _tokenize_content(data: bytes) -> List[Any]:
    """Typed token LIST: int/float, Name, LitString, HexString, InlineImage,
    or Op/bytes structural markers — the types _Lexer.read_token returns
    for the same grammar. Returns a list (not a generator): one C-level append loop beats
    per-token frame switching on the content-stream hot path.

    Tokenization stops at the first byte no token class matches (a lone
    ``)`` or ``{``). The tokens between ``BI`` and ``ID`` go through the
    same classifier and become the inline image's dict."""
    out: List[Any] = []
    append = out.append
    ops_get = _OPS.get
    pos = 0
    bi = -1  # index in ``out`` where a pending BI dict starts
    while True:
        m = None
        for m in iter(_CS_RE.scanner(data, pos).match, None):
            k = m.lastindex
            if k == 2:
                append(int(m[2]))
            elif k == 3:
                tok = m[3]
                op = ops_get(tok)
                if op is not None:
                    append(op)
                elif tok == b"BI" and bi < 0:
                    bi = len(out)
                elif tok == b"ID" and bi >= 0:
                    break
                else:
                    append(Op(tok))
            elif k == 1:
                append(float(m[1]))
            elif k == 4:
                append(LitString(m[4]))
            elif k == 5:
                tok = m[5]
                append(Name(tok, "latin-1") if 0x23 not in tok else _escaped_name(tok))
            elif k == 6:
                append(m[6])
            elif k == 7:
                append(_hex_string(m[7]))
            elif k == 8:
                break  # the scanner restarts after the escape-aware reader
            else:
                raise ValueError(f"malformed number {m[9]!r}")
        else:
            # no token class matches here: the stream ends, unless a
            # pending BI dict ran into this point (its image is lifted here)
            if bi < 0:
                return out
            k = 0
        if k == 8:
            lex = _Lexer(data, m.start(8))
            append(lex._read_literal_string())
            pos = lex.pos
            continue
        # ID ended the pending BI dict, or the stream did
        if m is not None:
            pos = m.end()
        img, pos = _lift_inline_image(data, pos, out[bi:])
        del out[bi:]
        append(img)
        bi = -1


def _type3_glyph_outline(data: bytes, fm: List[float]):
    """(advance width, contours) from a Type3 glyph procedure (PDF 32000
    §9.6.5): ``d0``/``d1`` metrics, ``re`` rects and ``m l c h`` path
    segments, any fill/stroke-fill paint flushing the path. Glyph-space
    coordinates map into the rasterizer's 1000-upm outline space via
    FontMatrix × 1000 (near-integer results snap to int so authored
    rectilinear glyphs compare exactly against every other font format).
    Returns None when no ``d0``/``d1`` metrics op is present."""
    a, b_, c_, d_, e_, f_ = fm

    def tx(x: float, y: float):
        px = (a * x + c_ * y + e_) * 1000.0
        py = (b_ * x + d_ * y + f_) * 1000.0
        rx, ry = round(px), round(py)
        return (
            int(rx) if abs(px - rx) < 1e-6 else px,
            int(ry) if abs(py - ry) < 1e-6 else py,
        )

    stack: List[float] = []
    contours: List[list] = []
    cur = None
    width = None
    x = y = 0.0
    for tok in _tokenize_content(data):
        if isinstance(tok, (int, float)) and not isinstance(tok, bool):
            stack.append(float(tok))
            continue
        if not isinstance(tok, Op):
            stack.clear()
            continue
        op = bytes(tok)
        if op in (b"d0", b"d1") and stack:
            wx = (a * stack[0]) * 1000.0
            width = int(round(wx))
        elif op == b"re" and len(stack) >= 4:
            rx, ry, rw, rh = stack[-4:]
            if cur is not None and len(cur) > 1:
                contours.append(cur)
                cur = None
            contours.append(
                [tx(rx, ry), tx(rx + rw, ry), tx(rx + rw, ry + rh), tx(rx, ry + rh)]
            )
        elif op == b"m" and len(stack) >= 2:
            if cur is not None and len(cur) > 1:
                contours.append(cur)
            x, y = stack[-2], stack[-1]
            cur = [tx(x, y)]
        elif op == b"l" and len(stack) >= 2:
            x, y = stack[-2], stack[-1]
            if cur is not None:
                cur.append(tx(x, y))
        elif op == b"c" and len(stack) >= 6:
            if cur is not None:
                from docprompt_spark.rasterize import flatten_cubic

                x1, y1, x2, y2, x3, y3 = stack[-6:]
                for px, py in flatten_cubic(
                    (x, y), (x1, y1), (x2, y2), (x3, y3)
                ):
                    cur.append(tx(px, py))
                x, y = x3, y3
        elif op == b"h":
            if cur is not None and len(cur) > 1:
                contours.append(cur)
            cur = None
        elif op in (b"f", b"F", b"f*", b"B", b"B*", b"b", b"b*", b"S", b"s", b"n"):
            if cur is not None and len(cur) > 1:
                contours.append(cur)
            cur = None
        stack.clear()
    if cur is not None and len(cur) > 1:
        contours.append(cur)
    if width is None:
        return None
    return (width, contours)


def inline_images(content: bytes) -> List[InlineImage]:
    """All BI/ID/EI inline images in a (decoded) content stream, in paint
    order — the media-table scan path (no text interpretation needed)."""
    return [t for t in _tokenize_content(content) if type(t) is InlineImage]


# ---------------------------------------------------------------------------
# Content-stream interpreter
# ---------------------------------------------------------------------------


def _image_bbox(ctm, page_w: float, page_h: float):
    """Normalized bbox of the unit image square under the CTM. The
    axis-aligned branch keeps the historical norm_rect_bbox expressions
    (golden-parity-bound); rotated CTMs (page /Rotate composition, rotated
    cm) map the four unit corners and take their bounding box."""
    if ctm[1] == 0.0 and ctm[2] == 0.0:
        return norm_rect_bbox(ctm[4], ctm[5], ctm[0], ctm[3], page_w, page_h)
    xs, ys = [], []
    for ux, uy in ((0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0)):
        xs.append(ctm[0] * ux + ctm[2] * uy + ctm[4])
        ys.append(ctm[1] * ux + ctm[3] * uy + ctm[5])
    x0, y0 = min(xs), min(ys)
    return norm_rect_bbox(
        x0, y0, max(xs) - x0, max(ys) - y0, page_w, page_h
    )


def _line_displace(tlm, dx: float, dy: float):
    """Td/TD/T* displacement: translate (dx, dy) in TEXT space composed
    onto the line matrix (§9.4.2). For the plain [1 0 0 1 e f] matrices
    simple writers emit this reduces float-exactly to (e + dx, f + dy) —
    the fast path keeps those historical expressions verbatim so golden
    fixtures stay bit-identical."""
    if tlm[0] == 1.0 and tlm[3] == 1.0 and tlm[1] == 0.0 and tlm[2] == 0.0:
        return (tlm[0], tlm[1], tlm[2], tlm[3], tlm[4] + dx, tlm[5] + dy)
    return (
        tlm[0], tlm[1], tlm[2], tlm[3],
        dx * tlm[0] + dy * tlm[2] + tlm[4],
        dx * tlm[1] + dy * tlm[3] + tlm[5],
    )


def _page_rotation_ctm(rotate: int, stored_w: float, stored_h: float):
    """Device->visual transform for the page /Rotate attribute (§7.7.3.3,
    inheritable). Returns (ctm, visual_w, visual_h): pdfium composes the
    same flip into its device matrix before rendering, which is how the
    reference sees rotated scans upright (FPDF_RenderPageBitmap with the
    page's rotation). 90/270 swap the visual page dimensions."""
    r = rotate % 360
    if r == 90:  # viewed rotated clockwise: (x,y) -> (y, W-x)
        return (0.0, -1.0, 1.0, 0.0, 0.0, stored_w), stored_h, stored_w
    if r == 180:
        return (-1.0, 0.0, 0.0, -1.0, stored_w, stored_h), stored_w, stored_h
    if r == 270:  # (x,y) -> (H-y, x)
        return (0.0, 1.0, -1.0, 0.0, stored_h, 0.0), stored_h, stored_w
    return _ID, stored_w, stored_h


def _mat_mul(a, b):
    """2D affine (a,b,c,d,e,f): result = a × b."""
    return (
        a[0] * b[0] + a[1] * b[2],
        a[0] * b[1] + a[1] * b[3],
        a[2] * b[0] + a[3] * b[2],
        a[2] * b[1] + a[3] * b[3],
        a[4] * b[0] + a[5] * b[2] + b[4],
        a[4] * b[1] + a[5] * b[3] + b[5],
    )


_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _parse_pdf_function(obj, resolve) -> dict:
    """Normalize a PDF function (§7.10) for shading evaluation — the
    1-in/1-out gray case. Type 2 (exponential), Type 3 (stitching, with
    sub-functions parsed recursively) and Type 0 (sampled stream,
    BitsPerSample 8) map to the spec dicts
    :func:`rasterize.eval_shading_fn` consumes."""
    o = resolve(obj)
    d = o.dict if hasattr(o, "dict") else (o or {})
    ftv = resolve(d.get("FunctionType"))
    ft = 2 if ftv is None else int(ftv)  # NOT `or 2`: type 0 is falsy
    if ft == 2:
        return {
            "t": 2,
            "c0": float(resolve((resolve(d.get("C0")) or [0.0])[0])),
            "c1": float(resolve((resolve(d.get("C1")) or [1.0])[0])),
            "n": float(resolve(d.get("N", 1)) or 1),
        }
    if ft == 3:
        return {
            "t": 3,
            "bounds": [
                float(resolve(v)) for v in resolve(d.get("Bounds")) or []
            ],
            "encode": [
                float(resolve(v)) for v in resolve(d.get("Encode")) or []
            ],
            "subs": [
                _parse_pdf_function(f, resolve)
                for f in resolve(d.get("Functions")) or []
            ],
        }
    if ft == 0:
        bps = int(resolve(d.get("BitsPerSample", 8)) or 8)
        if bps != 8:
            raise ValueError(f"sampled function BitsPerSample {bps}")
        return {"t": 0, "samples": list(o.data(resolve)), "bps": 8}
    if ft == 4:
        return {"t": 4, "code": _ps_parse(o.data(resolve))}
    raise ValueError(f"unsupported shading FunctionType {ft}")


def _ps_parse(data: bytes):
    """Tokenize a Type 4 PostScript-calculator program (§7.10.5) into the
    nested token-list form :func:`rasterize._ps_exec` runs: numbers stay
    int unless written with a point/exponent, `{ }` nest as lists; the
    outermost braces are the function body."""
    toks = re.findall(rb"\{|\}|[^\s{}]+", data)

    def build(i: int):
        out: list = []
        while i < len(toks):
            t = toks[i]
            i += 1
            if t == b"{":
                sub, i = build(i)
                out.append(sub)
            elif t == b"}":
                return out, i
            else:
                s = t.decode("latin-1")
                try:
                    out.append(
                        float(s) if ("." in s or "e" in s or "E" in s)
                        else int(s)
                    )
                except ValueError:
                    out.append(s)
        return out, i

    top, _ = build(0)
    # the program is one outer procedure: unwrap it
    return top[0] if len(top) == 1 and isinstance(top[0], list) else top


#: operators that ONLY feed the vector-path output (path construction,
#: painting, clipping, stroke/fill state, shadings, patterns, ExtGState):
#: words and images never read any state these ops produce, so a caller
#: that does not consume ``vectors`` can skip them wholesale.
_VECTOR_OPS = frozenset(
    [
        b"m", b"l", b"c", b"v", b"y", b"re", b"h",
        b"f", b"F", b"f*", b"S", b"s", b"B", b"B*", b"b", b"b*", b"n",
        b"W", b"W*", b"sh", b"d", b"w", b"g", b"G", b"rg", b"RG",
        b"cs", b"scn", b"gs", b"i", b"j", b"J", b"M", b"ri", b"CS", b"SCN",
        b"sc", b"SC",
    ]
)


def _interpret_content(
    data: bytes, *, fonts: dict, xobjects: dict, resolve, page_w: float,
    page_h: float, with_image_data: bool = False, ctm0: tuple = None,
    load_font=None, depth: int = 0, shadings: dict = None,
    ext_gstates: dict = None, properties: dict = None, oc_off=None,
    patterns: dict = None, colorspaces: dict = None,
    with_vectors: bool = True,
) -> Tuple[List[dict], List[dict]]:
    # iter(): the op loop and the nested array/dict collectors share one
    # cursor (the tokenizer returns a plain list for speed)
    tokens = iter(_tokenize_content(data))
    stack: List[Any] = []
    ctm = _ID if ctm0 is None else ctm0
    base_ctm = ctm  # default-user-space -> device (pattern space, §8.7.3.1)
    gs_stack: List[tuple] = []
    tm = tlm = _ID
    tl = 0.0
    font: Optional[dict] = None
    size = 0.0
    tx = 0.0  # text-space pen displacement since last Tm/Td
    words: List[dict] = []
    images: List[dict] = []
    # vector path state (§8.5): subpaths build in DEVICE points (CTM
    # applied at construction); painting ops snapshot them into `vectors`
    vectors: List[dict] = []
    subpaths: List[List[Tuple[float, float]]] = []
    sub_closed: List[bool] = []
    cur_sub: List[Tuple[float, float]] = []
    fill_g = 0.0  # DeviceGray fill color (black initial, §8.6.8)
    stroke_g = 0.0
    line_w = 1.0
    tr_mode = 0  # text rendering mode (§9.3.6); 3 = invisible — the OCR
    # text layer of scanned PDFs. Extraction keeps the text (pdfium does),
    # rasterization must not paint it.
    # text state (§9.3.1): character/word spacing, horizontal scaling and
    # rise — the justified/letter-spaced/condensed/superscript forms real
    # typesetters emit; all four are graphics state (q/Q-saved)
    char_sp = 0.0  # Tc
    word_sp = 0.0  # Tw (applies to byte code 32 in simple fonts only)
    hscale = 1.0  # Tz / 100
    rise = 0.0  # Ts
    clip_cts: Optional[list] = None  # current clip path (device contours);
    # rectangle intersections only in practice — the `q re W n ... Q` form
    pending_clip = False  # W seen; the clip applies at the next path-end op
    fill_a = 1.0  # constant alpha (§11.3.7.2), set by `gs` /ca //CA
    stroke_a = 1.0
    blend_m = "Normal"  # blend mode (§11.3.5), set by `gs` /BM
    dash: Optional[tuple] = None  # ([on, off, ...], phase) — §8.4.3.6
    # tiling-pattern fill (§8.7.3): set by `/Pattern cs /PtN scn`, cleared
    # by a non-Pattern cs; (cell vector entries, cell bbox, xstep, ystep)
    fill_pattern: Optional[tuple] = None
    # Separation spot color (§8.6.6.4): `/CSn cs` selecting a
    # [/Separation name /DeviceGray fn] space stores the tint-transform
    # spec; numeric scn then maps tint -> alternate gray through it
    fill_sep: Optional[dict] = None
    cur_mcid: Optional[int] = None  # innermost marked-content /MCID (§14.6)
    mc_stack: List[Optional[int]] = []
    # optional content (§8.11): content inside a /OC BDC…EMC sequence whose
    # group is OFF in the default configuration is interpreted (pen/state
    # advance normally) but never EMITTED — words, images, vectors and
    # shadings are all suppressed, matching what a viewer with the layer
    # unchecked shows and what pdfium rasterizes by default.
    oc_hidden = False
    oc_stack: List[bool] = []

    def oc_group_hidden(props: Any) -> bool:
        """Visibility of a /OC BDC property: a Name is looked up in the
        page's /Properties resource; the target is an OCG (hidden iff its
        object number is in the default-config /OFF set) or an /OCMD
        (default /AnyOn policy: hidden iff EVERY member OCG is off)."""
        if not oc_off:
            return False
        target = (properties or {}).get(str(props)) if isinstance(
            props, Name
        ) else props
        num = target.num if isinstance(target, Ref) else None
        d = resolve(target)
        if isinstance(d, dict) and str(resolve(d.get("Type", ""))) == "OCMD":
            ocgs = d.get("OCGs")
            refs = ocgs if isinstance(ocgs, list) else (
                [ocgs] if ocgs is not None else []
            )
            nums = [r.num for r in refs if isinstance(r, Ref)]
            return bool(nums) and all(n in oc_off for n in nums)
        return num is not None and num in oc_off

    def xy(x: float, y: float) -> Tuple[float, float]:
        return (
            ctm[0] * x + ctm[2] * y + ctm[4],
            ctm[1] * x + ctm[3] * y + ctm[5],
        )

    def flush_sub() -> None:
        nonlocal cur_sub
        if len(cur_sub) >= 2:
            subpaths.append(cur_sub)
            sub_closed.append(False)
        cur_sub = []

    def take_clip() -> None:
        # a pending W/W* intersects the clip with the CURRENT path at the
        # path-end operator (§8.5.4); rectangle clips in practice, so the
        # new region simply replaces the old one
        nonlocal clip_cts, pending_clip
        if pending_clip:
            clip_cts = [list(c) for c in subpaths if len(c) >= 3]
            pending_clip = False

    def _emit_tiled() -> None:
        """Expand a tiling-pattern fill (§8.7.3) into plain fill/stroke
        vector entries: one instance of each cell shape per tile covering
        the fill region, rectangle shapes clipped exactly to the region,
        stroke shapes kept when their cell lies inside it. Pattern space
        is the page's DEFAULT user space (PaintType 1, no /Matrix), so
        instances map through base_ctm — not the op-time CTM."""
        import math as _m

        cells, bb, xs, ys = fill_pattern
        if xs <= 0 or ys <= 0 or not cells:
            return
        # region bbox in pattern space: exact inverse of the orthogonal
        # base transform (rotation multiples of 90 + dyadic translate)
        a, b_, c, d, e, f = base_ctm
        det = a * d - b_ * c
        inv = (
            d / det, -b_ / det, -c / det, a / det,
            (c * f - d * e) / det, (b_ * e - a * f) / det,
        )

        def ixy(p):
            return (
                inv[0] * p[0] + inv[2] * p[1] + inv[4],
                inv[1] * p[0] + inv[3] * p[1] + inv[5],
            )

        def fwd(x, y):
            return (a * x + c * y + e, b_ * x + d * y + f)

        pts = [ixy(p) for cnt in subpaths for p in cnt]
        rx0 = min(p[0] for p in pts)
        ry0 = min(p[1] for p in pts)
        rx1 = max(p[0] for p in pts)
        ry1 = max(p[1] for p in pts)
        i = _m.floor(rx0 / xs)
        while i * xs < rx1:
            j = _m.floor(ry0 / ys)
            while j * ys < ry1:
                dx, dy = i * xs, j * ys
                for ce in cells:
                    if ce["paint"] == "fill":
                        cxs = [p[0] for c2 in ce["contours"] for p in c2]
                        cys = [p[1] for c2 in ce["contours"] for p in c2]
                        x0 = max(min(cxs) + dx, rx0)
                        y0 = max(min(cys) + dy, ry0)
                        x1 = min(max(cxs) + dx, rx1)
                        y1 = min(max(cys) + dy, ry1)
                        if x0 >= x1 or y0 >= y1:
                            continue
                        vectors.append(
                            {
                                "contours": [[
                                    fwd(x0, y0), fwd(x1, y0),
                                    fwd(x1, y1), fwd(x0, y1),
                                ]],
                                "closed": [True],
                                "paint": "fill",
                                "gray": ce["gray"],
                                "lw": 0.0,
                            }
                        )
                    elif ce["paint"] == "stroke":
                        # stroke shapes only for cells wholly inside the
                        # region (rect-exact clipping is fill-only)
                        if not (
                            dx + bb[0] >= rx0 and dy + bb[1] >= ry0
                            and dx + bb[2] <= rx1 and dy + bb[3] <= ry1
                        ):
                            continue
                        vectors.append(
                            {
                                "contours": [
                                    [fwd(p[0] + dx, p[1] + dy) for p in c2]
                                    for c2 in ce["contours"]
                                ],
                                "closed": list(ce["closed"]),
                                "paint": "stroke",
                                "gray": ce["gray"],
                                "lw": ce["lw"],
                            }
                        )
                j += 1
            i += 1

    def emit_paint(fill: bool, stroke: bool, close: bool) -> None:
        nonlocal subpaths, sub_closed, cur_sub
        closes = close and len(cur_sub) >= 2
        flush_sub()
        if closes:
            sub_closed[-1] = True
        take_clip()
        if subpaths and not oc_hidden:
            if fill and fill_pattern is not None:
                _emit_tiled()
            elif fill:
                entry = {
                    "contours": subpaths,
                    "closed": list(sub_closed),
                    "paint": "fill",
                    "gray": int(round(fill_g * 255.0)),
                    "lw": 0.0,
                }
                if fill_a != 1.0:  # constant alpha (ExtGState /ca)
                    entry["alpha"] = fill_a
                if blend_m not in ("Normal", "Compatible"):
                    entry["blend"] = blend_m  # §11.3.5 via ExtGState /BM
                vectors.append(entry)
            if stroke:
                # line width scales with the CTM (sqrt |det|, §8.4.3.2)
                det = abs(ctm[0] * ctm[3] - ctm[1] * ctm[2])
                entry = {
                    "contours": subpaths,
                    "closed": list(sub_closed),
                    "paint": "stroke",
                    "gray": int(round(stroke_g * 255.0)),
                    "lw": line_w * math.sqrt(det),
                }
                if stroke_a != 1.0:
                    entry["alpha"] = stroke_a
                if blend_m not in ("Normal", "Compatible"):
                    entry["blend"] = blend_m
                if dash is not None:
                    s_ = math.sqrt(det)
                    entry["dash"] = [v * s_ for v in dash[0]]
                    entry["dash_phase"] = dash[1] * s_
                vectors.append(entry)
        subpaths, sub_closed = [], []

    def begin_line(matrix):
        nonlocal tm, tlm, tx
        tm = tlm = matrix
        tx = 0.0

    # Pending word carried ACROSS show ops. Real typesetters (TeX via
    # pstotext, word processors) emit kerned words as several Tj/Td chunks
    # ("T" Td "opic-Dri" Td "v" Td "en"); the reference's pdfium backend
    # merges them. We merge a new chunk into the pending word when it sits on
    # the same baseline and the horizontal gap is below MERGE_GAP_EM
    # (word-separating gaps are >= ~0.19 em — real space widths — while
    # kerning gaps are <= ~0.1 em; measured bimodal on the reference fixture).
    # A list, so a merge extends it in place:
    # [text, x, baseline, width, size, scale, ascent, descent, inv, mcid]
    pend: Optional[list] = None

    def finalize_pend() -> None:
        # kernels.norm_word_bbox's float expressions, inlined: this runs
        # once per word
        nonlocal pend
        if pend is not None:
            text, x, y, w, sz, _sc, asc, desc, inv, mcid = pend
            word = {
                "text": text,
                "inv": inv,
                "x0": round(x / page_w, 5),
                "top": round((page_h - (y + sz * asc / 1000.0)) / page_h, 5),
                "x1": round((x + w) / page_w, 5),
                "bottom": round((page_h - (y + sz * desc / 1000.0)) / page_h, 5),
            }
            if mcid is not None:
                # marked-content id (tagged PDFs only): keeps untagged
                # word dicts byte-identical for the golden-parity tests
                word["mcid"] = mcid
            words.append(word)
            pend = None

    def word_out(text: str, t0: float, t1: float, close: bool) -> None:
        """Emit the glyph run ``text`` that spans text-space pen positions
        [t0, t1) of the current show op: merge it into the pending word or
        flush-and-replace.

        ``close=True`` (explicit space glyph hit) finalizes immediately —
        a space is a definite word boundary even in condensed fonts whose
        space width is below the merge threshold.

        Word bboxes: x0 from the device-space pen at word start, width from
        the text-space advance times the horizontal scale — the exact float
        expressions the corpus golden uses (pdfwrite.advance_width +
        kernels.norm_word_bbox), guaranteeing bit-identical round-trip for
        unmerged words.
        """
        nonlocal pend
        if oc_hidden:
            # optional-content-hidden text: pen advanced, nothing emitted;
            # never merge a visible pending word across it
            finalize_pend()
            return
        # full text rendering matrix = Tm x CTM (§9.4.4). The untransformed
        # case keeps the historical float expressions (golden-parity-bound);
        # otherwise the composed trm drives either the axis-aligned general
        # path (rotated text on a /Rotate page composes back to horizontal)
        # or the quad fallback.
        untransformed = ctm is _ID or ctm == _ID
        if untransformed and tm[1] == 0.0 and tm[2] == 0.0:
            sc = tm[0]
            x = tm[4] + sc * t0 if t0 else tm[4]
            w = (t1 - t0) * sc
            y, sz = tm[5], size
            if rise != 0.0:  # Ts baseline shift (§9.3.7)
                y = tm[5] + rise * tm[3]
        else:
            trm = tm if untransformed else _mat_mul(tm, ctm)
            if trm[1] == 0.0 and trm[2] == 0.0 and trm[0] > 0.0 and trm[3] > 0.0:
                # e.g. 90-degree Tm under a 90-degree /Rotate page, or
                # a scale+translate Form XObject CTM: still horizontal
                x = trm[0] * t0 + trm[4]
                y = trm[1] * t0 + trm[5]
                w = trm[0] * (t1 - t0)
                sz, sc = size * trm[3], trm[0]
                if rise != 0.0:
                    y = y + rise * trm[3]
            else:
                # genuinely rotated/flipped final orientation: emit a
                # standalone word with the bbox of the transformed quad
                # (reference providers emit rotated 4-vertex polys the
                # same way, schema/layout.py BoundingPoly)
                finalize_pend()
                asc = size * font["ascent"] / 1000.0
                desc = size * font["descent"] / 1000.0
                if rise != 0.0:  # Ts shifts the quad in text space
                    asc = asc + rise
                    desc = desc + rise
                xs, ys = [], []
                for tx_c, ty_c in ((t0, desc), (t1, desc), (t1, asc), (t0, asc)):
                    xs.append(trm[0] * tx_c + trm[2] * ty_c + trm[4])
                    ys.append(trm[1] * tx_c + trm[3] * ty_c + trm[5])
                wq = {
                    "text": text,
                    "inv": tr_mode == 3,
                    "x0": round(min(xs) / page_w, 5),
                    "top": round((page_h - max(ys)) / page_h, 5),
                    "x1": round(max(xs) / page_w, 5),
                    "bottom": round((page_h - min(ys)) / page_h, 5),
                }
                if cur_mcid is not None:
                    wq["mcid"] = cur_mcid
                words.append(wq)
                return
        if pend is not None:
            gap = (x - (pend[1] + pend[3])) / (pend[4] * pend[5] or 1.0)
            if abs(y - pend[2]) < 1e-9 and -0.5 <= gap < MERGE_GAP_EM:
                pend[0] += text
                pend[3] = (x + w) - pend[1]
                if close:
                    finalize_pend()
                return
            finalize_pend()
        pend = [
            text, x, y, w, sz, sc, font["ascent"], font["descent"],
            tr_mode == 3, cur_mcid,
        ]
        if close:
            finalize_pend()

    def show(segments) -> None:
        """One show op; glyph-by-glyph advance in the writer's float-op order
        (pdfwrite.advance_width) so positions match the golden fixtures."""
        nonlocal tx
        assert font is not None
        widths_get = font["widths"].get
        dw = font["dw"]
        is_t0 = font["type0"]
        # text-state displacement (§9.4.4): w0/1000*Tfs + Tc (+Tw for
        # byte-32 in simple fonts), all scaled by Th — the justified /
        # letter-spaced / condensed forms. plain_ts keeps the historical
        # single-expression float path bit-identical when state is default.
        plain_ts = char_sp == 0.0 and word_sp == 0.0 and hscale == 1.0
        t = t0 = tx  # pen now / at the start of the current run
        run: List[str] = []
        for seg in segments:
            if isinstance(seg, (int, float)):
                # A large forward TJ adjustment (>= merge threshold) is
                # word-separating whitespace without a space glyph.
                if run and (-seg / 1000.0) >= MERGE_GAP_EM:
                    word_out("".join(run), t0, t, False)
                    run = []
                adj = -seg / 1000.0 * size
                t += adj if plain_ts else adj * hscale
                if not run:
                    t0 = t
                continue
            if is_t0:
                codes = [
                    (seg[i] << 8) | seg[i + 1] for i in range(0, len(seg) - 1, 2)
                ]
                chars = [font["cmap"].get(c, "�") for c in codes]
            else:
                codes = seg  # bytes iterate as ints
                gm = font["glyphmap"]
                if gm:
                    chars = [gm.get(c) or chr(c) for c in codes]
                else:  # common case: latin-1-safe font, no remapping
                    chars = seg.decode("latin-1")
            if " " not in chars:  # no word boundary inside: one run
                if chars:
                    if not run:
                        t0 = t
                    run.extend(chars)
                if plain_ts:
                    for code in codes:
                        t += widths_get(code, dw) * size / 1000.0
                else:
                    for code in codes:
                        t += (
                            widths_get(code, dw) * size / 1000.0
                            + (char_sp + (word_sp if code == 32 and not is_t0 else 0.0))
                        ) * hscale
                continue
            for code, ch in zip(codes, chars):
                if plain_ts:  # default text state
                    adv = widths_get(code, dw) * size / 1000.0
                else:
                    adv = (
                        widths_get(code, dw) * size / 1000.0
                        + (char_sp + (word_sp if code == 32 and not is_t0 else 0.0))
                    ) * hscale
                if ch == " ":
                    if run:
                        word_out("".join(run), t0, t, True)
                        run = []
                    else:
                        finalize_pend()
                    t += adv
                    t0 = t
                else:
                    if not run:
                        t0 = t
                    run.append(ch)
                    t += adv
        if run:
            word_out("".join(run), t0, t, False)
        tx = t

    push = stack.append
    for tok in tokens:
        tt = type(tok)
        if tt is not Op:
            if tt is not bytes and tt is not InlineImage:  # an operand
                push(tok)
            elif tok == b"[":
                arr: List[Any] = []
                for t in tokens:
                    if type(t) is bytes and t == b"]":
                        break
                    arr.append(t)
                push(arr)
            elif tok == b"<<":
                # inline property-list dict (BDC operands, §14.6.2):
                # collect depth-1 name/value pairs. NB: a fresh local —
                # the old skip loop shadowed the form-recursion `depth`
                d_depth = 1
                items: List[Any] = []
                for t in tokens:
                    if type(t) is bytes and t == b"<<":
                        d_depth += 1
                    elif type(t) is bytes and t == b">>":
                        d_depth -= 1
                        if d_depth == 0:
                            break
                    if d_depth == 1:
                        items.append(t)
                pdict: Dict[str, Any] = {}
                j = 0
                while j < len(items) - 1:
                    if isinstance(items[j], Name):
                        pdict[str(items[j])] = items[j + 1]
                        j += 2
                    else:
                        j += 1
                push(pdict)
            elif tt is InlineImage:
                if oc_hidden:
                    continue
                # BI/ID/EI image: painted in unit image space scaled by the
                # CTM, exactly like an image XObject Do
                img = {
                    "media_ref": hashlib.md5(tok.raw).hexdigest(),
                    "bbox": _image_bbox(ctm, page_w, page_h),
                }
                if with_image_data:
                    from docprompt_spark.multimodal import (
                        _codec_of,
                        indexed_palette,
                    )

                    img["payload"] = tok.raw
                    img["px_w"] = int(tok.dict.get("Width", 0) or 0)
                    img["px_h"] = int(tok.dict.get("Height", 0) or 0)
                    img["codec"] = _codec_of(tok.dict, resolve, tok.raw)
                    img["palette"] = indexed_palette(tok.dict, resolve)
                images.append(img)
            else:  # a stray ']' or '>>'
                push(tok)
            continue
        op = tok
        if not with_vectors and op in _VECTOR_OPS:
            # words-only mode (the span pipeline): path geometry, paint
            # state, shadings and patterns are never emitted — skip the
            # ops (incl. per-point CTM transforms, tiling-cell expansion
            # and shading-function resolution) outright. Text, image and
            # marked-content state are untouched by any of these ops.
            stack.clear()
            continue
        # dispatch ordered by measured op frequency on the corpus
        # (Tj 33% > Tm 23% > Td 16% > TJ 5% > BDC/EMC > q/Q > the rest)
        if op == b"Tj":
            show([stack[-1]])
            stack.clear()
        elif op == b"Tm":
            m = tuple(map(float, stack[-6:]))
            begin_line(m)
            stack.clear()
        elif op == b"Td":
            dx, dy = float(stack[-2]), float(stack[-1])
            begin_line(_line_displace(tlm, dx, dy))
            stack.clear()
        elif op == b"TJ":
            show(stack[-1])
            stack.clear()
        elif op in (b"BDC", b"BMC"):
            # marked-content sequence (§14.6): BDC's property list may
            # carry /MCID — the content-to-structure-tree link of tagged
            # PDFs. Sequences nest; a nested sequence without /MCID
            # inherits the enclosing one's.
            mcid = None
            hide = False
            if op == b"BDC" and stack:
                props = stack[-1]
                if isinstance(props, dict) and props.get("MCID") is not None:
                    mcid = int(props["MCID"])
                if (
                    len(stack) >= 2
                    and str(stack[-2]) == "OC"
                    and oc_group_hidden(props)
                ):
                    hide = True
            mc_stack.append(cur_mcid)
            oc_stack.append(oc_hidden)
            if mcid is not None:
                cur_mcid = mcid
            if hide:
                oc_hidden = True
            stack.clear()
        elif op == b"EMC":
            cur_mcid = mc_stack.pop() if mc_stack else None
            oc_hidden = oc_stack.pop() if oc_stack else False
            stack.clear()
        elif op == b"q":
            gs_stack.append(
                (ctm, fill_g, stroke_g, line_w, tr_mode, clip_cts,
                 fill_a, stroke_a, fill_pattern, fill_sep,
                 char_sp, word_sp, hscale, rise, dash, blend_m)
            )
        elif op == b"Q":
            if gs_stack:
                (ctm, fill_g, stroke_g, line_w, tr_mode, clip_cts,
                 fill_a, stroke_a, fill_pattern, fill_sep,
                 char_sp, word_sp, hscale, rise, dash,
                 blend_m) = gs_stack.pop()
        elif op == b"cm":
            m = tuple(map(float, stack[-6:]))
            ctm = _mat_mul(m, ctm)
            stack.clear()
        elif op == b"BT":
            begin_line(_ID)
            stack.clear()
        elif op == b"ET":
            stack.clear()
        elif op == b"Tf":
            size = float(stack[-1])
            font = fonts[str(stack[-2])]
            stack.clear()
        elif op == b"TL":
            tl = float(stack[-1])
            stack.clear()
        elif op == b"TD":
            dx, dy = float(stack[-2]), float(stack[-1])
            tl = -dy
            begin_line(_line_displace(tlm, dx, dy))
            stack.clear()
        elif op == b"Tr":
            tr_mode = int(float(stack[-1]))
            stack.clear()
        elif op == b"Tc":
            char_sp = float(stack[-1])
            stack.clear()
        elif op == b"Tw":
            word_sp = float(stack[-1])
            stack.clear()
        elif op == b"Tz":
            hscale = float(stack[-1]) / 100.0
            stack.clear()
        elif op == b"Ts":
            rise = float(stack[-1])
            stack.clear()
        elif op == b"T*":
            begin_line(_line_displace(tlm, 0.0, -tl))
            stack.clear()
        elif op == b"'":
            begin_line(_line_displace(tlm, 0.0, -tl))
            show([stack[-1]])
            stack.clear()
        elif op == b'"':
            # aw ac string " (§9.4.3): set word+char spacing, move to the
            # next line, show — the one-op-per-line justified form
            word_sp = float(stack[-3])
            char_sp = float(stack[-2])
            begin_line(_line_displace(tlm, 0.0, -tl))
            show([stack[-1]])
            stack.clear()
        elif op == b"Do":
            name = str(stack[-1])
            ref = xobjects.get(name)
            if oc_hidden:
                stack.clear()
                continue
            if ref is not None:
                xo = resolve(ref)
                if xo.dict.get("Subtype") == "Form" and depth < 8:
                    # Form XObject (§8.10): a reusable content stream run
                    # with /Matrix composed onto the CTM and its own
                    # /Resources (falling back to the caller's); words /
                    # images / vectors splice in at paint order. depth
                    # guards self-referencing forms.
                    sub_res = resolve(xo.dict.get("Resources")) or {}
                    sub_fonts_d = resolve(sub_res.get("Font", {})) or {}
                    sub_fonts = (
                        {
                            n: load_font(r)
                            for n, r in sub_fonts_d.items()
                        }
                        if sub_fonts_d and load_font is not None
                        else fonts
                    )
                    sub_xo = resolve(sub_res.get("XObject", {})) or xobjects
                    mat = resolve(xo.dict.get("Matrix"))
                    fm = (
                        tuple(float(resolve(v)) for v in mat)
                        if mat is not None
                        else _ID
                    )
                    w2, i2, v2 = _interpret_content(
                        xo.data(resolve),
                        fonts=sub_fonts,
                        xobjects=sub_xo,
                        resolve=resolve,
                        page_w=page_w,
                        page_h=page_h,
                        with_image_data=with_image_data,
                        with_vectors=with_vectors,
                        ctm0=_mat_mul(fm, ctm),
                        load_font=load_font,
                        depth=depth + 1,
                        shadings=resolve(sub_res.get("Shading", {}))
                        or shadings,
                        ext_gstates=resolve(sub_res.get("ExtGState", {}))
                        or ext_gstates,
                        properties=resolve(sub_res.get("Properties", {}))
                        or properties,
                        oc_off=oc_off,
                        patterns=resolve(sub_res.get("Pattern", {}))
                        or patterns,
                        colorspaces=resolve(sub_res.get("ColorSpace", {}))
                        or colorspaces,
                    )
                    words.extend(w2)
                    images.extend(i2)
                    vectors.extend(v2)
                elif xo.dict.get("Subtype") == "Image":
                    img = {
                        "media_ref": hashlib.md5(xo.raw).hexdigest(),
                        "bbox": _image_bbox(ctm, page_w, page_h),
                    }
                    if with_image_data:
                        # rasterization path (D7): the renderer needs the
                        # raw payload + codec + pixel dims; the span path
                        # never carries bytes past this kernel
                        from docprompt_spark.multimodal import (
                            _codec_of,
                            indexed_palette,
                        )

                        img["payload"] = xo.raw
                        img["px_w"] = int(resolve(xo.dict.get("Width", 0)) or 0)
                        img["px_h"] = int(resolve(xo.dict.get("Height", 0)) or 0)
                        img["codec"] = _codec_of(xo.dict, resolve, xo.raw)
                        img["palette"] = indexed_palette(xo.dict, resolve)
                        sm = resolve(xo.dict.get("SMask"))
                        if sm is not None and hasattr(sm, "dict"):
                            # soft-mask alpha (§11.6.5.2): its own gray8
                            # image stream; the renderer source-over
                            # blends with it per pixel
                            img["smask_payload"] = sm.raw
                            img["smask_w"] = int(
                                resolve(sm.dict.get("Width", 0)) or 0
                            )
                            img["smask_h"] = int(
                                resolve(sm.dict.get("Height", 0)) or 0
                            )
                            img["smask_codec"] = _codec_of(
                                sm.dict, resolve, sm.raw
                            )
                    images.append(img)
            stack.clear()
        elif op == b"m":
            flush_sub()
            cur_sub = [xy(float(stack[-2]), float(stack[-1]))]
            stack.clear()
        elif op == b"l":
            if cur_sub:
                cur_sub.append(xy(float(stack[-2]), float(stack[-1])))
            stack.clear()
        elif op in (b"c", b"v", b"y"):
            if cur_sub:
                from docprompt_spark.rasterize import flatten_cubic

                p0 = cur_sub[-1]
                vals = [float(v) for v in stack[-(6 if op == b"c" else 4):]]
                if op == b"c":
                    p1, p2, p3 = (
                        xy(vals[0], vals[1]),
                        xy(vals[2], vals[3]),
                        xy(vals[4], vals[5]),
                    )
                elif op == b"v":
                    p2, p3 = xy(vals[0], vals[1]), xy(vals[2], vals[3])
                    p1 = p0
                else:  # y
                    p1, p3 = xy(vals[0], vals[1]), xy(vals[2], vals[3])
                    p2 = p3
                cur_sub.extend(flatten_cubic(p0, p1, p2, p3))
            stack.clear()
        elif op == b"h":
            if len(cur_sub) >= 2:
                subpaths.append(cur_sub)
                sub_closed.append(True)
            cur_sub = []
            stack.clear()
        elif op == b"re":
            x0, y0, rw_, rh_ = (float(v) for v in stack[-4:])
            flush_sub()
            subpaths.append(
                [
                    xy(x0, y0),
                    xy(x0 + rw_, y0),
                    xy(x0 + rw_, y0 + rh_),
                    xy(x0, y0 + rh_),
                ]
            )
            sub_closed.append(True)
            stack.clear()
        elif op in (b"f", b"F", b"f*"):
            emit_paint(True, False, False)
            stack.clear()
        elif op == b"S":
            emit_paint(False, True, False)
            stack.clear()
        elif op == b"s":
            emit_paint(False, True, True)
            stack.clear()
        elif op in (b"B", b"B*"):
            emit_paint(True, True, False)
            stack.clear()
        elif op in (b"b", b"b*"):
            emit_paint(True, True, True)
            stack.clear()
        elif op == b"n":
            flush_sub()
            take_clip()
            subpaths, sub_closed = [], []
            stack.clear()
        elif op in (b"W", b"W*"):
            pending_clip = True  # applies at the next path-end operator
        elif op == b"sh":
            # axial (Type 2) or radial (Type 3) shading painted through
            # the current clip — the `q ... re W n /ShN sh Q` gradient
            # band / badge-vignette forms real producers emit (§8.7.4.3).
            # Function: exponential interpolation (Type 2) on DeviceGray.
            name = str(stack[-1]) if stack else ""
            shd = resolve((shadings or {}).get(name))
            shd = shd.dict if hasattr(shd, "dict") else shd
            st = int(resolve((shd or {}).get("ShadingType", 0)) or 0)
            if shd and st in (2, 3):
                co = [float(resolve(v)) for v in resolve(shd.get("Coords"))]
                spec = _parse_pdf_function(shd.get("Function"), resolve)
                cts = (
                    [list(c) for c in clip_cts]
                    if clip_cts
                    else [[(0.0, 0.0), (page_w, 0.0), (page_w, page_h),
                           (0.0, page_h)]]
                )
                if st == 2:
                    coords = (xy(co[0], co[1]), xy(co[2], co[3]))
                    paint = "shade"
                else:
                    # radii scale by the CTM's x-axis norm (orthogonal
                    # viewing rotations keep it 1; circles stay circles
                    # for the similarity transforms this engine emits)
                    rs = math.hypot(ctm[0], ctm[1])
                    coords = (
                        xy(co[0], co[1]) + (co[2] * rs,),
                        xy(co[3], co[4]) + (co[5] * rs,),
                    )
                    paint = "shade3"
                if oc_hidden:
                    stack.clear()
                    continue
                entry = {
                    "contours": cts,
                    "closed": [True] * len(cts),
                    "paint": paint,
                    "coords": coords,
                }
                if spec["t"] == 2:
                    # plain exponential keeps the historical keys (GT
                    # byte-compat); stitching/sampled carry the spec
                    entry["c0"] = spec["c0"]
                    entry["c1"] = spec["c1"]
                    entry["n"] = spec["n"]
                else:
                    entry["fn"] = spec
                vectors.append(entry)
            stack.clear()
        elif op == b"g":
            fill_g = float(stack[-1])
            stack.clear()
        elif op == b"G":
            stroke_g = float(stack[-1])
            stack.clear()
        elif op == b"rg":
            r_, g_, b_ = (float(v) for v in stack[-3:])
            fill_g = 0.299 * r_ + 0.587 * g_ + 0.114 * b_
            stack.clear()
        elif op == b"RG":
            r_, g_, b_ = (float(v) for v in stack[-3:])
            stroke_g = 0.299 * r_ + 0.587 * g_ + 0.114 * b_
            stack.clear()
        elif op == b"w":
            line_w = float(stack[-1])
            stack.clear()
        elif op == b"d":
            # dash pattern (§8.4.3.6): [on off ...] phase; empty array =
            # solid. Lengths live in user space (CTM-scaled at stroke
            # time, like line width).
            if len(stack) >= 2 and isinstance(stack[-2], list):
                arr = [float(resolve(v)) for v in stack[-2]]
                dash = (arr, float(stack[-1])) if arr else None
            stack.clear()
        elif op == b"cs":
            # non-stroking colorspace: /Pattern and /Separation matter to
            # this interpreter; any other space clears both
            fill_sep = None
            if stack and str(stack[-1]) != "Pattern":
                fill_pattern = None
                csv = resolve((colorspaces or {}).get(str(stack[-1])))
                if (
                    isinstance(csv, list)
                    and len(csv) == 4
                    and str(resolve(csv[0])) == "Separation"
                    and str(resolve(csv[2])) == "DeviceGray"
                ):
                    # spot color with a DeviceGray alternate: keep the
                    # tint transform; scn evaluates it
                    fill_sep = _parse_pdf_function(csv[3], resolve)
            stack.clear()
        elif op == b"scn":
            # pattern selection (§8.7.3.3): /PtN names a tiling-pattern
            # stream in the page's /Pattern resource; numeric scn
            # operands map through an active Separation tint transform
            if (
                stack
                and fill_sep is not None
                and isinstance(stack[-1], (int, float))
            ):
                from docprompt_spark.rasterize import eval_shading_fn

                fill_g = eval_shading_fn(fill_sep, float(stack[-1]))
                stack.clear()
            elif stack and isinstance(stack[-1], Name):
                pat = resolve((patterns or {}).get(str(stack[-1])))
                fill_pattern = None
                if (
                    pat is not None
                    and hasattr(pat, "dict")
                    and int(resolve(pat.dict.get("PatternType", 0)) or 0)
                    == 1
                ):
                    pd = pat.dict
                    bb = [
                        float(resolve(v)) for v in resolve(pd["BBox"])
                    ]
                    xs = float(
                        resolve(pd.get("XStep", bb[2] - bb[0]))
                    )
                    ys = float(
                        resolve(pd.get("YStep", bb[3] - bb[1]))
                    )
                    _, _, cells = _interpret_content(
                        pat.data(resolve),
                        fonts={},
                        xobjects={},
                        resolve=resolve,
                        page_w=page_w,
                        page_h=page_h,
                        depth=depth + 1,
                    )
                    fill_pattern = (cells, bb, xs, ys)
            stack.clear()
        elif op == b"gs":
            # ExtGState: constant alpha (/ca non-stroking, /CA stroking,
            # §11.3.7.2), /BM blend modes (§11.3.5, separable gray), /LW
            # and /D are honored; gstate soft masks (/SMask) out of scope
            name = str(stack[-1]) if stack else ""
            gsd = resolve((ext_gstates or {}).get(name))
            gsd = gsd.dict if hasattr(gsd, "dict") else gsd
            if gsd:
                if "ca" in gsd:
                    fill_a = float(resolve(gsd["ca"]))
                if "CA" in gsd:
                    stroke_a = float(resolve(gsd["CA"]))
                if "LW" in gsd:
                    line_w = float(resolve(gsd["LW"]))
                if "BM" in gsd:
                    # blend mode (§11.3.5): name or array-of-names (the
                    # PDF 1.3 fallback form — first applicable wins; the
                    # separable gray modes this renderer knows are the
                    # ones real producers emit for highlights/watermarks)
                    bmv = resolve(gsd["BM"])
                    if isinstance(bmv, list):
                        bmv = bmv[0] if bmv else "Normal"
                    blend_m = str(bmv)
                if "D" in gsd:
                    # dash via ExtGState (§8.4.5 Table 57): [[array] phase]
                    dv = resolve(gsd["D"])
                    if isinstance(dv, list) and len(dv) == 2:
                        arr = [float(resolve(v)) for v in resolve(dv[0])]
                        dash = (arr, float(resolve(dv[1]))) if arr else None
            stack.clear()
        else:
            # unknown operator: discard operands (defensive)
            stack.clear()
    finalize_pend()
    return words, images, vectors


# ---------------------------------------------------------------------------
# Convenience API used by the pipeline
# ---------------------------------------------------------------------------


def extract_pages(
    data: bytes, lo: int = 0, hi: Optional[int] = None,
    with_image_data: bool = False, with_vectors: bool = True,
) -> List[dict]:
    """Parse pages [lo, hi) (0-based) and return per-page dicts:
    {page_number (1-based), width, height, words, images}.

    ``with_vectors=False`` skips vector-path interpretation entirely
    (``vectors`` comes back empty): the span/text pipelines never read it,
    and the v50 corpus carries vector art on every page."""
    pf = PdfFile(data)
    n = pf.page_count
    hi = n if hi is None else min(hi, n)
    out = []
    for i in range(lo, hi):
        page = pf.extract_page(
            i, with_image_data=with_image_data, with_vectors=with_vectors
        )
        page["page_number"] = i + 1
        out.append(page)
    return out


def page_count(data: bytes) -> int:
    return PdfFile(data).page_count
