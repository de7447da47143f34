"""Glyph-name decoding for simple (non-Type0) embedded fonts.

Many real PDFs (notably TeX/dvips/ghostscript output, e.g. the reference's
tests/fixtures/1.pdf) carry no /ToUnicode and no /Encoding on the font dict;
the byte-code -> glyph mapping lives only inside the embedded font program.
Without it, ligatures and TeX-encoded punctuation decode as control bytes
("\\x02rst" instead of "first").

This module recovers a ``{byte code: unicode str}`` map from:

* CFF font programs (/FontFile3, Subtype Type1C): header -> INDEXes ->
  Top DICT -> Encoding (code->GID) + charset (GID->SID) + String INDEX
  (SID->name), per the public CFF spec (Adobe TN #5176).
* Type1 font programs (/FontFile): the cleartext ``/Encoding`` section's
  ``dup <code> /<name> put`` entries.
* PDF /Encoding dictionaries: BaseEncoding + /Differences overrides.

Glyph names map to text via a compact Adobe-Glyph-List subset; ligature
glyphs expand to their ASCII letters (fi -> "fi") — matching how OCR golden
fixtures tokenize scanned text, and how most text extractors normalize.

Reference behavior parity: the reference library delegates all of this to
pdfium (/root/reference/docprompt/_pdfium.py); this is a from-scratch
reimplementation of the same decoding outcome.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional

# --------------------------------------------------------------------------
# CFF standard strings, SIDs 0..228 (Adobe TN #5176 Appendix A). SIDs above
# 228 are small-caps/superior variants never used for running text; subset
# fonts put anything unusual in the custom String INDEX anyway.
# --------------------------------------------------------------------------

STANDARD_STRINGS: List[str] = [
    ".notdef", "space", "exclam", "quotedbl", "numbersign", "dollar",
    "percent", "ampersand", "quoteright", "parenleft", "parenright",
    "asterisk", "plus", "comma", "hyphen", "period", "slash", "zero", "one",
    "two", "three", "four", "five", "six", "seven", "eight", "nine", "colon",
    "semicolon", "less", "equal", "greater", "question", "at", "A", "B", "C",
    "D", "E", "F", "G", "H", "I", "J", "K", "L", "M", "N", "O", "P", "Q",
    "R", "S", "T", "U", "V", "W", "X", "Y", "Z", "bracketleft", "backslash",
    "bracketright", "asciicircum", "underscore", "quoteleft", "a", "b", "c",
    "d", "e", "f", "g", "h", "i", "j", "k", "l", "m", "n", "o", "p", "q",
    "r", "s", "t", "u", "v", "w", "x", "y", "z", "braceleft", "bar",
    "braceright", "asciitilde", "exclamdown", "cent", "sterling", "fraction",
    "yen", "florin", "section", "currency", "quotesingle", "quotedblleft",
    "guillemotleft", "guilsinglleft", "guilsinglright", "fi", "fl", "endash",
    "dagger", "daggerdbl", "periodcentered", "paragraph", "bullet",
    "quotesinglbase", "quotedblbase", "quotedblright", "guillemotright",
    "ellipsis", "perthousand", "questiondown", "grave", "acute",
    "circumflex", "tilde", "macron", "breve", "dotaccent", "dieresis",
    "ring", "cedilla", "hungarumlaut", "ogonek", "caron", "emdash", "AE",
    "ordfeminine", "Lslash", "Oslash", "OE", "ordmasculine", "ae",
    "dotlessi", "lslash", "oslash", "oe", "germandbls", "onesuperior",
    "logicalnot", "mu", "trademark", "Eth", "onehalf", "plusminus", "Thorn",
    "onequarter", "divide", "brokenbar", "degree", "thorn", "threequarters",
    "twosuperior", "registered", "minus", "eth", "multiply",
    "threesuperior", "copyright", "Aacute", "Acircumflex", "Adieresis",
    "Agrave", "Aring", "Atilde", "Ccedilla", "Eacute", "Ecircumflex",
    "Edieresis", "Egrave", "Iacute", "Icircumflex", "Idieresis", "Igrave",
    "Ntilde", "Oacute", "Ocircumflex", "Odieresis", "Ograve", "Otilde",
    "Scaron", "Uacute", "Ucircumflex", "Udieresis", "Ugrave", "Yacute",
    "Ydieresis", "Zcaron", "aacute", "acircumflex", "adieresis", "agrave",
    "aring", "atilde", "ccedilla", "eacute", "ecircumflex", "edieresis",
    "egrave", "iacute", "icircumflex", "idieresis", "igrave", "ntilde",
    "oacute", "ocircumflex", "odieresis", "ograve", "otilde", "scaron",
    "uacute", "ucircumflex", "udieresis", "ugrave", "yacute", "ydieresis",
    "zcaron",
]

# --------------------------------------------------------------------------
# Glyph name -> text (Adobe Glyph List subset + ligature expansion)
# --------------------------------------------------------------------------

_NAME_TO_TEXT: Dict[str, str] = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "quoteright": "’", "quoteleft": "‘", "parenleft": "(",
    "parenright": ")", "asterisk": "*", "plus": "+", "comma": ",",
    "hyphen": "-", "period": ".", "slash": "/", "zero": "0", "one": "1",
    "two": "2", "three": "3", "four": "4", "five": "5", "six": "6",
    "seven": "7", "eight": "8", "nine": "9", "colon": ":", "semicolon": ";",
    "less": "<", "equal": "=", "greater": ">", "question": "?", "at": "@",
    "bracketleft": "[", "backslash": "\\", "bracketright": "]",
    "asciicircum": "^", "underscore": "_", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    # ligatures expanded to letters (golden-OCR style normalization)
    "ff": "ff", "fi": "fi", "fl": "fl", "ffi": "ffi", "ffl": "ffl",
    "longs": "s", "st": "st",
    # dashes & quotes
    "endash": "–", "emdash": "—",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "guillemotleft": "«", "guillemotright": "»",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "ellipsis": "…", "bullet": "•", "dagger": "†",
    "daggerdbl": "‡", "periodcentered": "·",
    "paragraph": "¶", "section": "§", "perthousand": "‰",
    # currency & math
    "exclamdown": "¡", "questiondown": "¿", "cent": "¢",
    "sterling": "£", "yen": "¥", "florin": "ƒ",
    "currency": "¤", "fraction": "⁄", "degree": "°",
    "plusminus": "±", "divide": "÷", "multiply": "×",
    "minus": "−", "logicalnot": "¬", "mu": "µ",
    "trademark": "™", "registered": "®", "copyright": "©",
    "onehalf": "½", "onequarter": "¼", "threequarters": "¾",
    "onesuperior": "¹", "twosuperior": "²",
    "threesuperior": "³", "brokenbar": "¦",
    # accents (spacing forms)
    "grave": "`", "acute": "´", "circumflex": "ˆ",
    "tilde": "˜", "macron": "¯", "breve": "˘",
    "dotaccent": "˙", "dieresis": "¨", "ring": "˚",
    "cedilla": "¸", "hungarumlaut": "˝", "ogonek": "˛",
    "caron": "ˇ",
    # letters with diacritics / special letters
    "AE": "Æ", "ae": "æ", "OE": "Œ", "oe": "œ",
    "Oslash": "Ø", "oslash": "ø", "Lslash": "Ł",
    "lslash": "ł", "Eth": "Ð", "eth": "ð",
    "Thorn": "Þ", "thorn": "þ", "germandbls": "ß",
    "dotlessi": "ı", "ordfeminine": "ª", "ordmasculine": "º",
    "Scaron": "Š", "scaron": "š", "Zcaron": "Ž",
    "zcaron": "ž", "Ydieresis": "Ÿ",
    "Aacute": "Á", "Acircumflex": "Â", "Adieresis": "Ä",
    "Agrave": "À", "Aring": "Å", "Atilde": "Ã",
    "Ccedilla": "Ç", "Eacute": "É", "Ecircumflex": "Ê",
    "Edieresis": "Ë", "Egrave": "È", "Iacute": "Í",
    "Icircumflex": "Î", "Idieresis": "Ï", "Igrave": "Ì",
    "Ntilde": "Ñ", "Oacute": "Ó", "Ocircumflex": "Ô",
    "Odieresis": "Ö", "Ograve": "Ò", "Otilde": "Õ",
    "Uacute": "Ú", "Ucircumflex": "Û", "Udieresis": "Ü",
    "Ugrave": "Ù", "Yacute": "Ý",
    "aacute": "á", "acircumflex": "â", "adieresis": "ä",
    "agrave": "à", "aring": "å", "atilde": "ã",
    "ccedilla": "ç", "eacute": "é", "ecircumflex": "ê",
    "edieresis": "ë", "egrave": "è", "iacute": "í",
    "icircumflex": "î", "idieresis": "ï", "igrave": "ì",
    "ntilde": "ñ", "oacute": "ó", "ocircumflex": "ô",
    "odieresis": "ö", "ograve": "ò", "otilde": "õ",
    "uacute": "ú", "ucircumflex": "û", "udieresis": "ü",
    "ugrave": "ù", "yacute": "ý", "ydieresis": "ÿ",
}
# single-character names (a-z, A-Z, etc.) map to themselves
for _n in STANDARD_STRINGS:
    if len(_n) == 1:
        _NAME_TO_TEXT.setdefault(_n, _n)

_UNI_RE = re.compile(r"^uni([0-9A-Fa-f]{4})")
_U_RE = re.compile(r"^u([0-9A-Fa-f]{4,6})$")


def glyph_name_to_text(name: str) -> Optional[str]:
    """AGL-style resolution: known names, uniXXXX/uXXXX, suffixed variants
    (``a.sc`` -> ``a``). None when unresolvable."""
    if name in _NAME_TO_TEXT:
        return _NAME_TO_TEXT[name]
    m = _UNI_RE.match(name)
    if m:
        return chr(int(m.group(1), 16))
    m = _U_RE.match(name)
    if m:
        cp = int(m.group(1), 16)
        if cp <= 0x10FFFF:
            return chr(cp)
    if "." in name:  # variant suffix: fi.alt, one.oldstyle ...
        return glyph_name_to_text(name.split(".", 1)[0])
    return None


# WinAnsiEncoding codes 0x80-0x9F that differ from latin-1 (PDF spec Annex D)
WINANSI_HIGH: Dict[int, str] = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
    0x89: "‰", 0x8A: "Š", 0x8B: "‹", 0x8C: "Œ",
    0x8E: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
    0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
}


# --------------------------------------------------------------------------
# CFF parsing (charset + encoding only — no charstring interpretation)
# --------------------------------------------------------------------------


def _read_index(b: bytes, pos: int):
    count = int.from_bytes(b[pos : pos + 2], "big")
    pos += 2
    if count == 0:
        return [], pos
    offsz = b[pos]
    pos += 1
    offs = [
        int.from_bytes(b[pos + i * offsz : pos + (i + 1) * offsz], "big")
        for i in range(count + 1)
    ]
    pos += (count + 1) * offsz
    data_start = pos - 1
    items = [b[data_start + offs[i] : data_start + offs[i + 1]] for i in range(count)]
    return items, data_start + offs[count]


def _parse_dict(b: bytes) -> Dict[int, list]:
    out: Dict[int, list] = {}
    operands: list = []
    i = 0
    n = len(b)
    while i < n:
        b0 = b[i]
        if b0 <= 21:
            op = b0
            if b0 == 12:
                op = 1200 + b[i + 1]
                i += 2
            else:
                i += 1
            out[op] = operands
            operands = []
        elif 32 <= b0 <= 246:
            operands.append(b0 - 139)
            i += 1
        elif 247 <= b0 <= 250:
            operands.append((b0 - 247) * 256 + b[i + 1] + 108)
            i += 2
        elif 251 <= b0 <= 254:
            operands.append(-(b0 - 251) * 256 - b[i + 1] - 108)
            i += 2
        elif b0 == 28:
            operands.append(int.from_bytes(b[i + 1 : i + 3], "big", signed=True))
            i += 3
        elif b0 == 29:
            operands.append(int.from_bytes(b[i + 1 : i + 5], "big", signed=True))
            i += 5
        elif b0 == 30:  # real number (BCD nibbles)
            i += 1
            s = ""
            done = False
            while i < n and not done:
                byte = b[i]
                i += 1
                for nib in (byte >> 4, byte & 15):
                    if nib <= 9:
                        s += str(nib)
                    elif nib == 10:
                        s += "."
                    elif nib == 11:
                        s += "E"
                    elif nib == 12:
                        s += "E-"
                    elif nib == 14:
                        s += "-"
                    elif nib == 15:
                        done = True
                        break
            try:
                operands.append(float(s) if s else 0.0)
            except ValueError:
                operands.append(0.0)
        else:
            i += 1
    return out


def memo_bytes_fn(fn, cap: int = 256):
    """Cross-DOCUMENT memoization for pure bytes->table functions.

    Real corpora embed the same handful of font programs / ToUnicode CMaps
    in millions of documents; parsing each once per executor (keyed by the
    raw bytes' md5 — the wrapped functions are pure) removes ~10% of
    per-document parse time. Bounded so a pathological corpus cannot grow
    executor memory; callers must treat results as immutable."""
    import hashlib

    cache: Dict[bytes, object] = {}

    def wrapper(data: bytes):
        key = hashlib.md5(data).digest()
        hit = cache.get(key)
        if hit is None:
            if len(cache) >= cap:
                cache.clear()
            hit = cache[key] = fn(data)
        return hit

    wrapper._cache = cache
    return wrapper


@memo_bytes_fn
def cff_code_to_name(data: bytes) -> Dict[int, str]:
    """byte code -> glyph name from a CFF font program. Empty on any
    structural surprise (CID-keyed fonts, predefined encodings handled via
    the standard-strings identity where possible)."""
    try:
        hdrsz = data[2]
        pos = hdrsz
        _names, pos = _read_index(data, pos)
        topdicts, pos = _read_index(data, pos)
        strings, pos = _read_index(data, pos)
        td = _parse_dict(topdicts[0])
        if 1230 in td:  # ROS -> CID-keyed, no code->name encoding
            return {}
        charstrings_off = td.get(17, [None])[0]
        if charstrings_off is None:
            return {}
        charstrings, _ = _read_index(data, charstrings_off)
        nglyphs = len(charstrings)

        def sid_name(sid: int) -> Optional[str]:
            if sid < len(STANDARD_STRINGS):
                return STANDARD_STRINGS[sid]
            k = sid - 391
            if 0 <= k < len(strings):
                return strings[k].decode("latin-1")
            return None

        # charset: GID -> SID
        charset_off = td.get(15, [0])[0]
        sids = [0]
        if charset_off in (0, 1, 2):  # predefined charsets: SID == GID
            sids = list(range(nglyphs))
        else:
            p = charset_off
            fmt = data[p]
            p += 1
            if fmt == 0:
                for _ in range(1, nglyphs):
                    sids.append(int.from_bytes(data[p : p + 2], "big"))
                    p += 2
            elif fmt in (1, 2):
                # Range1 = {SID first:2, Card8 nLeft:1} (3 bytes);
                # Range2 = {SID first:2, Card16 nLeft:2} (4 bytes).
                while len(sids) < nglyphs:
                    first = int.from_bytes(data[p : p + 2], "big")
                    nleft = (
                        data[p + 2]
                        if fmt == 1
                        else int.from_bytes(data[p + 2 : p + 4], "big")
                    )
                    p += 3 if fmt == 1 else 4
                    for k in range(nleft + 1):
                        sids.append(first + k)
            else:
                return {}

        # encoding: code -> GID
        enc_off = td.get(16, [0])[0]
        code2gid: Dict[int, int] = {}
        if enc_off in (0, 1):
            # Standard/Expert encoding: map via glyph NAME -> standard code.
            # Build name -> code from the standard strings order (codes are
            # the ASCII-ish standard encoding; identity for SIDs 1..95 maps
            # name to its latin position).
            name_to_code = {}
            for code in range(32, 127):
                idx = code - 31  # SID of StandardEncoding char at this code
                if idx < len(STANDARD_STRINGS):
                    name_to_code[STANDARD_STRINGS[idx]] = code
            for gid in range(1, nglyphs):
                nm = sid_name(sids[gid]) if gid < len(sids) else None
                if nm in name_to_code:
                    code2gid[name_to_code[nm]] = gid
        else:
            p = enc_off
            fmt = data[p]
            p += 1
            base = fmt & 0x7F
            if base == 0:
                ncodes = data[p]
                p += 1
                for gid in range(1, ncodes + 1):
                    code2gid[data[p]] = gid
                    p += 1
            elif base == 1:
                nranges = data[p]
                p += 1
                gid = 1
                for _ in range(nranges):
                    first, nleft = data[p], data[p + 1]
                    p += 2
                    for k in range(nleft + 1):
                        code2gid[first + k] = gid
                        gid += 1
            if fmt & 0x80:  # supplements: (code, SID) pairs
                sid_to_gid = {s: g for g, s in enumerate(sids)}
                nsups = data[p]
                p += 1
                for _ in range(nsups):
                    code = data[p]
                    sid = int.from_bytes(data[p + 1 : p + 3], "big")
                    p += 3
                    if sid in sid_to_gid:
                        code2gid[code] = sid_to_gid[sid]

        out: Dict[int, str] = {}
        for code, gid in code2gid.items():
            if 0 <= gid < len(sids):
                nm = sid_name(sids[gid])
                if nm:
                    out[code] = nm
        return out
    except (IndexError, KeyError, ValueError):
        return {}


# --------------------------------------------------------------------------
# Type1 (cleartext /Encoding ... dup <code> /<name> put)
# --------------------------------------------------------------------------

_T1_DUP_RE = re.compile(rb"dup\s+(\d+)\s*/([^\s/]+)\s+put")


# Adobe StandardEncoding (Type1 fonts declaring "/Encoding
# StandardEncoding def"): the non-ASCII-identity entries. Codes 32..126
# are ASCII except quoteright(39)/quoteleft(96).
STANDARD_ENCODING_NAMES: Dict[int, str] = {
    39: "quoteright", 96: "quoteleft",
    161: "exclamdown", 162: "cent", 163: "sterling", 164: "fraction",
    165: "yen", 166: "florin", 167: "section", 168: "currency",
    169: "quotesingle", 170: "quotedblleft", 171: "guillemotleft",
    172: "guilsinglleft", 173: "guilsinglright", 174: "fi", 175: "fl",
    177: "endash", 178: "dagger", 179: "daggerdbl", 180: "periodcentered",
    182: "paragraph", 183: "bullet", 184: "quotesinglbase",
    185: "quotedblbase", 186: "quotedblright", 187: "guillemotright",
    188: "ellipsis", 189: "perthousand", 191: "questiondown",
    193: "grave", 194: "acute", 195: "circumflex", 196: "tilde",
    197: "macron", 198: "breve", 199: "dotaccent", 200: "dieresis",
    202: "ring", 203: "cedilla", 205: "hungarumlaut", 206: "ogonek",
    207: "caron", 208: "emdash", 225: "AE", 227: "ordfeminine",
    232: "Lslash", 233: "Oslash", 234: "OE", 235: "ordmasculine",
    241: "ae", 245: "dotlessi", 248: "lslash", 249: "oslash",
    250: "oe", 251: "germandbls",
}

_EEXEC_R = 55665
_CS_R = 4330  # charstring key (unused here; documented for completeness)
_C1, _C2 = 52845, 22719


_C1_INV = pow(_C1, -1, 1 << 16)  # C1 is odd, so invertible mod 2^16


def eexec_decrypt(data: bytes, r: int = _EEXEC_R, skip: int = 4) -> bytes:
    """Type1 eexec decryption (Adobe Type1 spec §7.2): per-byte stream
    cipher r' = (c + r)*c1 + c2; first ``skip`` plaintext bytes are random
    salt and are dropped.

    The key recurrence depends only on the CIPHERTEXT, and it is affine in
    r: r_{n+1} = C1*r_n + (C1*c_n + C2) mod 2^16, so dividing by C1^n turns
    it into a prefix sum — the whole keystream vectorizes into a handful of
    wrap-around uint16 numpy passes (8x the per-byte loop, verified
    byte-identical on randomized inputs incl. the charstring key/skip
    variants). Only the low 16 bits of the key ``r`` take part."""
    import numpy as np

    r &= 0xFFFF
    n = len(data)
    if n == 0:
        return b""
    c8 = np.frombuffer(data, np.uint8)
    c = c8.astype(np.uint16)
    a = c * np.uint16(_C1) + np.uint16(_C2)  # a_k = C1*c_k + C2 (mod 2^16)
    # s_n = r_n * C1^-n = r0 + sum_{k<n} C1^-(k+1) * a_k  (prefix sum)
    powinv = np.cumprod(np.full(n, _C1_INV, np.uint16), dtype=np.uint16)
    s = np.uint16(r) + np.cumsum(powinv * a, dtype=np.uint16)
    pow1 = np.cumprod(np.full(n, _C1, np.uint16), dtype=np.uint16)
    r_arr = np.empty(n, np.uint16)
    r_arr[0] = r
    r_arr[1:] = s[: n - 1] * pow1[: n - 1]  # r_n = s_n * C1^n
    return (c8 ^ (r_arr >> 8).astype(np.uint8)).tobytes()[skip:]


def eexec_encrypt(data: bytes, r: int = _EEXEC_R, salt: bytes = b"ds01") -> bytes:
    """Inverse of :func:`eexec_decrypt` (used by tests/corpus builders)."""
    out = bytearray()
    for p in salt + data:
        c = (p ^ (r >> 8)) & 0xFF
        out.append(c)
        r = ((c + r) * _C1 + _C2) & 0xFFFF
    return bytes(out)


_HEX_BODY_RE = re.compile(rb"^[0-9A-Fa-f\s]{16,}")


def _eexec_tail_plaintext(tail: bytes) -> bytes:
    """Decrypt the post-``eexec`` portion; handles both the binary (PFB)
    and ASCII-hex (PFA) serializations."""
    tail = tail.lstrip(b"\r\n\t ")
    m = _HEX_BODY_RE.match(tail)
    if m and not any(b > 0x7F for b in tail[:64]):
        import binascii

        hx = re.sub(rb"\s", b"", m.group(0))
        if len(hx) % 2:
            hx = hx[:-1]
        tail = binascii.unhexlify(hx)
    return eexec_decrypt(tail)


@memo_bytes_fn
def type1_code_to_name(data: bytes) -> Dict[int, str]:
    """byte code -> glyph name from a Type1 font program.

    Sources, lowest to highest priority: StandardEncoding (when the
    cleartext header declares it), ``dup N /name put`` entries in the
    cleartext header, and — new in r3 — ``dup`` entries found inside the
    eexec-ENCRYPTED section (subset fonts emitted by some drivers place
    the rebuilt encoding there; the reference reads these through pdfium's
    FreeType)."""
    head, sep, tail = data.partition(b"eexec")
    out: Dict[int, str] = {}
    if re.search(rb"/Encoding\s+StandardEncoding\s+def", head):
        out.update(STANDARD_ENCODING_NAMES)
    for m in _T1_DUP_RE.finditer(head):
        try:
            code = int(m.group(1))
        except ValueError:
            continue
        if 0 <= code <= 255:
            out[code] = m.group(2).decode("latin-1")
    if sep:
        try:
            plain = _eexec_tail_plaintext(tail)
        except Exception:
            plain = b""
        for m in _T1_DUP_RE.finditer(plain):
            try:
                code = int(m.group(1))
            except ValueError:
                continue
            if 0 <= code <= 255:
                out[code] = m.group(2).decode("latin-1")
    return out


def build_glyphmap(
    code_to_name: Dict[int, str], differences: Optional[Dict[int, str]] = None
) -> Dict[int, str]:
    """code -> text, from font-program names overlaid with /Differences."""
    merged = dict(code_to_name)
    if differences:
        merged.update(differences)
    out: Dict[int, str] = {}
    for code, name in merged.items():
        txt = glyph_name_to_text(name)
        if txt is not None:
            out[code] = txt
    return out


# --------------------------------------------------------------------------
# Type2 charstring interpretation -> glyph outlines (for the rasterizer)
# --------------------------------------------------------------------------

_T2_STEM_OPS = (1, 3, 18, 23)  # hstem vstem hstemhm vstemhm


def _flatten_cubic(p0, p1, p2, p3, segments: int = 8):
    """Fixed-subdivision cubic Bezier flattening (deterministic float ops,
    identical order on every host)."""
    out = []
    for k in range(1, segments + 1):
        t = k / segments
        mt = 1.0 - t
        x = (mt * mt * mt * p0[0] + 3 * mt * mt * t * p1[0]
             + 3 * mt * t * t * p2[0] + t * t * t * p3[0])
        y = (mt * mt * mt * p0[1] + 3 * mt * mt * t * p1[1]
             + 3 * mt * t * t * p2[1] + t * t * t * p3[1])
        out.append((x, y))
    return out


class _T2Interp:
    """Minimal-but-complete Type2 outline interpreter: moveto/lineto/
    curveto families, hints consumed (hintmask data bytes skipped), local/
    global subrs with bias, width extraction per the odd-operand rule."""

    def __init__(self, gsubrs, lsubrs, default_width, nominal_width):
        self.gsubrs = gsubrs
        self.lsubrs = lsubrs
        self.gbias = self._bias(len(gsubrs))
        self.lbias = self._bias(len(lsubrs))
        self.default_width = default_width
        self.nominal_width = nominal_width

    @staticmethod
    def _bias(n: int) -> int:
        return 107 if n < 1240 else 1131 if n < 33900 else 32768

    def run(self, code: bytes):
        self.x = self.y = 0
        self.stack = []
        self.contours = []
        self.cur = None
        self.width = None
        self.nstems = 0
        self.done = False
        self._exec(code, 0)
        self._close()
        w = self.width if self.width is not None else self.default_width
        return w, self.contours

    def _close(self):
        if self.cur and len(self.cur) > 1:
            self.contours.append(self.cur)
        self.cur = None

    def _take_width(self, even_args: int):
        """First stack-clearing op: an extra leading operand is the width
        delta from nominalWidthX."""
        if self.width is None:
            self.width = self.nominal_width  # default: no extra operand
            extra = len(self.stack) - even_args
            if even_args < 0:  # variable arg count (stems): odd count = width
                if len(self.stack) % 2 == 1:
                    self.width = self.nominal_width + self.stack.pop(0)
            elif extra > 0:
                self.width = self.nominal_width + self.stack.pop(0)

    def _moveto(self, dx, dy):
        self._close()
        self.x += dx
        self.y += dy
        self.cur = [(self.x, self.y)]

    def _lineto(self, dx, dy):
        self.x += dx
        self.y += dy
        if self.cur is not None:
            self.cur.append((self.x, self.y))

    def _curveto(self, dxa, dya, dxb, dyb, dxc, dyc):
        p0 = (self.x, self.y)
        p1 = (self.x + dxa, self.y + dya)
        p2 = (p1[0] + dxb, p1[1] + dyb)
        p3 = (p2[0] + dxc, p2[1] + dyc)
        if self.cur is not None:
            self.cur.extend(_flatten_cubic(p0, p1, p2, p3))
        self.x, self.y = p3

    def _exec(self, code: bytes, depth: int):
        if depth > 10:
            raise ValueError("charstring subr recursion too deep")
        i = 0
        n = len(code)
        while i < n and not self.done:
            b0 = code[i]
            # operand?
            if b0 >= 32 or b0 == 28:
                if b0 == 28:
                    self.stack.append(
                        int.from_bytes(code[i + 1 : i + 3], "big", signed=True)
                    )
                    i += 3
                elif b0 <= 246:
                    self.stack.append(b0 - 139)
                    i += 1
                elif b0 <= 250:
                    self.stack.append((b0 - 247) * 256 + code[i + 1] + 108)
                    i += 2
                elif b0 <= 254:
                    self.stack.append(-(b0 - 251) * 256 - code[i + 1] - 108)
                    i += 2
                else:  # 255: 16.16 fixed
                    self.stack.append(
                        int.from_bytes(code[i + 1 : i + 5], "big", signed=True)
                        / 65536.0
                    )
                    i += 5
                continue
            if b0 == 12:
                op = 1200 + code[i + 1]
                i += 2
            else:
                op = b0
                i += 1
            s = self.stack
            if op in _T2_STEM_OPS:
                self._take_width(-1)
                self.nstems += len(s) // 2
                s.clear()
            elif op in (19, 20):  # hintmask / cntrmask: skip raw mask bytes
                self._take_width(-1)
                self.nstems += len(s) // 2
                s.clear()
                i += (self.nstems + 7) // 8
            elif op == 21:  # rmoveto
                self._take_width(2)
                self._moveto(s[-2], s[-1])
                s.clear()
            elif op == 22:  # hmoveto
                self._take_width(1)
                self._moveto(s[-1], 0)
                s.clear()
            elif op == 4:  # vmoveto
                self._take_width(1)
                self._moveto(0, s[-1])
                s.clear()
            elif op == 5:  # rlineto
                for j in range(0, len(s) - 1, 2):
                    self._lineto(s[j], s[j + 1])
                s.clear()
            elif op == 6:  # hlineto (alternating h/v)
                horiz = True
                for d in s:
                    self._lineto(d, 0) if horiz else self._lineto(0, d)
                    horiz = not horiz
                s.clear()
            elif op == 7:  # vlineto
                horiz = False
                for d in s:
                    self._lineto(d, 0) if horiz else self._lineto(0, d)
                    horiz = not horiz
                s.clear()
            elif op == 8:  # rrcurveto
                for j in range(0, len(s) - 5, 6):
                    self._curveto(*s[j : j + 6])
                s.clear()
            elif op == 24:  # rcurveline
                j = 0
                while len(s) - j >= 8:
                    self._curveto(*s[j : j + 6])
                    j += 6
                self._lineto(s[j], s[j + 1])
                s.clear()
            elif op == 25:  # rlinecurve
                j = 0
                while len(s) - j >= 8:
                    self._lineto(s[j], s[j + 1])
                    j += 2
                self._curveto(*s[j : j + 6])
                s.clear()
            elif op == 26:  # vvcurveto
                j = 0
                dx1 = 0
                if len(s) % 4 == 1:
                    dx1 = s[0]
                    j = 1
                while j + 3 < len(s):
                    self._curveto(dx1, s[j], s[j + 1], s[j + 2], 0, s[j + 3])
                    dx1 = 0
                    j += 4
                s.clear()
            elif op == 27:  # hhcurveto
                j = 0
                dy1 = 0
                if len(s) % 4 == 1:
                    dy1 = s[0]
                    j = 1
                while j + 3 < len(s):
                    self._curveto(s[j], dy1, s[j + 1], s[j + 2], s[j + 3], 0)
                    dy1 = 0
                    j += 4
                s.clear()
            elif op in (30, 31):  # vhcurveto / hvcurveto
                horiz = op == 31
                j = 0
                while len(s) - j >= 4:
                    last = len(s) - j == 5
                    if horiz:
                        self._curveto(s[j], 0, s[j + 1], s[j + 2],
                                      s[j + 4] if last else 0, s[j + 3])
                    else:
                        self._curveto(0, s[j], s[j + 1], s[j + 2],
                                      s[j + 3], s[j + 4] if last else 0)
                    horiz = not horiz
                    j += 4
                s.clear()
            elif op == 10:  # callsubr
                idx = int(s.pop()) + self.lbias
                if 0 <= idx < len(self.lsubrs):
                    self._exec(self.lsubrs[idx], depth + 1)
            elif op == 29:  # callgsubr
                idx = int(s.pop()) + self.gbias
                if 0 <= idx < len(self.gsubrs):
                    self._exec(self.gsubrs[idx], depth + 1)
            elif op == 11:  # return
                return
            elif op == 14:  # endchar
                self._take_width(0)
                self.done = True
                self._close()
                return
            else:  # flex etc: drop operands (not emitted by our authoring)
                s.clear()


@memo_bytes_fn
def cff_glyph_outlines(data: bytes):
    """glyph name -> (advance width, contours) from a CFF font program —
    the rasterizer's outline source (fontgen authors these; external fonts
    interpret through the same Type2 machine). Empty dict on CID-keyed or
    structurally surprising fonts."""
    try:
        hdrsz = data[2]
        pos = hdrsz
        _names, pos = _read_index(data, pos)
        topdicts, pos = _read_index(data, pos)
        strings, pos = _read_index(data, pos)
        gsubrs, pos = _read_index(data, pos)
        td = _parse_dict(topdicts[0])
        if 1230 in td:
            return {}
        charstrings_off = td.get(17, [None])[0]
        if charstrings_off is None:
            return {}
        charstrings, _ = _read_index(data, int(charstrings_off))
        nglyphs = len(charstrings)

        def sid_name(sid: int):
            if sid < len(STANDARD_STRINGS):
                return STANDARD_STRINGS[sid]
            k = sid - 391
            if 0 <= k < len(strings):
                return strings[k].decode("latin-1")
            return None

        charset_off = td.get(15, [0])[0]
        sids = [0]
        if charset_off in (0, 1, 2):
            sids = list(range(nglyphs))
        else:
            p = int(charset_off)
            fmt = data[p]
            p += 1
            if fmt == 0:
                for _ in range(1, nglyphs):
                    sids.append(int.from_bytes(data[p : p + 2], "big"))
                    p += 2
            elif fmt in (1, 2):
                # Range1 = {SID first:2, Card8 nLeft:1} (3 bytes);
                # Range2 = {SID first:2, Card16 nLeft:2} (4 bytes).
                while len(sids) < nglyphs:
                    first = int.from_bytes(data[p : p + 2], "big")
                    nleft = (
                        data[p + 2]
                        if fmt == 1
                        else int.from_bytes(data[p + 2 : p + 4], "big")
                    )
                    p += 3 if fmt == 1 else 4
                    for k in range(nleft + 1):
                        sids.append(first + k)
            else:
                return {}

        default_w = nominal_w = 0
        lsubrs: list = []
        priv = td.get(18)
        if priv:
            psz, poff = int(priv[0]), int(priv[1])
            pd = _parse_dict(data[poff : poff + psz])
            default_w = pd.get(20, [0])[0]
            nominal_w = pd.get(21, [0])[0]
            if 19 in pd:
                lsubrs, _ = _read_index(data, poff + int(pd[19][0]))

        interp = _T2Interp(gsubrs, lsubrs, default_w, nominal_w)
        out = {}
        for gid in range(nglyphs):
            nm = sid_name(sids[gid]) if gid < len(sids) else None
            if not nm or nm == ".notdef":
                continue
            try:
                w, contours = interp.run(charstrings[gid])
            except (ValueError, IndexError):
                continue
            out[nm] = (w, contours)
        return out
    except (IndexError, KeyError, ValueError):
        return {}


def cff_cid_glyph_outlines(data: bytes):
    """CID -> (advance width, contours) from a CID-KEYED CFF font program
    (CIDFontType0C, the /FontFile3 form behind /CIDFontType0 descendants —
    CFF spec §18; reference renders these via pdfium's CID font path,
    _pdfium.py:126-135). The charset maps gid->CID (not gid->SID), FDSelect
    (formats 0 and 3) picks each glyph's Font DICT from the FDArray, and
    that FD's Private DICT supplies default/nominal widths + local subrs
    for the shared Type2 machine — so advance widths are only correct if
    FD resolution is. Empty dict on non-CID-keyed or structurally
    surprising fonts (mirror of cff_glyph_outlines, which owns the
    name-keyed case)."""
    try:
        hdrsz = data[2]
        pos = hdrsz
        _names, pos = _read_index(data, pos)
        topdicts, pos = _read_index(data, pos)
        _strings, pos = _read_index(data, pos)
        gsubrs, pos = _read_index(data, pos)
        td = _parse_dict(topdicts[0])
        if 1230 not in td:  # ROS: only CID-keyed fonts carry it
            return {}
        charstrings_off = td.get(17, [None])[0]
        fdarray_off = td.get(1236, [None])[0]
        if charstrings_off is None or fdarray_off is None:
            return {}
        charstrings, _ = _read_index(data, int(charstrings_off))
        n = len(charstrings)

        # charset: gid -> CID (same wire formats as the SID charset;
        # charset 0 here would mean the identity Adobe charset — treat the
        # predefined codes as identity, like the SID path does)
        charset_off = td.get(15, [0])[0]
        cids = [0]
        if charset_off in (0, 1, 2):
            cids = list(range(n))
        else:
            p = int(charset_off)
            fmt = data[p]
            p += 1
            if fmt == 0:
                for _ in range(1, n):
                    cids.append(int.from_bytes(data[p : p + 2], "big"))
                    p += 2
            elif fmt in (1, 2):
                # Range1 = {first:2, nLeft:1}; Range2 = {first:2, nLeft:2}
                while len(cids) < n:
                    first = int.from_bytes(data[p : p + 2], "big")
                    nleft = (
                        data[p + 2]
                        if fmt == 1
                        else int.from_bytes(data[p + 2 : p + 4], "big")
                    )
                    p += 3 if fmt == 1 else 4
                    for k in range(nleft + 1):
                        cids.append(first + k)
            else:
                return {}

        # FDSelect: gid -> Font DICT index (absent => all glyphs FD 0)
        fd_of = [0] * n
        fdselect_off = td.get(1237, [None])[0]
        if fdselect_off is not None:
            p = int(fdselect_off)
            fmt = data[p]
            p += 1
            if fmt == 0:
                fd_of = list(data[p : p + n])
            elif fmt == 3:
                nr = int.from_bytes(data[p : p + 2], "big")
                p += 2
                ranges = []
                for _ in range(nr):
                    first = int.from_bytes(data[p : p + 2], "big")
                    ranges.append((first, data[p + 2]))
                    p += 3
                sentinel = int.from_bytes(data[p : p + 2], "big")
                for i, (first, fd) in enumerate(ranges):
                    end = ranges[i + 1][0] if i + 1 < len(ranges) else sentinel
                    for g in range(first, min(end, n)):
                        fd_of[g] = fd
            else:
                return {}

        # one Type2 machine per Font DICT (its own widths + local subrs)
        fddicts, _ = _read_index(data, int(fdarray_off))
        interps = []
        for fb in fddicts:
            fdd = _parse_dict(fb)
            default_w = nominal_w = 0
            lsubrs: list = []
            priv = fdd.get(18)
            if priv:
                psz, poff = int(priv[0]), int(priv[1])
                pd = _parse_dict(data[poff : poff + psz])
                default_w = pd.get(20, [0])[0]
                nominal_w = pd.get(21, [0])[0]
                if 19 in pd:
                    lsubrs, _ = _read_index(data, poff + int(pd[19][0]))
            interps.append(_T2Interp(gsubrs, lsubrs, default_w, nominal_w))
        if not interps:
            return {}

        out = {}
        for gid in range(1, n):  # gid 0 = .notdef (CID 0)
            if gid >= len(cids):
                break
            fd = fd_of[gid]
            interp = interps[fd] if fd < len(interps) else interps[0]
            try:
                w, contours = interp.run(charstrings[gid])
            except (ValueError, IndexError):
                continue
            out[int(cids[gid])] = (w, contours)
        return out
    except (IndexError, KeyError, ValueError):
        return {}


# --------------------------------------------------------------------------
# Type1 charstring interpretation -> glyph outlines (for the rasterizer)
# --------------------------------------------------------------------------

_T1_CS_RE = re.compile(rb"/([A-Za-z0-9._]+)\s+(\d+)\s+(?:RD|-\|)[ ]")
_T1_SUBR_RE = re.compile(rb"dup\s+(\d+)\s+(\d+)\s+(?:RD|-\|)[ ]")
_T1_LENIV_RE = re.compile(rb"/lenIV\s+(\d+)")


class _Type1Interp:
    """Minimal Type1 charstring machine (Adobe Type 1 spec §6): hsbw,
    absolute/relative move/line, all three curveto forms, closepath,
    callsubr/return, div. Flex/hint-replacement OtherSubrs and seac raise
    (the caller skips those glyphs; our authored fonts never emit them)."""

    def __init__(self, subrs) -> None:
        self.subrs = subrs
        self.stack: List[float] = []
        self.x = self.y = 0.0
        self.width = 0.0
        self.contours: List[list] = []
        self.cur: List[tuple] = []
        self.done = False

    def _close(self) -> None:
        if len(self.cur) >= 3:
            self.contours.append(self.cur)
        self.cur = []

    def _moveto(self, dx, dy) -> None:
        # Type1 closepath leaves the current point; a following rmoveto
        # starts the next subpath relative to it
        if self.cur:
            self._close()
        self.x += dx
        self.y += dy
        self.cur = [(self.x, self.y)]

    def _lineto(self, dx, dy) -> None:
        self.x += dx
        self.y += dy
        self.cur.append((self.x, self.y))

    def _curveto(self, d1x, d1y, d2x, d2y, d3x, d3y) -> None:
        p0 = (self.x, self.y)
        p1 = (p0[0] + d1x, p0[1] + d1y)
        p2 = (p1[0] + d2x, p1[1] + d2y)
        p3 = (p2[0] + d3x, p2[1] + d3y)
        self.cur.extend(_flatten_cubic(p0, p1, p2, p3))
        self.x, self.y = p3

    def run(self, code: bytes, depth: int = 0) -> None:
        if depth > 10:
            raise ValueError("Type1 subr recursion too deep")
        i = 0
        n = len(code)
        while i < n and not self.done:
            b = code[i]
            if b >= 32 or b == 255:
                if 32 <= b <= 246:
                    self.stack.append(b - 139)
                    i += 1
                elif 247 <= b <= 250:
                    self.stack.append((b - 247) * 256 + code[i + 1] + 108)
                    i += 2
                elif 251 <= b <= 254:
                    self.stack.append(-(b - 251) * 256 - code[i + 1] - 108)
                    i += 2
                else:  # 255: 32-bit
                    self.stack.append(
                        int.from_bytes(code[i + 1 : i + 5], "big", signed=True)
                    )
                    i += 5
                continue
            i += 1
            if b == 13:  # hsbw: sbx wx
                sbx, self.width = self.stack[0], self.stack[1]
                self.x, self.y = sbx, 0.0
                self.stack.clear()
            elif b == 21:
                self._moveto(self.stack[-2], self.stack[-1])
                self.stack.clear()
            elif b == 22:
                self._moveto(self.stack[-1], 0)
                self.stack.clear()
            elif b == 4:
                self._moveto(0, self.stack[-1])
                self.stack.clear()
            elif b == 5:
                self._lineto(self.stack[-2], self.stack[-1])
                self.stack.clear()
            elif b == 6:
                self._lineto(self.stack[-1], 0)
                self.stack.clear()
            elif b == 7:
                self._lineto(0, self.stack[-1])
                self.stack.clear()
            elif b == 8:
                self._curveto(*self.stack[-6:])
                self.stack.clear()
            elif b == 30:  # vhcurveto
                d = self.stack[-4:]
                self._curveto(0, d[0], d[1], d[2], d[3], 0)
                self.stack.clear()
            elif b == 31:  # hvcurveto
                d = self.stack[-4:]
                self._curveto(d[0], 0, d[1], d[2], 0, d[3])
                self.stack.clear()
            elif b == 9:  # closepath: subpath closes, current point stays
                if len(self.cur) >= 3:
                    self.contours.append(self.cur)
                self.cur = [(self.x, self.y)]
                self.stack.clear()
            elif b == 1 or b == 3:  # hstem / vstem
                self.stack.clear()
            elif b == 10:  # callsubr
                idx = int(self.stack.pop())
                self.run(self.subrs[idx], depth + 1)
            elif b == 11:  # return
                return
            elif b == 14:  # endchar
                self._close()
                self.done = True
            elif b == 12:
                b2 = code[i]
                i += 1
                if b2 == 12:  # div
                    bv = self.stack.pop()
                    av = self.stack.pop()
                    self.stack.append(av / bv)
                elif b2 == 7:  # sbw: sbx sby wx wy
                    self.x, self.y = self.stack[0], self.stack[1]
                    self.width = self.stack[2]
                    self.stack.clear()
                elif b2 in (0, 1, 2, 33):  # dotsection/vstem3/hstem3/setcp
                    self.stack.clear()
                else:  # seac, callothersubr, pop, ...
                    raise ValueError(f"Type1 escape op {b2} unsupported")
            else:
                raise ValueError(f"Type1 op {b} unsupported")


@memo_bytes_fn
def type1_glyph_outlines(data: bytes):
    """glyph name -> (advance width, contours) from a Type1 font program
    (/FontFile): eexec-decrypt the body, decrypt each charstring (lenIV
    from /Private, default 4), interpret. Glyphs using flex/seac
    OtherSubrs are skipped (cell fallback); empty dict on structurally
    surprising fonts."""
    try:
        head, sep, tail = data.partition(b"eexec")
        if not sep:
            return {}
        plain = _eexec_tail_plaintext(tail)
        m = _T1_LENIV_RE.search(plain)
        leniv = int(m.group(1)) if m else 4
        # Subrs entries precede CharStrings: "dup <idx> <len> RD <bin> NP"
        subrs: Dict[int, bytes] = {}
        cs_start = plain.find(b"/CharStrings")
        subr_zone = plain[:cs_start] if cs_start >= 0 else plain
        if b"/Subrs" in subr_zone:
            for sm in _T1_SUBR_RE.finditer(subr_zone):
                idx, ln = int(sm.group(1)), int(sm.group(2))
                raw = subr_zone[sm.end() : sm.end() + ln]
                subrs[idx] = eexec_decrypt(raw, r=4330, skip=leniv)
        out = {}
        zone = plain[cs_start:] if cs_start >= 0 else plain
        for cm in _T1_CS_RE.finditer(zone):
            name = cm.group(1).decode("latin-1")
            ln = int(cm.group(2))
            cs = eexec_decrypt(
                zone[cm.end() : cm.end() + ln], r=4330, skip=leniv
            )
            try:
                interp = _Type1Interp(subrs)
                interp.run(cs)
            except Exception:
                continue  # flex/seac glyph: fall back to cells
            out[name] = (
                interp.width,
                [[(float(x), float(y)) for x, y in c] for c in interp.contours],
            )
        return out
    except Exception:
        return {}
