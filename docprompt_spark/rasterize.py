"""Deterministic page rasterization (reference D7) + bbox masking (D12).

The reference renders pages through pdfium — ``_pdfium.py:126-135``
(``page.render(**kwargs).to_pil()``), surfaced as
``Document.rasterize_page`` / the rasterize pipeline
(``schema/pipeline/rasterizer.py``), and masks rasters with PIL rectangle
fills (``rasterize.py:232-266`` ``mask_image_from_bboxes``,
``utils/masking/image.py:10-29``).

Text renders as REAL GLYPH OUTLINES: the corpus embeds genuine CFF font
programs (fontgen.build_cff -> /FontFile3), the kernel interprets their
Type2 charstrings back out of the document
(cff.cff_glyph_outlines via PdfFile.glyph_outline_pool) and scanline-fills
each glyph (even-odd, pixel-center sampling) scaled into its metric share
of the word bbox — closing round 3's glyph-cell divergence. Characters
without an embedded outline fall back to deterministic glyph cells.
Embedded images composite at their placement rects via
nearest-neighbor scaling of the REAL decoded pixels
(:func:`docprompt_spark.multimodal.decode_image` — raw/Flate/PNG/baseline
JPEG, all from-scratch codecs). Integer math throughout: a page renders to
the same md5 on any host, which is what makes the raster table
oracle-checkable.

Scale posture: rendering happens INSIDE the salted parse ``mapInPandas``
(one pass over the raw document bytes, exactly like the reference's
pdfium render and our span extraction) — pixels are reduced to md5/stat
columns in-kernel, so no raster bytes ever enter a shuffle. At 100 TB the
page-raster table is therefore a narrow map over the same size-balanced
buckets as the text parse.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator, List, Optional, Sequence, Tuple

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

DEFAULT_DPI = 36  # 612x792pt page -> 306x396 px; deterministic + cheap


def rect_px(
    bbox: Sequence[float], width_px: int, height_px: int
) -> Tuple[int, int, int, int]:
    """Normalized (x0, top, x1, bottom) -> clamped integer pixel rect.

    Origin floors and extent ceils (a rect covering any fraction of a pixel
    paints it), mirroring the reference's ``int(bbox.x0 * width)`` paste
    origin (utils/masking/image.py:25-27). Shared by render + mask so both
    sides of every oracle use identical geometry.
    """
    x0 = max(0, min(width_px, int(math.floor(bbox[0] * width_px))))
    y0 = max(0, min(height_px, int(math.floor(bbox[1] * height_px))))
    x1 = max(x0, min(width_px, int(math.ceil(bbox[2] * width_px))))
    y1 = max(y0, min(height_px, int(math.ceil(bbox[3] * height_px))))
    return x0, y0, x1, y1


def _glyph_intensity(ch: str) -> int:
    """Deterministic per-codepoint gray level (dark-ish, never white)."""
    return 32 + (ord(ch) * 7) % 160


def _paint_image(
    canvas: np.ndarray, pixels: np.ndarray, rect, stencil: bool = False,
    alpha: Optional[np.ndarray] = None,
) -> None:
    """Nearest-neighbor composite of ``pixels`` into ``rect`` (integer
    index math — no float resampling, fully deterministic). ``stencil``
    (an /ImageMask): paint ink (0) only where the sampled mask pixel is
    ink, leaving the backdrop visible elsewhere (PDF §8.9.6.2).
    ``alpha`` (an /SMask, §11.6.5.2): per-pixel gray8 alpha plane —
    sampled to the same rect with its OWN dims (soft masks legally differ
    in resolution from their parent) and source-over blended with
    round-half-up integer math: (src*a + dst*(255-a) + 127) // 255."""
    x0, y0, x1, y1 = rect
    w, h = x1 - x0, y1 - y0
    if w <= 0 or h <= 0 or pixels.size == 0:
        return
    src_h, src_w = pixels.shape
    yi = (np.arange(h) * src_h) // h
    xi = (np.arange(w) * src_w) // w
    sampled = pixels[np.ix_(yi, xi)]
    if stencil:
        region = canvas[y0:y1, x0:x1]
        region[sampled == 0] = 0
    elif alpha is not None and alpha.size:
        a_h, a_w = alpha.shape
        a = alpha[
            np.ix_((np.arange(h) * a_h) // h, (np.arange(w) * a_w) // w)
        ].astype(np.uint32)
        dst = canvas[y0:y1, x0:x1].astype(np.uint32)
        canvas[y0:y1, x0:x1] = (
            (sampled.astype(np.uint32) * a + dst * (255 - a) + 127) // 255
        ).astype(np.uint8)
    else:
        canvas[y0:y1, x0:x1] = sampled


def _paint_word(canvas: np.ndarray, text: str, rect) -> None:
    """Glyph-cell text rendering (fallback when no outline is available):
    the word bbox splits into one cell per character, each filled at the
    codepoint's intensity."""
    x0, y0, x1, y1 = rect
    w = x1 - x0
    n = len(text)
    if w <= 0 or y1 <= y0 or n == 0:
        return
    for i, ch in enumerate(text):
        cx0 = x0 + (i * w) // n
        cx1 = x0 + ((i + 1) * w) // n
        if cx1 > cx0:
            canvas[y0:y1, cx0:cx1] = _glyph_intensity(ch)


# em-space vertical range the word bbox spans (pdfwrite.ASCENT_PM /
# DESCENT_PM — recovered from the font descriptor on the parse side, but a
# constant of the corpus metric model, shared with the oracle)
_EM_ASC = 720.0
_EM_DESC = -180.0


def fill_contours(
    canvas: np.ndarray, contours, value: int = 0, alpha: float = 1.0,
    blend: "Optional[str]" = None,
) -> None:
    """Even-odd scanline polygon fill at pixel centers — deterministic IEEE
    float ops in fixed order, so identical rasters on every host. This is
    the from-scratch equivalent of the glyph fills pdfium does for the
    reference's page renders."""
    if not contours:
        return
    h, w = canvas.shape
    ys = [p[1] for c in contours for p in c]
    y_lo = max(0, int(math.floor(min(ys))))
    y_hi = min(h, int(math.ceil(max(ys))) + 1)
    for yy in range(y_lo, y_hi):
        yc = yy + 0.5
        xs = []
        for contour in contours:
            n = len(contour)
            for k in range(n):
                xa, ya = contour[k]
                xb, yb = contour[(k + 1) % n]  # implicit close
                if (ya <= yc < yb) or (yb <= yc < ya):
                    xs.append(xa + (yc - ya) * (xb - xa) / (yb - ya))
        if not xs:
            continue
        xs.sort()
        for k in range(0, len(xs) - 1, 2):
            # pixels whose center lies in [xs[k], xs[k+1])
            px0 = max(0, int(math.ceil(xs[k] - 0.5)))
            px1 = min(w, int(math.ceil(xs[k + 1] - 0.5)))
            if px1 <= px0:
                continue
            if alpha >= 1.0 and blend is None:
                canvas[yy, px0:px1] = value
            else:
                # §11.3.5/§11.3.6 over an OPAQUE backdrop: composite =
                # (1-a)·B + a·Blend(B,S); Normal's Blend(B,S)=S recovers
                # plain source-over. Separable gray blends, fixed-order
                # IEEE floats with ONE rounding site — same expression on
                # generator-GT and parsed renders
                old = canvas[yy, px0:px1].astype(np.float64)
                if blend == "Multiply":
                    src = old * (value / 255.0)
                elif blend == "Screen":
                    src = 255.0 - (255.0 - old) * ((255.0 - value) / 255.0)
                else:
                    src = float(value)
                canvas[yy, px0:px1] = np.clip(
                    np.round(src * alpha + old * (1.0 - alpha)), 0, 255
                ).astype(np.uint8)


def _ps_exec(code, st: list) -> None:
    """Type 4 PostScript-calculator execution (§7.10.5): the operator
    subset real tint transforms and gradient functions use, over a plain
    operand stack. Procedures (nested lists) push as objects for
    if/ifelse. Fixed-order IEEE float ops for cross-side determinism."""
    i = 0
    while i < len(code):
        tok = code[i]
        i += 1
        if isinstance(tok, list):
            st.append(tok)
        elif isinstance(tok, (int, float)):
            st.append(tok)
        elif tok == "add":
            b = st.pop(); st.append(st.pop() + b)
        elif tok == "sub":
            b = st.pop(); st.append(st.pop() - b)
        elif tok == "mul":
            b = st.pop(); st.append(st.pop() * b)
        elif tok == "div":
            b = st.pop(); st.append(st.pop() / b)
        elif tok == "idiv":
            b = st.pop(); a = st.pop(); st.append(int(a) // int(b))
        elif tok == "mod":
            b = st.pop(); a = st.pop(); st.append(int(a) % int(b))
        elif tok == "neg":
            st.append(-st.pop())
        elif tok == "abs":
            st.append(abs(st.pop()))
        elif tok == "sqrt":
            st.append(math.sqrt(st.pop()))
        elif tok == "sin":
            st.append(math.sin(math.radians(st.pop())))
        elif tok == "cos":
            st.append(math.cos(math.radians(st.pop())))
        elif tok == "atan":
            b = st.pop(); a = st.pop()
            d = math.degrees(math.atan2(a, b))
            st.append(d + 360.0 if d < 0.0 else d)
        elif tok == "exp":
            b = st.pop(); st.append(st.pop() ** b)
        elif tok == "ln":
            st.append(math.log(st.pop()))
        elif tok == "log":
            st.append(math.log10(st.pop()))
        elif tok in ("cvi", "truncate"):
            v = st.pop(); st.append(int(v) if tok == "cvi" else float(int(v)))
        elif tok == "cvr":
            st.append(float(st.pop()))
        elif tok == "floor":
            st.append(float(math.floor(st.pop())))
        elif tok == "ceiling":
            st.append(float(math.ceil(st.pop())))
        elif tok == "round":
            v = st.pop()
            st.append(float(math.floor(v + 0.5)))  # PS rounds half up
        elif tok == "dup":
            st.append(st[-1])
        elif tok == "exch":
            st[-1], st[-2] = st[-2], st[-1]
        elif tok == "pop":
            st.pop()
        elif tok == "copy":
            n = int(st.pop())
            if n > 0:
                st.extend(st[-n:])
        elif tok == "index":
            n = int(st.pop()); st.append(st[-1 - n])
        elif tok == "roll":
            j = int(st.pop()); n = int(st.pop())
            if n > 0:
                j %= n
                part = st[-n:]
                del st[-n:]
                st.extend(part[-j:] + part[:-j])
        elif tok in ("eq", "ne", "gt", "ge", "lt", "le"):
            b = st.pop(); a = st.pop()
            st.append(
                {"eq": a == b, "ne": a != b, "gt": a > b,
                 "ge": a >= b, "lt": a < b, "le": a <= b}[tok]
            )
        elif tok in ("and", "or", "xor"):
            b = st.pop(); a = st.pop()
            if isinstance(a, bool) or isinstance(b, bool):
                st.append(
                    {"and": bool(a) and bool(b),
                     "or": bool(a) or bool(b),
                     "xor": bool(a) != bool(b)}[tok]
                )
            else:
                st.append(
                    {"and": int(a) & int(b), "or": int(a) | int(b),
                     "xor": int(a) ^ int(b)}[tok]
                )
        elif tok == "not":
            a = st.pop()
            st.append(not a if isinstance(a, bool) else ~int(a))
        elif tok == "true":
            st.append(True)
        elif tok == "false":
            st.append(False)
        elif tok == "if":
            proc = st.pop(); cond = st.pop()
            if cond:
                _ps_exec(proc, st)
        elif tok == "ifelse":
            p2 = st.pop(); p1 = st.pop(); cond = st.pop()
            _ps_exec(p1 if cond else p2, st)
        else:
            raise ValueError(f"PostScript operator {tok!r} unsupported")


def eval_shading_fn(fn: dict, t: float) -> float:
    """Evaluate a normalized PDF function spec (§7.10) at ``t`` in [0,1]
    — the 1-in/1-out gray case shadings use. Fixed-order IEEE float ops
    so generator ground truth and parsed renders agree bit-exactly.

    Specs: ``{"t": 2, "c0", "c1", "n"}`` exponential interpolation
    (§7.10.3); ``{"t": 3, "bounds", "encode", "subs"}`` stitching
    (§7.10.4) over the [0,1] domain; ``{"t": 0, "samples", "bps": 8}``
    sampled (§7.10.2) with linear interpolation, Range [0 1]."""
    ft = fn["t"]
    if ft == 2:
        return fn["c0"] + (t ** fn["n"]) * (fn["c1"] - fn["c0"])
    if ft == 4:
        st = [t]
        _ps_exec(fn["code"], st)
        v = st[-1]
        return 0.0 if v < 0.0 else (1.0 if v > 1.0 else v)
    if ft == 3:
        bounds = fn["bounds"]
        k = 0
        while k < len(bounds) and t >= bounds[k]:
            k += 1
        lo = bounds[k - 1] if k > 0 else 0.0
        hi = bounds[k] if k < len(bounds) else 1.0
        e0, e1 = fn["encode"][2 * k], fn["encode"][2 * k + 1]
        tt = e0 if hi == lo else e0 + (t - lo) * (e1 - e0) / (hi - lo)
        return eval_shading_fn(fn["subs"][k], tt)
    if ft == 0:
        s = fn["samples"]
        m = len(s)
        x = t * (m - 1)
        i = int(x)
        if i >= m - 1:
            i = m - 2
        frac = x - i
        return (s[i] + frac * (s[i + 1] - s[i])) / 255.0
    raise ValueError(f"unsupported shading function type {ft}")


def _shade_axial(
    canvas: np.ndarray, contours, a, b, c0: float, c1: float, nexp: float,
    fn: dict = None,
) -> None:
    """Axial (Type 2) shading fill: the same even-odd scanline spans as
    :func:`fill_contours`, but each pixel center projects onto the A→B
    axis for its parameter t (clamped — /Extend [true true]) and colors
    c0 + t^N (c1 - c0) on the exponential-interpolation (Type 2) function.
    Fixed-order IEEE float ops, so generator ground truth and parsed
    render agree bit-exactly."""
    if not contours:
        return
    h, w = canvas.shape
    ax, ay = a
    dx, dy = b[0] - ax, b[1] - ay
    l2 = dx * dx + dy * dy
    if l2 <= 0.0:
        return
    ys = [p[1] for c in contours for p in c]
    y_lo = max(0, int(math.floor(min(ys))))
    y_hi = min(h, int(math.ceil(max(ys))) + 1)
    for yy in range(y_lo, y_hi):
        yc = yy + 0.5
        xs = []
        for contour in contours:
            n = len(contour)
            for k in range(n):
                xa, ya = contour[k]
                xb, yb = contour[(k + 1) % n]
                if (ya <= yc < yb) or (yb <= yc < ya):
                    xs.append(xa + (yc - ya) * (xb - xa) / (yb - ya))
        if not xs:
            continue
        xs.sort()
        for k in range(0, len(xs) - 1, 2):
            px0 = max(0, int(math.ceil(xs[k] - 0.5)))
            px1 = min(w, int(math.ceil(xs[k + 1] - 0.5)))
            for px in range(px0, px1):
                t = ((px + 0.5 - ax) * dx + (yc - ay) * dy) / l2
                if t < 0.0:
                    t = 0.0
                elif t > 1.0:
                    t = 1.0
                v = (
                    eval_shading_fn(fn, t)
                    if fn is not None
                    else c0 + (t ** nexp) * (c1 - c0)
                )
                g = int(round(v * 255.0))
                canvas[yy, px] = 0 if g < 0 else (255 if g > 255 else g)


def _shade_radial(
    canvas: np.ndarray, contours, circ0, circ1, c0: float, c1: float,
    nexp: float, fn: dict = None,
) -> None:
    """Radial (Type 3) shading fill (§8.7.4.3.4): same even-odd scanline
    spans as :func:`fill_contours`; each pixel center solves for the
    LARGEST s with |p - c(s)| = r(s) on the circle family
    c(s) = c0 + s*(c1-c0), r(s) = r0 + s*(r1-r0), clamps s to [0,1]
    (/Extend [true true]) and colors c0 + s^N (c1-c0). Pixels with no
    valid circle (outside the cone of an eccentric family) stay
    unpainted, per spec. Fixed-order IEEE float ops — generator ground
    truth and parsed render agree bit-exactly."""
    if not contours:
        return
    h, w = canvas.shape
    x0c, y0c, r0 = circ0
    x1c, y1c, r1 = circ1
    dcx, dcy, dr = x1c - x0c, y1c - y0c, r1 - r0
    aq = dcx * dcx + dcy * dcy - dr * dr
    ys = [p[1] for c in contours for p in c]
    y_lo = max(0, int(math.floor(min(ys))))
    y_hi = min(h, int(math.ceil(max(ys))) + 1)
    for yy in range(y_lo, y_hi):
        yc = yy + 0.5
        xs = []
        for contour in contours:
            n = len(contour)
            for k in range(n):
                xa, ya = contour[k]
                xb, yb = contour[(k + 1) % n]
                if (ya <= yc < yb) or (yb <= yc < ya):
                    xs.append(xa + (yc - ya) * (xb - xa) / (yb - ya))
        if not xs:
            continue
        xs.sort()
        for k in range(0, len(xs) - 1, 2):
            px0 = max(0, int(math.ceil(xs[k] - 0.5)))
            px1 = min(w, int(math.ceil(xs[k + 1] - 0.5)))
            for px in range(px0, px1):
                fx, fy = px + 0.5 - x0c, yc - y0c
                bq = fx * dcx + fy * dcy + r0 * dr
                cq = fx * fx + fy * fy - r0 * r0
                if aq == 0.0:
                    if bq == 0.0:
                        continue
                    s = cq / (2.0 * bq)
                else:
                    disc = bq * bq - aq * cq
                    if disc < 0.0:
                        continue
                    sq = math.sqrt(disc)
                    s = (bq + sq) / aq
                    if r0 + s * dr < 0.0:
                        s = (bq - sq) / aq
                if r0 + s * dr < 0.0:
                    continue
                if s < 0.0:
                    s = 0.0
                elif s > 1.0:
                    s = 1.0
                v = (
                    eval_shading_fn(fn, s)
                    if fn is not None
                    else c0 + (s ** nexp) * (c1 - c0)
                )
                g = int(round(v * 255.0))
                canvas[yy, px] = 0 if g < 0 else (255 if g > 255 else g)


def _paint_word_outlines(canvas: np.ndarray, text: str, rect, glyphs) -> None:
    """Real glyph rendering: each character's Type2 outline (from the
    document's embedded CFF font program) scales into its metric share of
    the word bbox and scanline-fills black. Characters without an outline
    fall back to their glyph cell. Kerned TJ adjustments inside a merged
    word distribute proportionally across the glyph advances (documented
    divergence from pdfium's exact pen placement)."""
    x0, y0, x1, y1 = rect
    w_px, h_px = x1 - x0, y1 - y0
    if w_px <= 0 or h_px <= 0 or not text:
        return
    widths = [glyphs[ch][0] if ch in glyphs else None for ch in text]
    # metric share: missing glyphs get the mean width of the present ones
    present = [w for w in widths if w]
    fallback_w = (sum(present) / len(present)) if present else 500.0
    widths = [w if w else fallback_w for w in widths]
    total = sum(widths) or 1.0
    sx = w_px / total
    sy = h_px / (_EM_ASC - _EM_DESC)
    pen = 0.0
    for ch, adv in zip(text, widths):
        gx0 = x0 + pen * sx
        if ch in glyphs:
            contours = [
                [(gx0 + px * sx, y0 + (_EM_ASC - py) * sy) for px, py in c]
                for c in glyphs[ch][1]
            ]
            fill_contours(canvas, contours, 0)
        else:
            cx0 = max(x0, int(math.floor(gx0)))
            cx1 = min(x1, int(math.ceil(gx0 + adv * sx)))
            if cx1 > cx0:
                canvas[y0:y1, cx0:cx1] = _glyph_intensity(ch)
        pen += adv


def flatten_cubic(p0, p1, p2, p3, steps: int = 16) -> List[Tuple[float, float]]:
    """Cubic Bezier -> fixed-step polyline (excludes p0, includes p3).
    Shared by the content-stream interpreter and the generator-side raster
    oracle so both flatten identically (deterministic IEEE order)."""
    out = []
    for i in range(1, steps + 1):
        t = i / steps
        mt = 1.0 - t
        a = mt * mt * mt
        b = 3.0 * mt * mt * t
        c = 3.0 * mt * t * t
        d = t * t * t
        out.append(
            (
                a * p0[0] + b * p1[0] + c * p2[0] + d * p3[0],
                a * p0[1] + b * p1[1] + c * p2[1] + d * p3[1],
            )
        )
    return out


def _stroke_quads(contour, lw: float, closed: bool) -> List[List[Tuple[float, float]]]:
    """Polyline -> one lw-wide quad per segment (butt caps, no joins —
    overlap at corners re-paints the same gray, so fills are idempotent).
    Exact for the axis-aligned rules/frames real documents draw."""
    quads = []
    n = len(contour)
    m = n if closed else n - 1
    half = lw / 2.0
    for i in range(m):
        x0, y0 = contour[i]
        x1, y1 = contour[(i + 1) % n]
        dx, dy = x1 - x0, y1 - y0
        ln = math.hypot(dx, dy)
        if ln <= 0:
            continue
        nx, ny = -dy / ln * half, dx / ln * half
        quads.append(
            [
                (x0 + nx, y0 + ny),
                (x1 + nx, y1 + ny),
                (x1 - nx, y1 - ny),
                (x0 - nx, y0 - ny),
            ]
        )
    return quads


def _dash_polylines(contour, closed: bool, dash, phase: float):
    """Split one polyline into its ON-run sub-polylines per the dash
    pattern (§8.4.3.6): walk segment lengths, alternating through the
    (cyclic) on/off array starting ``phase`` units in. Degenerate
    patterns (all zeros) fall back to solid."""
    total = sum(dash)
    if total <= 0.0:
        yield contour, closed
        return
    pts = list(contour) + ([contour[0]] if closed else [])
    # position within the cyclic pattern
    k = 0
    rem = phase % total
    while rem >= dash[k]:
        rem -= dash[k]
        k = (k + 1) % len(dash)
    left = dash[k] - rem  # distance left in the current run
    on = k % 2 == 0
    cur: list = [pts[0]] if on else []
    for i in range(len(pts) - 1):
        (x0, y0), (x1, y1) = pts[i], pts[i + 1]
        seg = math.hypot(x1 - x0, y1 - y0)
        done = 0.0
        while seg - done > left:
            done += left
            t = done / seg
            px, py = x0 + (x1 - x0) * t, y0 + (y1 - y0) * t
            if on:
                cur.append((px, py))
                if len(cur) >= 2:
                    yield cur, False
                cur = []
            else:
                cur = [(px, py)]
            k = (k + 1) % len(dash)
            left = dash[k]
            on = not on
        left -= seg - done
        if on:
            cur.append((x1, y1))
    if on and len(cur) >= 2:
        yield cur, False


def paint_vectors(
    canvas: np.ndarray, vectors: List[dict], page_h: float, scale: float
) -> None:
    """Paint parsed vector path objects (device points, y-up) onto the
    raster. ``fill`` scanline-fills even-odd; ``stroke`` expands each
    segment to a line-width quad; ``fillstroke`` does both."""
    for v in vectors:
        gray = int(v.get("gray", 0))
        pix = [
            [(x * scale, (page_h - y) * scale) for x, y in c]
            for c in v["contours"]
            if len(c) >= 2
        ]
        paint = v.get("paint", "fill")
        closed = v.get("closed")
        if paint == "shade":
            (axu, ayu), (bxu, byu) = v["coords"]
            _shade_axial(
                canvas,
                [c for c in pix if len(c) >= 3],
                (axu * scale, (page_h - ayu) * scale),
                (bxu * scale, (page_h - byu) * scale),
                v.get("c0", 0.0), v.get("c1", 1.0), v.get("n", 1.0),
                fn=v.get("fn"),
            )
        elif paint == "shade3":
            (cx0, cy0, r0), (cx1, cy1, r1) = v["coords"]
            _shade_radial(
                canvas,
                [c for c in pix if len(c) >= 3],
                (cx0 * scale, (page_h - cy0) * scale, r0 * scale),
                (cx1 * scale, (page_h - cy1) * scale, r1 * scale),
                v.get("c0", 0.0), v.get("c1", 1.0), v.get("n", 1.0),
                fn=v.get("fn"),
            )
        elif paint == "fill":
            fill_contours(
                canvas, [c for c in pix if len(c) >= 3], gray,
                alpha=float(v.get("alpha", 1.0)), blend=v.get("blend"),
            )
        elif paint == "stroke":
            lw_px = max(float(v.get("lw", 1.0)) * scale, 1.0)
            a = float(v.get("alpha", 1.0))
            bm = v.get("blend")
            dash = v.get("dash")
            for i, c in enumerate(pix):
                cl = closed[i] if isinstance(closed, (list, tuple)) else bool(closed)
                if dash:
                    # §8.4.3.6: stroke only the ON runs; dash lengths are
                    # user-space and scale with the raster like lw
                    for sub, scl in _dash_polylines(
                        c, cl, [d * scale for d in dash],
                        float(v.get("dash_phase", 0.0)) * scale,
                    ):
                        for quad in _stroke_quads(sub, lw_px, scl):
                            fill_contours(
                                canvas, [quad], gray, alpha=a, blend=bm
                            )
                else:
                    for quad in _stroke_quads(c, lw_px, cl):
                        fill_contours(canvas, [quad], gray, alpha=a, blend=bm)


def render_page(
    words: List[dict],
    images: List[dict],
    page_w: float = 612.0,
    page_h: float = 792.0,
    dpi: int = DEFAULT_DPI,
    glyphs: Optional[dict] = None,
    vectors: Optional[List[dict]] = None,
    paint_text: bool = True,
) -> np.ndarray:
    """Render one page to a gray8 raster at ``scale = dpi / 72`` (the
    reference's pdfium scale contract, schema/document.py rasterize path).

    ``words``: layout word dicts ``{text, bbox}`` (normalized bboxes, the
    shape :func:`kernels.build_page_layout` emits per line).
    ``images``: ``{bbox, pixels: np.ndarray}`` placement entries.
    ``vectors``: parsed path objects (:func:`paint_vectors` shape).
    Paint order is images, then vector graphics, then text — matching the
    corpus content streams (images by earlier ``Do`` ops, path painting
    before the ``BT`` block).
    """
    width_px = max(1, int(round(page_w * dpi / 72.0)))
    height_px = max(1, int(round(page_h * dpi / 72.0)))
    canvas = np.full((height_px, width_px), 255, dtype=np.uint8)
    for im in images:
        _paint_image(
            canvas, im["pixels"], rect_px(im["bbox"], width_px, height_px),
            stencil=bool(im.get("stencil")), alpha=im.get("alpha"),
        )
    if vectors:
        paint_vectors(canvas, vectors, page_h, dpi / 72.0)
    if not paint_text:
        # invisible text layer (Tr 3 — the OCR overlay of scanned PDFs):
        # words exist for extraction/masking but leave no ink
        return canvas
    for wd in words:
        rect = rect_px(wd["bbox"], width_px, height_px)
        if glyphs:
            _paint_word_outlines(canvas, wd["text"], rect, glyphs)
        else:
            _paint_word(canvas, wd["text"], rect)
    return canvas


def mask_bboxes(
    canvas: np.ndarray, bboxes: List[Sequence[float]], value: int = 0
) -> np.ndarray:
    """Copy of ``canvas`` with every normalized bbox filled with ``value``
    — the reference's ``mask_image_from_bboxes`` (rasterize.py:232-266)
    with a gray level instead of a PIL color name."""
    out = canvas.copy()
    height_px, width_px = out.shape
    for bbox in bboxes:
        x0, y0, x1, y1 = rect_px(bbox, width_px, height_px)
        out[y0:y1, x0:x1] = value
    return out


def layout_words(layout: dict) -> List[dict]:
    """Flatten a ``build_page_layout`` result to its word dicts."""
    return [w for ln in layout["lines"] for w in ln["words"]]


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

RASTER_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("page_number", IntegerType(), False),
        StructField("w_px", IntegerType(), False),
        StructField("h_px", IntegerType(), False),
        StructField("raster_md5", StringType(), False),
        StructField("n_images", IntegerType(), False),
        StructField("masked_md5", StringType(), False),
        StructField("n_masked", IntegerType(), False),
    ]
)


def _render_kernel(dpi: int):
    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from docprompt_spark import kernels, multimodal, pdfparse
        from docprompt_spark.pipeline import page_ranges
        from docprompt_spark.shipping import pin_zip_importers

        pin_zip_importers()
        for batch in batches:
            rows = []
            for doc_id, blob, lo, hi in page_ranges(batch):
                pf = pdfparse.PdfFile(blob)
                glyphs = pf.glyph_outline_pool()  # embedded CFF outlines
                hi = pf.page_count if hi is None else min(hi, pf.page_count)
                pages = []
                for i in range(lo, hi):
                    pg = pf.extract_page(i, with_image_data=True)
                    pg["page_number"] = i + 1
                    pages.append(pg)
                for p in pages:
                    imgs = []
                    for im in p["images"]:
                        try:
                            px = multimodal.decode_image(
                                bytes(im["payload"]), im["px_w"], im["px_h"],
                                im["codec"], palette=im.get("palette"),
                            )
                        except Exception:
                            continue  # undecodable: skip, don't fail the task
                        alpha = None
                        if im.get("smask_payload") is not None:
                            try:
                                alpha = multimodal.decode_image(
                                    bytes(im["smask_payload"]),
                                    im["smask_w"], im["smask_h"],
                                    im["smask_codec"],
                                )
                            except Exception:
                                alpha = None  # bad mask: paint opaque
                        imgs.append(
                            {
                                "bbox": im["bbox"],
                                "pixels": px,
                                "stencil": multimodal.is_stencil(im["codec"]),
                                "alpha": alpha,
                            }
                        )
                    layout = kernels.build_page_layout(p["words"])
                    wds = layout_words(layout)
                    # scanned-profile pages: every shown word carried Tr 3
                    # (invisible OCR layer) — extract + mask, don't paint
                    visible = not (
                        p["words"] and all(w.get("inv") for w in p["words"])
                    )
                    canvas = render_page(
                        wds, imgs, p["width"], p["height"], dpi=dpi,
                        glyphs=glyphs, vectors=p.get("vectors"),
                        paint_text=visible,
                    )
                    masked = mask_bboxes(canvas, [w["bbox"] for w in wds])
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "page_number": p["page_number"],
                            "w_px": canvas.shape[1],
                            "h_px": canvas.shape[0],
                            "raster_md5": hashlib.md5(canvas.tobytes()).hexdigest(),
                            "n_images": len(imgs),
                            "masked_md5": hashlib.md5(masked.tobytes()).hexdigest(),
                            "n_masked": len(wds),
                        }
                    )
            if rows:
                yield pd.DataFrame(rows)

    return fn


def page_raster_table(docs_df: DataFrame, dpi: int = DEFAULT_DPI) -> DataFrame:
    """(doc_id, pdf, n_pages) -> per-page raster digests, rendered in the
    same ``mapInPandas`` shape as the text parse and routed by
    pipeline.skew_route: whole small docs narrow, page buckets of the skew
    tail repartitioned. The render kernel parses through ``PdfFile``
    itself, with image data and the embedded glyph pool. One pass over the
    bytes; only digests leave the kernel."""
    from docprompt_spark import pipeline

    return pipeline._route_and_map(docs_df, _render_kernel(dpi), RASTER_SCHEMA)
