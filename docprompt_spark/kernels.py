"""Deterministic layout kernels shared by the corpus generator, the
single-threaded oracle, and the Spark (Arrow/pandas UDF) pipeline.

These reimplement — from scratch, in plain Python on small per-page inputs —
the reading-order / line-clustering semantics of the reference library
(docprompt/Docprompt):

* line clustering:   /root/reference/docprompt/utils/layout.py:113-165
  (``cluster_words_into_lines``: stable sort by (top, left), greedy break when
  the y-overlap ratio with the *previous word in the current line* is < 0.5,
  then re-sort each line by left edge)
* margin regularization: /root/reference/docprompt/utils/layout.py:9-64
  (``_normalize_block_edges``: sort by x0, cluster within 0.001, clusters of
  >= 4 get their mean x0)
* page text rendering: /root/reference/docprompt/utils/layout.py:191-320
  (``_construct_word_line`` space-padding arithmetic and
  ``build_layout_aware_page_representation`` newline counts)
* bbox algebra + 5-decimal rounding contract:
  /root/reference/docprompt/schema/layout.py:10-13,24-188

The same functions run inside ``mapInPandas`` batches (one call per page —
pages are small, batches are large; Arrow amortizes the boundary) and in the
oracle, which guarantees bit-identical output across both paths.
"""

from __future__ import annotations

from operator import itemgetter
from typing import Dict, List, Optional, Sequence, Tuple

# ---------------------------------------------------------------------------
# Numeric contract
# ---------------------------------------------------------------------------

PAGE_SEPARATOR = "\f"  # joins page texts into document text

# Our derived block rule (the reference takes block segmentation from the OCR
# provider; we derive it): a new block starts when the vertical gap between
# consecutive line clusters exceeds BLOCK_GAP_RATIO * average line height.
BLOCK_GAP_RATIO = 1.5


def round5(x: float) -> float:
    """5-decimal rounding contract (reference layout.py:10-13)."""
    return round(x, 5)


# ---------------------------------------------------------------------------
# Geometry: PDF user space -> normalized [0,1] page space
# ---------------------------------------------------------------------------


def norm_word_bbox(
    x: float,
    baseline: float,
    width: float,
    size: float,
    ascent_pm: float,
    descent_pm: float,
    page_w: float,
    page_h: float,
) -> Tuple[float, float, float, float]:
    """Normalized (x0, top, x1, bottom) for a glyph run.

    ``ascent_pm``/``descent_pm`` are font-descriptor values in 1/1000 text
    units (descent negative, PDF convention). Top-left origin normalization,
    matching the reference NormBBox convention (layout.py:24-36).
    """
    asc = size * ascent_pm / 1000.0
    desc = size * descent_pm / 1000.0  # negative
    return (
        round(x / page_w, 5),
        round((page_h - (baseline + asc)) / page_h, 5),
        round((x + width) / page_w, 5),
        round((page_h - (baseline + desc)) / page_h, 5),
    )


def norm_rect_bbox(
    x: float, y: float, w: float, h: float, page_w: float, page_h: float
) -> Tuple[float, float, float, float]:
    """Normalized bbox for an axis-aligned placed rectangle (image CTM)."""
    return (
        round5(x / page_w),
        round5((page_h - (y + h)) / page_h),
        round5((x + w) / page_w),
        round5((page_h - y) / page_h),
    )


# ---------------------------------------------------------------------------
# bbox algebra (reference layout.py:64-188). Boxes are 4-tuples
# (x0, top, x1, bottom).
# ---------------------------------------------------------------------------


def bbox_intersection(a, b):
    """layout.py:64-78 — returns None when there is no valid intersection."""
    nx0, nt = max(a[0], b[0]), max(a[1], b[1])
    nx1, nb = min(a[2], b[2]), min(a[3], b[3])
    if nx0 <= nx1 and nt <= nb:
        return (nx0, nt, nx1, nb)
    return None


def bbox_union(a, b):
    """layout.py:80-89."""
    return (min(a[0], b[0]), min(a[1], b[1]), max(a[2], b[2]), max(a[3], b[3]))


def bbox_contains(outer, inner) -> bool:
    """Non-strict containment (layout.py:91-97)."""
    return (
        outer[0] <= inner[0]
        and outer[1] <= inner[1]
        and outer[2] >= inner[2]
        and outer[3] >= inner[3]
    )


def bbox_area(a) -> float:
    return (a[2] - a[0]) * (a[3] - a[1])


def bbox_iou(a, b) -> float:
    """layout.py:99-111 — 0 on no intersection."""
    inter = bbox_intersection(a, b)
    if inter is None:
        return 0.0
    ia = bbox_area(inter)
    ua = bbox_area(a) + bbox_area(b) - ia
    return ia / ua


def bbox_x_overlap(a, b) -> float:
    """Absolute x overlap length, not a ratio (layout.py:113-117 as-is)."""
    return max(0.0, min(a[2], b[2]) - max(a[0], b[0]))


def bbox_y_overlap(a, b) -> float:
    """Absolute y overlap length (layout.py:119-123 as-is)."""
    return max(0.0, min(a[3], b[3]) - max(a[1], b[1]))


def bbox_combine(bboxes) -> Tuple[float, float, float, float]:
    """n-ary union fold (layout.py:125-140)."""
    bboxes = list(bboxes)
    if not bboxes:
        raise ValueError("Must provide at least one bounding box")
    out = bboxes[0]
    for b in bboxes[1:]:
        out = bbox_union(out, b)
    return out


# ---------------------------------------------------------------------------
# Words. A "word" is a dict: {text: str, x0, top, x1, bottom: float}.
# ---------------------------------------------------------------------------


def normalize_block_edges(
    words: List[dict], tolerance: float = 0.001, min_cluster_size: int = 4
) -> List[dict]:
    """Left-margin regularization (reference utils/layout.py:9-64).

    Sort by x0 (stable), cluster adjacent within ``tolerance``, clusters of
    >= ``min_cluster_size`` get x0 := cluster mean. Returns new dicts in the
    original order.
    """
    out = [dict(w) for w in words]
    if not out:
        return out
    indexed = sorted(range(len(out)), key=lambda i: out[i]["x0"])
    clusters: List[List[int]] = []
    cluster = [indexed[0]]
    for k in range(1, len(indexed)):
        prev = out[indexed[k - 1]]
        curr = out[indexed[k]]
        if abs(curr["x0"] - prev["x0"]) <= tolerance:
            cluster.append(indexed[k])
        else:
            clusters.append(cluster)
            cluster = [indexed[k]]
    clusters.append(cluster)
    for cl in clusters:
        if len(cl) < min_cluster_size:
            continue
        avg_x0 = sum(out[i]["x0"] for i in cl) / len(cl)
        for i in cl:
            out[i]["x0"] = avg_x0
    return out


def word_line_clusters_from_line_blocks(
    words: List[dict],
    line_blocks: List[dict],
    min_line_confidence: float = 0.3,
) -> List[List[dict]]:
    """Provider-line word clustering (reference utils/layout.py:67-110, J1).

    Line blocks with confidence >= ``min_line_confidence`` (P3 filter,
    layout.py:81-85; a missing/None confidence counts as trusted) act as
    anchors; each word goes to the line block with the highest vertical
    overlap (strict ``>`` so zero overlap never matches — words overlapping
    no line are dropped, as in the reference). Output clusters keep word
    input order (the reference does NOT re-sort within a line on this path)
    and are ordered by the first member word's top edge (layout.py:110).

    Validated char-for-char against the reference's own fixture goldens in
    tests/test_ref_fixture_parity.py (page 1 == 4786 chars).
    """
    filtered = [
        (idx, lb)
        for idx, lb in enumerate(line_blocks)
        if (lb.get("confidence") is None or lb["confidence"] >= min_line_confidence)
    ]
    line_to_words: Dict[int, List[dict]] = {}
    for w in words:
        best_overlap = 0.0
        best_idx = None
        for idx, lb in filtered:
            overlap = min(w["bottom"], lb["bottom"]) - max(w["top"], lb["top"])
            if overlap > best_overlap:
                best_overlap = overlap
                best_idx = idx
        if best_idx is not None:
            line_to_words.setdefault(best_idx, []).append(w)
    return sorted(line_to_words.values(), key=lambda ws: ws[0]["top"])


def cluster_words_into_lines(
    words: List[dict], minimum_y_overlap_threshold: float = 0.5
) -> List[List[dict]]:
    """Greedy line clustering (reference utils/layout.py:113-165).

    Stable-sort by (top, x0); break when y-overlap ratio vs the last word in
    the current line is below the threshold; re-sort each line by x0 (stable).
    """
    lines: List[List[dict]] = []
    current: List[dict] = []
    lt = lb = 0.0  # top and bottom of the last word of ``current``
    # min(a, b) / max(a, b) spelled out as conditionals that pick the same
    # operand the builtins do
    for w in sorted(words, key=_TOP_X0):
        t, b = w["top"], w["bottom"]
        if current:
            overlap = (lb if lb < b else b) - (lt if lt > t else t)
            total = (lb if lb > b else b) - (lt if lt < t else t)
            ratio = overlap / total if total else 0.0
            if ratio >= minimum_y_overlap_threshold:
                current.append(w)
            else:
                lines.append(current)
                current = [w]
        else:
            current.append(w)
        lt, lb = t, b
    if current:
        lines.append(current)
    for line in lines:
        line.sort(key=_X0)
    return lines


_TOP_X0 = itemgetter("top", "x0")
_X0 = itemgetter("x0")


def _mean(values: Sequence[float]) -> float:
    return sum(values) / len(values)


def construct_word_line(
    words: List[dict],
    x_density: float = 0.01,
    include_extra_space: bool = False,
    x_shift: float = 0.0,
) -> Tuple[str, List[int]]:
    """Space-padded line text (reference utils/layout.py:191-224) plus the
    char offset of each word's first character within the line string.

    Python banker's ``round`` is intentional — the reference uses it
    (layout.py:220) and both our oracle and UDF paths share this function.
    """
    pieces: List[str] = []
    starts: List[int] = []
    n = 0  # length of the line so far
    min_spaces = 1 if include_extra_space else 0
    for w in words:
        cleaned = w["text"].replace("\n", " ")
        num_spaces = int(round((w["x0"] - x_shift) / x_density)) - n
        floor = min_spaces if min_spaces < n else n
        if num_spaces < floor:
            num_spaces = floor
        if num_spaces > 0:
            pieces.append(" " * num_spaces)
            n += num_spaces
        starts.append(n)
        pieces.append(cleaned)
        n += len(cleaned)
    return "".join(pieces), starts


def build_page_layout(
    words: List[dict],
    *,
    line_blocks: Optional[List[dict]] = None,
    regularize_left_margin: bool = False,
    x_density: float = 0.01,
    do_left_shift: bool = True,
    include_extra_space: bool = False,
) -> dict:
    """Layout-aware page representation with offsets and derived hierarchy.

    Reproduces ``build_layout_aware_page_representation``
    (reference utils/layout.py:227-320) — newline counts
    ``max(min(round(dy/avg_line_height), 4), 1)``, left shift = min x0 —
    and additionally records, for span emission:

    * per-word char offsets within the page text,
    * per-line (text, offset, bbox),
    * derived blocks: consecutive lines grouped until the vertical gap
      exceeds ``BLOCK_GAP_RATIO * average_line_height``.

    Returns {"page_text", "lines", "blocks"} where
    ``lines[i] = {text, start, bbox, words: [{text, start, bbox}]}`` and
    ``blocks[j] = {start, end, bbox, line_idx: [..]}``.
    """
    words = [w for w in words if w.get("direction") in (None, "UP")]
    if not words:
        return {"page_text": "", "lines": [], "blocks": []}
    if regularize_left_margin:
        words = normalize_block_edges(words)

    # Provider-lines path (J1, reference layout.py:294-297): when line blocks
    # are supplied, cluster on max vertical overlap with them instead of the
    # greedy fallback. Note x_shift / average-line-height still derive from
    # the full word set (words a cluster drops still count toward x_shift).
    if line_blocks:
        line_clusters = word_line_clusters_from_line_blocks(words, line_blocks)
        if not line_clusters:
            return {"page_text": "", "lines": [], "blocks": []}
    else:
        line_clusters = cluster_words_into_lines(words)

    # per line: the words' edges, in cluster order
    edges = [
        ([w["x0"] for w in lw], [w["top"] for w in lw], [w["x1"] for w in lw],
         [w["bottom"] for w in lw])
        for lw in line_clusters
    ]
    line_heights = [
        _mean([abs(b - t) for t, b in zip(tops, bottoms)]) if tops else 0.0
        for _x0s, tops, _x1s, bottoms in edges
    ]
    average_line_height = _mean(line_heights) or 0.02

    x_shift = min(w["x0"] for w in words) if do_left_shift else 0.0

    pieces: List[str] = []
    pos = 0
    top_line = 0.0
    lines_out: List[dict] = []
    for i, (lw, (x0s, tops, x1s, bottoms)) in enumerate(zip(line_clusters, edges)):
        line_distance = int(round((_mean(tops) - top_line) / average_line_height))
        if i:
            num_newlines = 1 if line_distance < 1 else (4 if line_distance > 4 else line_distance)
            pieces.append("\n" * num_newlines)
            pos += num_newlines

        text, starts = construct_word_line(
            lw,
            x_density=x_density,
            include_extra_space=include_extra_space,
            x_shift=x_shift,
        )
        # the words' extreme edges: builtin min/max pick the same operands
        # as bbox_combine's pairwise fold, so the bbox is bit-identical
        top, bottom = min(tops), max(bottoms)
        lines_out.append(
            {
                "text": text,
                "start": pos,
                "bbox": (round(min(x0s), 5), round(top, 5), round(max(x1s), 5), round(bottom, 5)),
                "top": top,
                "bottom": bottom,
                "words": [
                    {
                        "text": w["text"].replace("\n", " "),
                        "start": pos + s,
                        "bbox": (x0, t, x1, b),
                    }
                    for w, s, x0, t, x1, b in zip(lw, starts, x0s, tops, x1s, bottoms)
                ],
            }
        )
        pieces.append(text)
        pos += len(text)
        top_line = _mean(bottoms)

    page_text = "".join(pieces)

    # Derived block segmentation (ours; the reference gets blocks from the
    # OCR provider — tasks/ocr/result.py:14-28).
    blocks_out: List[dict] = []
    cur: List[int] = []
    for i, ln in enumerate(lines_out):
        if cur and (ln["top"] - lines_out[i - 1]["bottom"]) > (
            BLOCK_GAP_RATIO * average_line_height
        ):
            blocks_out.append(cur)
            cur = []
        cur.append(i)
    if cur:
        blocks_out.append(cur)

    blocks = []
    for idxs in blocks_out:
        first, last = lines_out[idxs[0]], lines_out[idxs[-1]]
        bbox = bbox_combine([lines_out[i]["bbox"] for i in idxs])
        blocks.append(
            {
                "start": first["start"],
                "end": last["start"] + len(last["text"]),
                "bbox": tuple(round5(v) for v in bbox),
                "line_idx": list(idxs),
            }
        )
    return {"page_text": page_text, "lines": lines_out, "blocks": blocks}


# ---------------------------------------------------------------------------
# Span assembly (the north-rule output contract)
# ---------------------------------------------------------------------------


def assemble_page_spans(layout: dict, images: List[dict]) -> List[dict]:
    """Ordered span sequence for one page.

    Interleaves derived blocks and media items by reading order (top, x0) —
    the reference's reading-order sort (provenance/search.py:133,156). Per
    block emits: block span, then per line: line span, then word spans.
    Media spans carry ``media_ref`` and the char offset of the end of the
    preceding text block (0 if none).

    ``images``: [{media_ref, bbox: (x0, top, x1, bottom)}]. Offsets here are
    page-local; the caller adds the document-level page offset.
    """
    page_text = layout["page_text"]
    items: List[Tuple[Tuple[float, float], str, object]] = []
    for b in layout["blocks"]:
        items.append(((b["bbox"][1], b["bbox"][0]), "block", b))
    for im in images:
        items.append(((im["bbox"][1], im["bbox"][0]), "media", im))
    items.sort(key=lambda t: t[0])

    spans: List[dict] = []
    last_text_end = 0
    for _, kind, obj in items:
        if kind == "block":
            b = obj
            spans.append(
                {
                    "kind": "block",
                    "text": page_text[b["start"] : b["end"]],
                    "media_ref": None,
                    "offset": b["start"],
                }
            )
            for li in b["line_idx"]:
                ln = layout["lines"][li]
                spans.append(
                    {
                        "kind": "line",
                        "text": ln["text"],
                        "media_ref": None,
                        "offset": ln["start"],
                    }
                )
                for w in ln["words"]:
                    spans.append(
                        {
                            "kind": "word",
                            "text": w["text"],
                            "media_ref": None,
                            "offset": w["start"],
                        }
                    )
            last_text_end = b["end"]
        else:
            spans.append(
                {
                    "kind": "media",
                    "text": None,
                    "media_ref": obj["media_ref"],
                    "offset": last_text_end,
                }
            )
    return spans


# ---------------------------------------------------------------------------
# Provenance refinement (reference provenance/util.py:91-185, D19) —
# from-scratch: indel-ratio fuzzy matching (rapidfuzz-equivalent definition)
# and a DAG shortest path with squared-jump weights, no external libs.
# ---------------------------------------------------------------------------

import re as _re

_NON_ALNUM = _re.compile(r"[^a-z0-9]+")


def default_process(s: str) -> str:
    """rapidfuzz ``default_process`` equivalent: lowercase, non-alphanumeric
    → space, trim."""
    return _NON_ALNUM.sub(" ", s.lower()).strip()


def fuzz_ratio(a: str, b: str) -> float:
    """Normalized indel similarity ×100 (the ``fuzz.ratio`` definition):
    100 * 2*LCS(a,b) / (len(a)+len(b))."""
    la, lb = len(a), len(b)
    if la == 0 and lb == 0:
        return 100.0
    if la == 0 or lb == 0:
        return 0.0
    prev = [0] * (lb + 1)
    for i in range(1, la + 1):
        cur = [0] * (lb + 1)
        ca = a[i - 1]
        for j in range(1, lb + 1):
            if ca == b[j - 1]:
                cur[j] = prev[j - 1] + 1
            else:
                cur[j] = cur[j - 1] if cur[j - 1] >= prev[j] else prev[j]
        prev = cur
    return 100.0 * (2.0 * prev[lb]) / (la + lb)


def _dag_shortest_path(edges: Dict[int, List[int]], start: int, end: int):
    """Shortest path on an increasing-index DAG with weight (j-i)^2."""
    import heapq

    dist = {start: 0.0}
    prev: Dict[int, int] = {}
    heap = [(0.0, start)]
    while heap:
        d, u = heapq.heappop(heap)
        if u == end:
            path = [end]
            while path[-1] != start:
                path.append(prev[path[-1]])
            return path[::-1]
        if d > dist.get(u, float("inf")):
            continue
        for v in edges.get(u, ()):
            nd = d + (v - u) ** 2
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                prev[v] = u
                heapq.heappush(heap, (nd, v))
    return None


def refine_query_to_word_level(
    words: List[dict], query: str, min_ratio: float = 87.5
) -> Optional[Tuple[dict, List[dict]]]:
    """Word-level span for ``query`` (reference refine_block_to_word_level,
    provenance/util.py:91-185): fuzzy-match tokens to words (>87.5 ratio),
    build an increasing-index DAG between consecutive-token matches with
    weight (idx gap)^2, take the shortest first→last path, merge path words
    (bbox union + space-joined text)."""
    ws = sorted(words, key=lambda w: (w["top"], w["x0"]))
    tokens = [t for t in _re.split(r"\s+", query) if t]
    if not tokens:
        return None
    if len(tokens) == 1:
        fq = default_process(tokens[0])
        for w in ws:
            if fuzz_ratio(fq, default_process(w["text"])) > min_ratio:
                return w, [w]
        return None

    fuzzed = [default_process(w["text"]) for w in ws]
    token_blocks: Dict[str, set] = {}
    for tok in tokens:
        ft = default_process(tok)
        token_blocks.setdefault(tok, set())
        for i, fw in enumerate(fuzzed):
            if fuzz_ratio(ft, fw) > min_ratio:
                token_blocks[tok].add(i)

    edges: Dict[int, List[int]] = {}
    prev_tok = tokens[0]
    for tok in tokens[1:]:
        for pb in token_blocks[prev_tok]:
            for b in sorted(token_blocks[tok]):
                if b > pb:
                    edges.setdefault(pb, []).append(b)
        prev_tok = tok

    firsts, lasts = token_blocks[tokens[0]], token_blocks[tokens[-1]]
    combos = sorted(
        [(x, y) for x in firsts for y in lasts if x < y], key=lambda p: abs(p[1] - p[0])
    )
    for start, end in combos:
        path = _dag_shortest_path(edges, start, end)
        if path is None:
            continue
        matched = [ws[i] for i in path]
        bbox = bbox_combine([(w["x0"], w["top"], w["x1"], w["bottom"]) for w in matched])
        text = ""
        for w in matched:
            text += w["text"]
            if not w["text"].endswith(" "):
                text += " "
        merged = {
            "text": text,
            "x0": bbox[0],
            "top": bbox[1],
            "x1": bbox[2],
            "bottom": bbox[3],
        }
        return merged, matched
    return None


def assemble_doc_spans(page_results: List[dict]) -> List[dict]:
    """Document span sequence from per-page results.

    ``page_results``: [{page_number, page_text, spans: [page-local spans]}]
    sorted here by page_number. Document text = page texts joined by
    PAGE_SEPARATOR; offsets become document-level.
    """
    out: List[dict] = []
    offset = 0
    for pr in sorted(page_results, key=lambda p: p["page_number"]):
        for s in pr["spans"]:
            out.append(
                {
                    "kind": s["kind"],
                    "text": s["text"],
                    "media_ref": s["media_ref"],
                    "offset": s["offset"] + offset,
                }
            )
        offset += len(pr["page_text"]) + len(PAGE_SEPARATOR)
    return out
