"""Segmentation — tokens → segments (SURVEY.md §2.3 J1/J2, §2.5 W3/W4, §2.4 A4/A5).

Reference analogue: ``PdfData.from_xml_file(xml_file, segmentation_data,
page_numbers)`` grouping tokens by intersection with client-supplied
``xml_segments_boxes`` and clustering the rest by proximity (call site
/root/reference/src/use_cases/SampleProcessorUseCase.py:30-38; multi-box
segment output pinned src/tests/test_end_to_end.py:187-192; the 7
LIST_ITEM lines → one paragraph behavior pinned
src/tests/test_end_to_end_paragraph_extractor.py:98-104).

Semantics (locked by our golden tests):
1. Reading order = (page, top, left) — W3.
2. A token inside a provided segment box joins that box's segment; the
   box's ``segment_type`` is the segment's type — J1.
3. Remaining tokens cluster by proximity: union-find where two tokens
   connect if they share a page, their x-ranges overlap (same column)
   and the vertical gap ≤ max(1.5×min height, 6pt), or they sit on the
   same visual line with a small horizontal gap — W4 sessionization.
4. Segment text = whitespace-normalized token concat (A4, byte-stable);
   empty segments dropped.
5. Segment boxes = one union bbox per visual line (A5 — segments may
   carry several boxes, like the reference's 2-box suggestion).
6. ``is_label`` = any member token intersects a (×0.75-ingested) label
   box — J2.

Spark shape: the kernel is document-local, so it runs inside the same
Arrow batch as extraction (plans/pipeline.py) — **zero shuffle**.
"""

from __future__ import annotations

from pdf_metadata_extraction_spark.operators.boxes import boxes_intersect
from pdf_metadata_extraction_spark.operators.extract import tokens_to_text

V_GAP_MIN = 6.0
V_GAP_FACTOR = 1.5
H_GAP_SAMELINE = 18.0
LINE_TOP_TOL = 3.0

TITLE_FONT_FACTOR = 1.4


class _UF:
    def __init__(self, n: int) -> None:
        self.p = list(range(n))

    def find(self, x: int) -> int:
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # deterministic: smaller root wins
            if ra < rb:
                self.p[rb] = ra
            else:
                self.p[ra] = rb


def _token_in_box(tok: dict, box: dict) -> bool:
    if int(tok["page"]) != int(box.get("page_number") or 0):
        return False
    return boxes_intersect(
        tok["left"], tok["top"], tok["width"], tok["height"],
        box["left"], box["top"], box["width"], box["height"],
    )


def _token_center_in_box(tok: dict, box: dict) -> bool:
    """Stricter predicate for label marking (J2): the token's center must
    fall inside the box — edge-touch overlap is not a label hit (matches
    the reference behavior where the browser-px→pt scaled label box that
    merely grazes a token does not select its segment)."""
    if int(tok["page"]) != int(box.get("page_number") or 0):
        return False
    cx = tok["left"] + tok["width"] / 2.0
    cy = tok["top"] + tok["height"] / 2.0
    return (
        box["left"] <= cx <= box["left"] + box["width"]
        and box["top"] <= cy <= box["top"] + box["height"]
    )


def _line_boxes(members: list[dict], page_dims: tuple[float, float]) -> list[dict]:
    """One union bbox per visual line (A5)."""
    lines: list[list[dict]] = []
    for tok in sorted(members, key=lambda t: (t["top"], t["left"])):
        if lines and abs(tok["top"] - lines[-1][0]["top"]) <= LINE_TOP_TOL:
            lines[-1].append(tok)
        else:
            lines.append([tok])
    boxes = []
    for line in lines:
        if not any((t["text"] or "").strip() for t in line):
            continue
        left = min(t["left"] for t in line)
        top = min(t["top"] for t in line)
        right = max(t["left"] + t["width"] for t in line)
        bottom = max(t["top"] + t["height"] for t in line)
        boxes.append(
            {
                "left": left,
                "top": top,
                "width": right - left,
                "height": bottom - top,
                "page_width": page_dims[0],
                "page_height": page_dims[1],
                "page_number": int(line[0]["page"]),
                "segment_type": None,
            }
        )
    return boxes


def _proximity_clusters_py(tokens: list[dict]) -> list[list[int]]:
    """Reference (pure-Python) pair scan — kept as the semantic spec for
    the vectorized kernel below; property-tested equal on random inputs."""
    n = len(tokens)
    uf = _UF(n)
    order = sorted(range(n), key=lambda i: (tokens[i]["page"], tokens[i]["top"], tokens[i]["left"]))
    for oi, i in enumerate(order):
        ti = tokens[i]
        for j in order[oi + 1:]:
            tj = tokens[j]
            if tj["page"] != ti["page"]:
                break
            if tj["top"] - (ti["top"] + ti["height"]) > max(
                V_GAP_MIN, V_GAP_FACTOR * min(ti["height"], tj["height"])
            ):
                break
            x_overlap = ti["left"] < tj["left"] + tj["width"] and tj["left"] < ti["left"] + ti["width"]
            y_overlap = ti["top"] < tj["top"] + tj["height"] and tj["top"] < ti["top"] + ti["height"]
            same_line = y_overlap and (
                abs(tj["left"] - (ti["left"] + ti["width"])) <= H_GAP_SAMELINE
                or abs(ti["left"] - (tj["left"] + tj["width"])) <= H_GAP_SAMELINE
                or x_overlap
            )
            v_gap = tj["top"] - (ti["top"] + ti["height"])
            fi, fj = ti.get("font_size") or 0.0, tj.get("font_size") or 0.0
            font_ok = fi == 0.0 or fj == 0.0 or min(fi, fj) / max(fi, fj) >= 0.8
            stacked = (
                x_overlap
                and not y_overlap
                and font_ok
                and v_gap <= max(V_GAP_MIN, V_GAP_FACTOR * min(ti["height"], tj["height"]))
            )
            if same_line or stacked:
                uf.union(i, j)
    clusters: dict[int, list[int]] = {}
    for i in range(n):
        clusters.setdefault(uf.find(i), []).append(i)
    return list(clusters.values())


_PAIR_CHUNK = 1 << 22  # peak expanded pairs per chunk (memory cap)


def _proximity_clusters(tokens: list[dict]) -> list[list[int]]:
    """Union-find proximity clustering of token indices (same page only).

    Fully vectorized: the per-token-pair Python scan was the pipeline's
    hot spot (segments stage 33.7 s of the round-1 bench). Per page run
    (tokens sorted by page, top, left):

    1. each anchor's scan window upper bound comes from ONE batched
       searchsorted over the sorted tops — a gap > max(V_GAP_MIN,
       1.5·h_anchor) violates the scan-break bound regardless of the
       partner's height, since min(h_i, h_j) ≤ h_anchor;
    2. all windows expand into flat (I, J) pair arrays (repeat/arange,
       chunked at ~4M pairs to cap memory);
    3. the exact first-violation per window truncates it
       (minimum.reduceat), replicating the reference scan's break;
    4. the pair predicate evaluates as numpy array ops; only matched
       pairs reach the union-find.

    Output is byte-identical to ``_proximity_clusters_py`` (golden +
    property tested)."""
    import numpy as np

    n = len(tokens)
    if n <= 1:
        return [[0]] if n else []
    page = np.fromiter((int(t["page"]) for t in tokens), dtype=np.int64, count=n)
    top = np.fromiter((t["top"] for t in tokens), dtype=np.float64, count=n)
    left = np.fromiter((t["left"] for t in tokens), dtype=np.float64, count=n)
    width = np.fromiter((t["width"] for t in tokens), dtype=np.float64, count=n)
    height = np.fromiter((t["height"] for t in tokens), dtype=np.float64, count=n)
    font = np.fromiter(
        (t.get("font_size") or 0.0 for t in tokens), dtype=np.float64, count=n
    )

    order = np.lexsort((left, top, page))
    ps, ts, ls, ws, hs, fs = (
        page[order], top[order], left[order], width[order], height[order], font[order]
    )
    rights = ls + ws
    bottoms = ts + hs
    run_starts = np.concatenate([[0], np.flatnonzero(np.diff(ps) != 0) + 1, [n]])

    uf = _UF(n)
    order_list = order.tolist()
    for ri in range(len(run_starts) - 1):
        s, e = int(run_starts[ri]), int(run_starts[ri + 1])
        if e - s <= 1:
            continue
        tse = ts[s:e]
        # batched upper bounds for every anchor in the run
        ub = s + np.searchsorted(
            tse,
            bottoms[s:e] + np.maximum(V_GAP_MIN, V_GAP_FACTOR * hs[s:e]),
            side="right",
        )
        idx_all = np.arange(s, e)
        w_all = np.maximum(ub - idx_all - 1, 0)
        # chunk anchors so the expanded pair block stays bounded
        cuts = [0]
        acc = 0
        for k, wk in enumerate(w_all):
            acc += int(wk)
            if acc >= _PAIR_CHUNK:
                cuts.append(k + 1)
                acc = 0
        if cuts[-1] != len(w_all):
            cuts.append(len(w_all))
        for ci in range(len(cuts) - 1):
            a0, a1 = cuts[ci], cuts[ci + 1]
            w = w_all[a0:a1]
            total = int(w.sum())
            if total == 0:
                continue
            idx = idx_all[a0:a1]
            offs = np.concatenate([[0], np.cumsum(w)])
            I = np.repeat(idx, w)
            J = np.arange(total) - np.repeat(offs[:-1], w) + I + 1
            gaps = ts[J] - bottoms[I]
            thr = np.maximum(V_GAP_MIN, V_GAP_FACTOR * np.minimum(hs[I], hs[J]))
            viol = gaps > thr
            if viol.any():
                # first violating partner per window → scan break
                nzw = w > 0
                vj = np.where(viol, J, n)
                firstv = np.minimum.reduceat(vj, offs[:-1][nzw])
                keep = J < np.repeat(firstv, w[nzw])
                I, J = I[keep], J[keep]
                gaps, thr = gaps[keep], thr[keep]
                if I.size == 0:
                    continue
            x_overlap = (ls[I] < rights[J]) & (ls[J] < rights[I])
            y_overlap = (ts[I] < bottoms[J]) & (ts[J] < bottoms[I])
            same_line = y_overlap & (
                (np.abs(ls[J] - rights[I]) <= H_GAP_SAMELINE)
                | (np.abs(ls[I] - (ls[J] + ws[J])) <= H_GAP_SAMELINE)
                | x_overlap
            )
            mx = np.maximum(fs[I], fs[J])
            font_ok = (fs[I] == 0.0) | (fs[J] == 0.0) | (
                np.minimum(fs[I], fs[J]) / np.where(mx == 0.0, 1.0, mx) >= 0.8
            )
            stacked = x_overlap & ~y_overlap & font_ok & (gaps <= thr)
            for m in np.flatnonzero(same_line | stacked):
                uf.union(order_list[I[m]], order_list[J[m]])
    clusters: dict[int, list[int]] = {}
    for i in range(n):
        clusters.setdefault(uf.find(i), []).append(i)
    return list(clusters.values())


def _heuristic_type(members: list[dict], median_font: float) -> str:
    texts = " ".join((t["text"] or "") for t in members).strip()
    if texts.startswith(("●", "•", "-", "*")):
        return "List item"
    sizes = [t.get("font_size") or 0.0 for t in members]
    avg = sum(sizes) / len(sizes) if sizes else 0.0
    if median_font > 0 and avg >= TITLE_FONT_FACTOR * median_font and len(texts) < 120:
        return "Title"
    if all(t.get("bold") for t in members if (t["text"] or "").strip()) and len(texts) < 120:
        return "Title"
    return "Text"


def segment_doc(
    tokens: list[dict],
    seg_boxes: list[dict] | None = None,
    label_boxes: list[dict] | None = None,
    page_dims: tuple[float, float] = (0.0, 0.0),
) -> list[dict]:
    """Document-local segmentation kernel. Deterministic, order-independent."""
    seg_boxes = seg_boxes or []
    label_boxes = label_boxes or []
    tokens = sorted(tokens, key=lambda t: (t["page"], t["top"], t["left"], t["token_idx"]))
    font_sizes = sorted(t.get("font_size") or 0.0 for t in tokens if (t["text"] or "").strip())
    median_font = font_sizes[len(font_sizes) // 2] if font_sizes else 0.0

    assigned: dict[int, int] = {}  # token idx -> seg_box idx
    free: list[int] = []
    for i, tok in enumerate(tokens):
        hit = next((bi for bi, box in enumerate(seg_boxes) if _token_in_box(tok, box)), None)
        if hit is None:
            free.append(i)
        else:
            assigned[i] = hit

    groups: list[tuple[str | None, list[int]]] = []
    for bi, box in enumerate(seg_boxes):
        members = [i for i, b in assigned.items() if b == bi]
        if members:
            groups.append((box.get("segment_type") or "Text", members))
    free_tokens = [tokens[i] for i in free]
    for cluster in _proximity_clusters(free_tokens):
        groups.append((None, [free[i] for i in cluster]))

    # deterministic numbering by first token in reading order
    groups.sort(key=lambda g: min(g[1]))
    segments = []
    sid = 0
    for seg_type, member_idx in groups:
        members = [tokens[i] for i in sorted(member_idx)]
        text = tokens_to_text([t["text"] or "" for t in members])
        if not text:
            continue
        is_label = any(
            _token_center_in_box(t, lb) for t in members for lb in label_boxes
        )
        inked = [t for t in members if (t["text"] or "").strip()]
        sizes = [t.get("font_size") or 0.0 for t in inked]
        segments.append(
            {
                "segment_id": sid,
                "page": int(members[0]["page"]),
                "text": text,
                "segment_type": seg_type or _heuristic_type(members, median_font),
                "boxes": _line_boxes(members, page_dims),
                "is_label": is_label,
                "font_size": (sum(sizes) / len(sizes)) if sizes else 0.0,
                "bold_ratio": (
                    sum(1.0 for t in inked if t.get("bold")) / len(inked)
                    if inked else 0.0
                ),
            }
        )
        sid += 1
    return segments
