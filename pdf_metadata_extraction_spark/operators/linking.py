"""Entity linking — segment text ⋈ options dictionary (SURVEY.md §2.3 J3, §2.7 X1).

Reference semantics (pinned by /root/reference/src/tests/test_end_to_end.py):
- whole-word match of each option label against the text;
- the matched span is wrapped ``<span class="ix_match">…</span>`` inside
  ``<p class="ix_matching_paragraph">…</p>`` (test :287-291, :374-377,
  :389-396); a non-matching context paragraph renders as
  ``<p class="ix_paragraph">…</p>`` (test :267);
- ``multi_value=False`` → the single best option (most/longest match);
  ``True`` → every matching option, each Value carrying its own
  highlighted ``segment_text`` (test :283-292 vs :384-398).

Spark shape: ``segments ⋈ broadcast(options)`` — the dictionary is always
the small side (10²-10⁵ labels), so this is a **broadcast join**; the
match predicate itself runs as a vectorized batch matcher inside a
pandas UDF (precompiled alternation regex per extraction_name — no
per-row Python interpretation of the dictionary).

At 100 TB the broadcast is built once per extraction; matching stays in
the Arrow stage with the segment scan's partitioning (no shuffle).
"""

from __future__ import annotations

import functools
import re
from collections.abc import Iterator

_lru_cache_small = functools.lru_cache(maxsize=256)

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MATCH_OPEN = '<span class="ix_match">'
MATCH_CLOSE = "</span>"
PARA_MATCH_OPEN = '<p class="ix_matching_paragraph">'
PARA_PLAIN_OPEN = '<p class="ix_paragraph">'
PARA_CLOSE = "</p>"


def plain_paragraph(text: str) -> str:
    return f"{PARA_PLAIN_OPEN}{text}{PARA_CLOSE}"


def highlight(text: str, start: int, end: int) -> str:
    return (
        f"{PARA_MATCH_OPEN}{text[:start]}{MATCH_OPEN}{text[start:end]}"
        f"{MATCH_CLOSE}{text[end:]}{PARA_CLOSE}"
    )


@_lru_cache_small
def _ids_by_label(options: tuple[tuple[str, str], ...]) -> dict[str, str]:
    """Label → option id in the canonical resolution order (option_id
    sort, FIRST id per label). The ONE source of truth shared by
    match_options (the spec) and link_options' vectorized gate — the
    two cannot diverge. Cached per dictionary; callers must not mutate."""
    seen: dict[str, str] = {}
    for oid, label in sorted(options, key=lambda o: o[0]):
        if label and label not in seen:
            seen[label] = oid
    return seen


def _unique_labels(options: tuple[tuple[str, str], ...]) -> tuple[str, ...]:
    return tuple(_ids_by_label(options))


@_lru_cache_small
def _alternation(labels: tuple[str, ...]) -> re.Pattern:
    """ONE precompiled alternation over the whole dictionary — a single
    scan of the text replaces one regex pass per label (SURVEY §7.3 #6:
    batched matching, no per-label loops in the hot path). Longer labels
    first so they win at a shared start position."""
    ordered = sorted((l for l in labels if l), key=lambda l: (-len(l), l))
    body = "|".join(re.escape(l) for l in ordered)
    return re.compile(rf"(?<!\w)(?:{body})(?!\w)")


# ------------------------------------------------------------ fuzzy tier
# The reference's option matcher is "exact + fuzzy variants" (SURVEY §2.3
# J3; behavior in the trainable-entity-extractor dep, pinned by
# /root/reference/src/tests/test_end_to_end.py:267-292,370-397). The
# sandbox has no rapidfuzz, so the fuzzy tier is pure-regex and mirrors
# exactly into RE2 SQL (see __spark_entry__.fuzzy_sql_pattern):
# case-fold + accent-fold, flexible [^0-9a-z]+ token separators
# (punctuation/whitespace inside labels), and singular/plural tolerance
# per token. One alternation scan per text — no per-label loops.

_MARK_SENTINEL = "\x01"


def _fold_char(ch: str) -> str:
    """Single folded char for one input char (length-preserving map).

    Combining marks (decomposed-Unicode accents, e.g. U+0301 in
    'e\\u0301s') fold to a sentinel so ``fold_strip`` can remove them
    with an index map — mirroring DuckDB ``strip_accents``, which
    deletes them outright (the j3_fuzzy_match oracle contract).

    A LITERAL U+0001 in the input must not collide with the sentinel
    (it would be deleted as if it were an accent, while strip_accents
    preserves it): remap it to U+0002 — still a non-word boundary
    character for the ``(?<![0-9a-z])`` fuzzy boundary, so matching
    behavior is identical to the oracle's."""
    import unicodedata

    if ch == _MARK_SENTINEL:
        return "\x02"
    if unicodedata.combining(ch):
        return _MARK_SENTINEL
    base = unicodedata.normalize("NFD", ch)[:1] or ch
    if unicodedata.combining(base):
        return _MARK_SENTINEL
    low = base.lower()[:1]
    return low or ch


class _FoldTable(dict):
    """str.translate table computing + caching the fold per codepoint —
    the fold then runs at C speed (the per-char Python call was the
    flagship pipeline's hot path once the fuzzy tier landed)."""

    def __missing__(self, cp: int) -> str:
        v = _fold_char(chr(cp))
        self[cp] = v
        return v


_FOLD_TABLE = _FoldTable()


def fold_text(text: str) -> str:
    """Length-preserving case+accent fold: every char maps to exactly one
    folded char (combining marks → sentinel), so fuzzy-match spans index
    the ORIGINAL text directly (the highlight markup wraps the original
    surface form)."""
    return text.translate(_FOLD_TABLE)


def fold_strip(text: str) -> tuple[str, list[int] | None]:
    """Fold + REMOVE combining-mark sentinels, exactly like DuckDB's
    ``lower(strip_accents(x))`` removes decomposed accents.

    Returns (stripped_folded, index_map) where index_map[i] is the
    original-text index of stripped char i (None when nothing was
    stripped — the overwhelmingly common fast path stays one C-speed
    ``str.translate`` with no per-char Python)."""
    folded = fold_text(text)
    if _MARK_SENTINEL not in folded:
        return folded, None
    keep = [i for i, ch in enumerate(folded) if ch != _MARK_SENTINEL]
    return "".join(folded[i] for i in keep), keep


def fuzzy_token_body(tok: str) -> str:
    """Regex body for one folded label token: optional trailing 's' both
    ways (label 'customers' matches text 'customer' and vice versa)."""
    core = tok[:-1] if tok.endswith("s") and len(tok) >= 4 else tok
    return re.escape(core) + "s?"


def _fuzzy_body(label: str) -> str | None:
    toks = re.findall(r"[0-9a-z]+", fold_strip(label)[0])
    if not toks:
        return None
    return r"[^0-9a-z]+".join(fuzzy_token_body(t) for t in toks)


@_lru_cache_small
def _fuzzy_alternation(
    labels: tuple[str, ...],
) -> tuple[re.Pattern, dict[str, str]] | None:
    """ONE alternation over folded labels with a named group per label so
    the match resolves to its source label in the same pass."""
    ordered = sorted((l for l in labels if l), key=lambda l: (-len(l), l))
    parts, by_group = [], {}
    for i, lab in enumerate(ordered):
        body = _fuzzy_body(lab)
        if body:
            parts.append(f"(?P<g{i}>{body})")
            by_group[f"g{i}"] = lab
    if not parts:
        return None
    pat = re.compile(r"(?<![0-9a-z])(?:" + "|".join(parts) + r")(?![0-9a-z])")
    return pat, by_group


def match_options(
    text: str,
    options: list[tuple[str, str]],
    multi_value: bool,
    fuzzy: bool = True,
) -> list[dict]:
    """Match option (id, label) pairs against one text.

    Returns Value dicts {id, label, segment_text} — segment_text is the
    per-value highlighted paragraph. Longer labels take precedence over
    shorter ones at overlapping spans (\"United Nations\" beats \"United\").
    Deterministic: first (leftmost) occurrence per label; ties between
    ids sharing a label broken by option_id order. An exact (tier-1)
    match always wins over a fuzzy (tier-2) match for the same label;
    the fuzzy tier only links labels the exact scan missed.
    """
    if not text or not options:
        return []
    ids_by_label = _ids_by_label(tuple(options))
    pattern = _alternation(tuple(ids_by_label))
    first_span: dict[str, tuple[int, int]] = {}
    for m in pattern.finditer(text):
        lab = m.group(0)
        if lab not in first_span:
            first_span[lab] = (m.start(), m.end())
    if fuzzy and len(first_span) < len(ids_by_label):
        fz = _fuzzy_alternation(tuple(ids_by_label))
        if fz is not None:
            fz_pat, by_group = fz
            folded, idx_map = fold_strip(text)
            for m in fz_pat.finditer(folded):
                lab = by_group[m.lastgroup]
                if lab not in first_span:
                    s, e = m.start(), m.end()
                    if idx_map is not None:
                        # map stripped-coordinates back to the original
                        # text so the highlight wraps the surface form;
                        # the end extends to the next kept char so
                        # trailing combining marks stay with their base
                        s = idx_map[s]
                        e = idx_map[e] if e < len(idx_map) else len(text)
                    first_span[lab] = (s, e)
    found = sorted(
        (s, e, ids_by_label[lab], lab) for lab, (s, e) in first_span.items()
    )
    values = [
        {"id": oid, "label": label, "segment_text": highlight(text, s, e)}
        for s, e, oid, label in found
    ]
    if not multi_value and len(values) > 1:
        # best single option = longest matched label, ties → first position
        start_by_id = {oid: s for s, _e, oid, _lab in found}
        best = max(values, key=lambda v: (len(v["label"]), -start_by_id[v["id"]]))
        values = [best]
    return values


def link_options(
    segments: DataFrame,
    options: DataFrame,
    text_col: str = "text",
    fuzzy: bool = True,
) -> DataFrame:
    """segments(+extraction_name) ⋈ broadcast options → + values column.

    ``options`` has schemas.OPTIONS_TABLE shape. Output adds
    ``values: array<struct<id,label,segment_text>>`` (empty array when no
    option matches).
    """
    spark = segments.sparkSession
    # plain collect (the dictionary is small by contract) — grouping it
    # driver-side avoids a shuffle job just to build the broadcast
    dict_by_name: dict[str, tuple[bool, list[tuple[str, str]]]] = {}
    for r in options.select(
        "extraction_name", "multi_value", "option_id", "label"
    ).collect():
        mv, opts = dict_by_name.setdefault(r["extraction_name"], (bool(r["multi_value"]), []))
        opts.append((r["option_id"], r["label"]))
    bc = spark.sparkContext.broadcast(dict_by_name)

    from pyspark.sql import types as T

    cols = [f.name for f in segments.schema.fields]
    out_schema = T.StructType(
        list(segments.schema.fields)
        + [
            T.StructField(
                "values",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("id", T.StringType()),
                            T.StructField("label", T.StringType()),
                            T.StructField("segment_text", T.StringType()),
                        ]
                    )
                ),
            )
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        d = bc.value
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            n = len(pdf)
            vals: list[list] = [[] for _ in range(n)]
            texts = pdf[text_col].fillna("").astype(str)
            # vectorized tier gate (round-2 verdict #6): ONE C-speed
            # Series.str pass per dictionary decides which rows can match
            # at all (exact alternation on the raw text, fuzzy
            # alternation on the folded+mark-stripped text — the exact
            # inputs match_options scans), so the per-row Python spec
            # only runs on rows with a hit. Web corpora are sparse in
            # dictionary hits, so this removes the per-row hot path.
            for name, idx in pdf.groupby(
                "extraction_name", sort=False
            ).indices.items():
                mv, opts = d.get(name, (True, []))
                labels = _unique_labels(tuple(opts))
                if not labels:
                    continue
                t = texts.iloc[idx]
                need = t.str.contains(_alternation(labels))
                if fuzzy:
                    fz = _fuzzy_alternation(labels)
                    if fz is not None:
                        stripped = t.str.translate(_FOLD_TABLE).str.replace(
                            _MARK_SENTINEL, "", regex=False
                        )
                        import warnings

                        with warnings.catch_warnings():
                            # the alternation's named groups are for the
                            # spec's label resolution; the gate only
                            # needs the boolean — silence pandas' hint
                            warnings.filterwarnings(
                                "ignore", message="This pattern is interpreted"
                            )
                            need = need | stripped.str.contains(fz[0])
                for i, hit in zip(idx, need.to_numpy()):
                    if hit:
                        vals[i] = match_options(
                            texts.iloc[i], opts, mv, fuzzy=fuzzy
                        )
            pdf = pdf[cols].copy()
            pdf["values"] = vals
            yield pdf

    return segments.mapInPandas(run, schema=out_schema)
