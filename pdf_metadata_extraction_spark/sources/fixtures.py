"""Reference-derived fixture documents (data, not code).

``tests/resources/fixture_docs.json`` holds the positioned token rows of
the reference's pdf2xml test fixtures (parsed once from
``/root/reference/src/tests/resources/**/*.xml`` — see SURVEY.md §5 for
the fixture census). These documents are embedded into the synthetic
``pages`` table so the reference's golden outputs carry over:

- ``un_note``   — UN "General Assembly" note, 119 tokens, 2 pages
  (reference: xml_to_train/test.xml; golden suggestion pinned at
  src/tests/test_end_to_end.py:178-192).
- ``lorem_en`` / ``lorem_fr`` — bilingual 2-paragraph doc
  (test_en.xml/test_fr.xml; golden paragraphs pinned at
  src/tests/test_end_to_end_paragraph_extractor.py:74-104).
- ``spanish``   — 2-token doc (xml_to_predict/spanish.xml).
- ``blank`` / ``no_pages`` — degenerate docs (empty page / no pages).
"""

from __future__ import annotations

import json
import os
from functools import lru_cache

_RESOURCE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "resources",
    "fixture_docs.json",
)

FIXTURE_NAMES = ["un_note", "lorem_en", "lorem_fr", "spanish", "blank", "no_pages"]


@lru_cache(maxsize=1)
def fixture_docs() -> dict:
    """{doc_name: [{page, width, height, tokens:[{...}]}]}"""
    with open(_RESOURCE) as fh:
        return json.load(fh)


def fixture_pdf2xml_bytes(name: str) -> bytes:
    """Re-serialize a fixture doc to pdf2xml-shaped bytes.

    This is our own serializer (not the reference file): the ``pages``
    table carries raw document bytes in ``html``; fixture docs ride as
    pdf2xml so the token parser (operators/extract.py) is exercised on
    the same content the reference parses.
    """
    import html as _html

    pages = fixture_docs()[name]
    out = ['<?xml version="1.0" encoding="UTF-8"?>', "<pdf2xml>"]
    for page in pages:
        out.append(
            f'<page number="{page["page"]}" top="0" left="0" '
            f'height="{page["height"]:g}" width="{page["width"]:g}">'
        )
        for t in page["tokens"]:
            body = _html.escape(t["text"])
            if t["bold"]:
                body = f"<b>{body}</b>"
            out.append(
                f'<text top="{t["top"]:g}" left="{t["left"]:g}" '
                f'width="{t["width"]:g}" height="{t["height"]:g}" '
                f'font="{t["font_id"]}" size="{t.get("font_size", 0.0):g}">{body}</text>'
            )
        out.append("</page>")
    out.append("</pdf2xml>")
    return "\n".join(out).encode("utf-8")
