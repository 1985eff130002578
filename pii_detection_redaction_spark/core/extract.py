"""HTML -> text extraction (the web-text analog of the reference's
PDF/image text-extraction stage, ``pdf_redactor/analyzer.py:29-59``).

The input-hint invariant is *byte-identical extracted text per url*: pages
carry ``html:binary`` produced by wrapping each text line in ``<p>`` with
HTML-escaping (see ``testing.corpus.render_html``), and this extractor is its
exact inverse on that structure (escaped pages contain no literal tags
inside paragraphs, so the inner tag-strip below is a no-op for them).

On generic HTML the ``<p>`` path is deliberately MAIN-CONTENT extraction
(readability-style): paragraph bodies only, nested markup stripped, text
outside ``<p>`` dropped — for web training text, nav/header/footer chrome
outside paragraphs is boilerplate you want gone. Pages with no ``<p>`` at
all fall back to a whole-document tag strip so nothing crashes.
"""

from __future__ import annotations

import html as _html
import re
from typing import Optional

# pattern sources shared with the JVM mirror (functions.udfs.extract_text_expr)
P_PATTERN = r"<p>(.*?)</p>"
TAG_PATTERN = r"<[^>]+>"

_P_RE = re.compile(P_PATTERN, re.DOTALL)
_TAG_RE = re.compile(TAG_PATTERN)


def extract_text(html_bytes: Optional[bytes]) -> str:
    """Extract document text from page HTML bytes (UTF-8)."""
    if not html_bytes:
        return ""
    raw = html_bytes.decode("utf-8", errors="replace")
    paras = _P_RE.findall(raw)
    if paras:
        # strip nested markup INSIDE each paragraph (real pages write
        # <p>Hello <b>world</b></p>; raw '<b>' must not flow into the
        # quality/PII stages as document text), THEN unescape — escaped
        # entities stay literal text. Per-paragraph, so an unterminated
        # '<' can never eat across the paragraph boundary; byte-identical
        # JVM mirror in functions.udfs.extract_text_expr.
        return "\n".join(_html.unescape(_TAG_RE.sub(" ", p)) for p in paras)
    # Fallback for arbitrary HTML: strip tags, unescape, collapse blank runs.
    body = _TAG_RE.sub(" ", raw)
    body = _html.unescape(body)
    return re.sub(r"[ \t]+", " ", body).strip()
