"""Redaction-plan layout spec — the visual-sink MATH of the reference's PDF
redactor (S8/C18), minus the rendering.

The reference computes, per detection: a bounding box from the span's char
boxes (``pdf_redactor/analyzer.py:205-210`` — min x0/y0, max x1/y1), a fill
color by severity (``write_redacted_pdf`` → ``entity_config.py:41-47``
AU_ENTITY_COLOR_MAP, severity defaulting to 'low'), a label color by
luminance (``pdf_redactor/redactor.py:111-117``: lum = 0.2126r + 0.7152g +
0.0722b, white text iff lum < 0.5), label/conf anchor points
(``redactor.py:121-137``: label at (x0+2, y1-10), conf at (x0+2, y1-20),
"conf: {score:.2f}"), rect extent w/h = max(0, x1-x0 / y1-y0)
(``redactor.py:26``), and a first-wins dedup keyed
f"{entity_type}:{span_text}" across the document (``analyzer.py:200-203``).
The pikepdf content-stream rendering itself is the ONE part that stays out
(visual; no pdf libs in this environment) — everything a renderer consumes
is computed and value-gated.

Char geometry: the reference takes char boxes from pdfminer's layout. This
environment has no pdf stack, so the layout model is DECLARED (same move as
the multimodal fake-decode kernel): a monospace grid on US-Letter points —
char (line, col) occupies x in [MARGIN + col*CHAR_W, MARGIN + (col+1)*CHAR_W]
and y in [PAGE_H - MARGIN - (line+1)*LINE_H, PAGE_H - MARGIN - line*LINE_H]
(PDF origin is bottom-left, so y1 is the line's TOP). A span's box is the
min/max over its chars, clamped to the span's first line (the reference's
containers are newline-free — pdfminer yields newlines as LTAnno, which its
char list excludes — so a single-line box IS the faithful analog; our page
text keeps newlines, hence the clamp). One spec, three engines: these
functions are the pure-Python oracle; operators/layout.py builds the same
arithmetic as JVM columns; plans/oracles re-derives it in DuckDB SQL.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from typing import Tuple

from .casefold import WS_CHARS as CF_WS_CHARS
from .entities import ENTITY_SEVERITY, SEVERITY_COLORS


def _round_half_up(x: float, nd: int) -> float:
    """Spark/DuckDB-style HALF_UP decimal rounding — the same recipe as
    ``testing.goldens.spark_round`` (equality pinned by
    ``test_layout_round_matches_spark_round``). Python's builtin ``round``
    is banker's (half-to-even): on a tie score like 0.625 it would emit
    'conf: 0.62' while both the Spark operator (``F.round``) and the DuckDB
    oracle emit 'conf: 0.63' — this keeps the pure-Python spec on the
    engines' side."""
    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP)
    )

# US-Letter page, 0.5" margin, 6x12pt monospace cell (declared layout model)
PAGE_W = 612.0
PAGE_H = 792.0
MARGIN = 36.0
CHAR_W = 6.0
LINE_H = 12.0
# reference redactor.py:121-137 label anchors
LABEL_DX = 2.0
LABEL_DY = 10.0
CONF_DY = 20.0
# reference redactor.py:111-117 luminance weights + threshold
LUMA = (0.2126, 0.7152, 0.0722)
LUMA_WHITE_BELOW = 0.5
# reference analyzer.py:97-102 _pad_rect default — defined there but UNUSED
# by the live path; kept for API parity, not applied in the gated plan
RECT_PAD = 1.5
# reference analyzer.py:186-195 span post-processing, applied BEFORE the
# dedup key and the bbox: (a) PERSON/ORGANIZATION spans whose nearest
# preceding non-whitespace char is ':' skip their leading whitespace;
# (b) every span drops trailing '.,;:'; empty spans are then discarded.
# Whitespace is the DECLARED ASCII set (the reference uses unicode-aware
# .rstrip()/.isspace(); charset trims are what Python str.rstrip / Spark
# rtrim(col, trim) / DuckDB rtrim(s, chars) share exactly — the corpus
# contains no exotic unicode whitespace).
WS_CHARS = CF_WS_CHARS  # one whitespace spec repo-wide (core.casefold)
TRAIL_PUNCT_CHARS = ".,;:"
TRIM_COLON_TYPES = ("PERSON", "ORGANIZATION")
# reference write_redacted_pdf: severity defaults to 'low' for unknown types
DEFAULT_PLAN_SEVERITY = "low"


def postprocess_span(
    text: str, start: int, end: int, entity_type: str
) -> Tuple[int, int]:
    """reference ``pdf_redactor/analyzer.py:186-195``: colon-prefix
    whitespace skip (PERSON/ORGANIZATION only) then trailing-punctuation
    strip. Returns the adjusted (start, end); callers drop the detection
    when end <= start (the reference's ``continue``). The colon rule's net
    effect — the chars between the colon and the span are all whitespace by
    construction — is to advance start past the span's own leading
    whitespace, bounded by end."""
    if entity_type in TRIM_COLON_TYPES:
        prefix = text[:start].rstrip(WS_CHARS)
        if prefix.endswith(":"):
            span = text[start:end]
            start += len(span) - len(span.lstrip(WS_CHARS))
    end = start + len(text[start:end].rstrip(TRAIL_PUNCT_CHARS))
    return start, end


def char_pos(text: str, i: int) -> Tuple[int, int]:
    """(line, col) of the 0-based char index ``i`` in ``text``."""
    prefix = text[:i]
    return prefix.count("\n"), i - (prefix.rfind("\n") + 1)


def span_bbox(text: str, start: int, end: int) -> Tuple[float, float, float, float]:
    """(x0, y0, x1, y1) of the span [start, end) under the grid model,
    clamped to the span's first line (see module docstring)."""
    line, col = char_pos(text, start)
    nl = text.find("\n", start)
    line_end = len(text) if nl < 0 else nl
    end_eff = min(end, line_end)
    x0 = MARGIN + col * CHAR_W
    x1 = MARGIN + (col + (end_eff - start)) * CHAR_W
    y1 = PAGE_H - MARGIN - line * LINE_H
    return x0, y1 - LINE_H, x1, y1


def fill_color(entity_type: str) -> Tuple[float, float, float]:
    """Severity fill color; unknown types get the 'low' severity color
    (reference _color_for_entity: sev_map.get(type, 'low'))."""
    sev = ENTITY_SEVERITY.get(entity_type, DEFAULT_PLAN_SEVERITY)
    return SEVERITY_COLORS.get(sev, SEVERITY_COLORS["_default"])


def label_is_white(rgb: Tuple[float, float, float]) -> bool:
    lum = LUMA[0] * rgb[0] + LUMA[1] * rgb[1] + LUMA[2] * rgb[2]
    return lum < LUMA_WHITE_BELOW


def plan_row(text: str, start: int, end: int, entity_type: str, score: float) -> dict:
    """The full per-detection plan record — the pure-Python oracle the Spark
    columns and the DuckDB SQL must both reproduce. ``score`` is the
    4dp-rounded detection score (the golden's value); conf renders its
    2dp rounding as an exact decimal string."""
    x0, y0, x1, y1 = span_bbox(text, start, end)
    r, g, b = fill_color(entity_type)
    return {
        "value": text[start:end],
        "x0": x0,
        "y0": y0,
        "x1": x1,
        "y1": y1,
        "rect_w": max(0.0, x1 - x0),
        "rect_h": max(0.0, y1 - y0),
        "fill_r": r,
        "fill_g": g,
        "fill_b": b,
        "label_white": label_is_white((r, g, b)),
        "label_x": x0 + LABEL_DX,
        "label_y": y1 - LABEL_DY,
        "conf_y": y1 - CONF_DY,
        "conf_text": f"conf: {_round_half_up(score, 2):.2f}",
    }
