"""Detection span record — the engine's unit of PII evidence.

Equivalent of presidio's ``RecognizerResult`` as used by the reference
(constructed at ``text_detector/chunker.py:56-63`` and
``csv_redactor/redactor.py:89-96``): a half-open char span ``[start, end)``
with an entity type and a confidence score, plus the name of the pattern that
fired (for triage/lineage).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Detection:
    entity_type: str
    start: int
    end: int
    score: float
    pattern_name: str = ""

    def sort_key(self):
        # Reference final ordering: (start, end, entity_type)
        # (text_detector/chunker.py:65-68).
        return (self.start, self.end, self.entity_type)

    def as_tuple(self):
        return (self.entity_type, self.start, self.end, self.score, self.pattern_name)


def spans_overlap(a_start: int, a_end: int, b_start: int, b_end: int) -> bool:
    """Half-open overlap predicate (reference ``pdf_redactor/analyzer.py:139-140``)."""
    return not (a_end <= b_start or b_end <= a_start)


def splice_spans(text: str, spans) -> str:
    """Right-to-left replacement splice (reference relationships.py:149-153):
    stable reverse sort on start, then sequential surgery — reproduces the
    reference's output even for overlapping spans. The ONE shared spelling
    for the scrub operators and relationship masking (two copies of
    replacement-order logic would drift independently)."""
    out = text
    for s, e, rep in sorted(spans, key=lambda p: p[0], reverse=True):
        out = out[:s] + rep + out[e:]
    return out
