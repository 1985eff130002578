"""Redacted-PDF sink (reference S8, rendering half): distributed assembly
of real PDF bytes from the value-gated ``redaction_plan`` rows.

Scale shape: rendering is embarrassingly parallel per document — the plan
(narrow columns) joins the page text on the id, one ``applyInPandas`` group
per document builds its file bytes executor-side (``core.pdfwrite``), and
the driver only streams finished bytes to disk (``save_redacted_pdfs``,
``toLocalIterator`` — resident memory is one PDF, not the batch). Nothing
about the render needs a second shuffle: the groupBy key is the same id the
plan join already hashed on.

Reference parity: op patterns, anchors, colors, dedup and trim all come
from the plan rows themselves (operators.layout.redaction_plan — the
differentially-gated math); ``pdf_redactor/redactor.py:75-151`` semantics,
``redactor.py:146`` two-streams-per-page shape.
"""

from __future__ import annotations

import os
import shutil
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core import pdfwrite as PW
from ..core.sanitize import claim_filename

PLAN_COLS = [
    "start", "end", "entity_type", "value", "x0", "y0", "rect_w", "rect_h",
    "fill_r", "fill_g", "fill_b", "label_white", "label_x", "label_y",
    "conf_y", "conf_text",
]


def render_redacted_pdfs(
    plan: DataFrame,
    pages: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    draw_labels: bool = True,
    label_prefix: str = "",
) -> DataFrame:
    """(plan rows, pages) -> one (id, pdf: binary) row per page. Pages with
    no detections still render (base text layer only, empty redaction
    stream) — the reference keeps untouched pages in its output PDF too
    (write_redacted_pdf ``continue`` skips only the ops, not the page)."""
    j = pages.select(id_col, text_col).join(
        plan.select(id_col, *PLAN_COLS), id_col, "left"
    )

    def render(key, grp):
        text = grp[text_col].iloc[0]
        dets = grp.dropna(subset=["start"])
        rows = [
            {
                "start": int(r["start"]),
                "end": int(r["end"]),
                "entity_type": r["entity_type"],
                "value": r["value"],
                "x0": float(r["x0"]),
                "y0": float(r["y0"]),
                "rect_w": float(r["rect_w"]),
                "rect_h": float(r["rect_h"]),
                "fill_r": float(r["fill_r"]),
                "fill_g": float(r["fill_g"]),
                "fill_b": float(r["fill_b"]),
                "label_white": bool(r["label_white"]),
                "label_x": float(r["label_x"]),
                "label_y": float(r["label_y"]),
                "conf_y": float(r["conf_y"]),
                "conf_text": r["conf_text"],
            }
            for _, r in dets.iterrows()
        ]
        data = PW.write_pdf(
            [(text if text is not None else "", rows)],
            draw_labels=draw_labels, label_prefix=label_prefix,
        )
        return pd.DataFrame({id_col: [key[0]], "pdf": [data]})

    return j.groupBy(id_col).applyInPandas(
        render, f"{id_col} string, pdf binary"
    )


def save_redacted_pdfs(
    rendered: DataFrame, out_dir: str, id_col: str = "url",
    max_files: Optional[int] = 10_000,
) -> int:
    """Stream rendered PDFs to ``{out_dir}/{safe_filename(id)}.pdf`` one at
    a time (driver holds one file's bytes); returns the file count. Ids
    that sanitize alike get ``_2``, ``_3``, ... suffixes
    (``core.sanitize.claim_filename``), so no file overwrites another.
    ``max_files`` bounds this export surface the same way the zip sink is
    bounded — corpus-scale output belongs in parquet (the ``rendered``
    frame itself writes as a binary column).

    All-or-nothing on disk: files stage in a sibling ``.tmp-partial`` dir
    and move into ``out_dir`` only after the full stream succeeds, so a
    cap overflow (detected at file ``max_files``+1, before the remaining
    render work) or any mid-stream failure leaves ``out_dir`` exactly as
    it was — never a half-written export indistinguishable from a
    complete one."""
    tmp = out_dir.rstrip("/") + ".tmp-partial"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    used: set = set()
    try:
        for row in rendered.select(id_col, "pdf").toLocalIterator():
            if max_files is not None and len(used) >= max_files:
                raise ValueError(
                    f"save_redacted_pdfs passed {max_files} files — this is "
                    f"an operator-sized export; write the DataFrame as "
                    f"parquet for corpus-scale output, or pass "
                    f"max_files=None"
                )
            name = claim_filename(f"{row[id_col]}.pdf", used)
            with open(os.path.join(tmp, name), "wb") as f:
                f.write(row["pdf"])
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(tmp):
        os.replace(os.path.join(tmp, name), os.path.join(out_dir, name))
    shutil.rmtree(tmp)
    return len(used)


__all__ = ["render_redacted_pdfs", "save_redacted_pdfs", "PLAN_COLS"]
