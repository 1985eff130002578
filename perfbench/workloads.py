"""The benchmark's workloads: seeded inputs, their pure-Python oracle, one
call into the program's public entry point, and the check of its output.

Inputs and oracles are cached under ``_work/inputs`` by a name that embeds
``CORPUS_VERSION``, the seed and the size; an oracle file also embeds the
fingerprint of every ``core`` module, so a change to the spec recomputes it.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import random
import shutil
import time
from datetime import timedelta
from typing import Dict, List, Tuple

from pii_detection_redaction_spark.core.chunker import analyze_long_text
from pii_detection_redaction_spark.core.langid import detect_language
from pii_detection_redaction_spark.core.lm import perplexity
from pii_detection_redaction_spark.core.quality import quality_decision
from pii_detection_redaction_spark.core.recognizers import analyze
from pii_detection_redaction_spark.core.scrub import mask_spans, scrub_document
from pii_detection_redaction_spark.core.toxicity import mask_toxicity, toxicity_hits
from pii_detection_redaction_spark.plans.pipeline import PipelineConfig
from pii_detection_redaction_spark.testing import corpus
from pii_detection_redaction_spark.testing.goldens import spec_fingerprint

# records per input: sized so one wide-leg call takes a few seconds here
SIZES = {"crawl_scrub": 800, "pii_long_docs": 160, "prepare_dedup": 600,
         "csv_redact": 2000}
TINY = {"crawl_scrub": 120, "pii_long_docs": 16, "prepare_dedup": 120,
        "csv_redact": 200}
# records in the warm pass of each setup (a prefix of the input: pages and
# rows are pure functions of (seed, index))
WARM_N = {"pages": 48, "csv": 200}
N_FILES = 8
# url-hash buckets and commit groups of every pipeline call: 2 snapshot
# commits per call, 8 tasks per group at 4 cores
PIPELINE_CFG = PipelineConfig(num_buckets=16, groups=2)


class Workload:
    """``kind`` is ``pages`` (a page is one record) or ``csv`` (a row is)."""

    def __init__(self, name: str, kind: str, why: str):
        self.name, self.kind, self.why = name, kind, why

    def input_name(self, seed: int, n: int) -> str:
        return f"{self.name}_v{corpus.CORPUS_VERSION}_s{seed}_n{n}"


WORKLOADS = {
    w.name: w
    for w in (
        Workload("crawl_scrub", "pages",
                 "headline job: langid and perplexity on every page, a third "
                 "of pages stop at the gate, two snapshot commits per call"),
        Workload("pii_long_docs", "pages",
                 "long PII-dense pages that pass the gates: multi-chunk detect "
                 "and dense overlapping spans dominate"),
        Workload("prepare_dedup", "pages",
                 "prepare_corpus: scrub, exact and MinHash near dedup, exsub "
                 "and packing; the shuffle-heavy prepare operators"),
        Workload("csv_redact", "csv",
                 "10-column PII CSV: many short cells, no gate or commit; the "
                 "bypass workload for gate and long-doc changes"),
    )
}


# ---------------------------------------------------------------------------
# inputs


def _long_pii_rows(n: int, seed: int) -> List[dict]:
    """Long English pages (more than one 5,000-char chunk) built by
    concatenating the corpus generator's PII-bearing archetypes: the
    multi-person page (6), the ABN page (8) and English plain pages (12-19),
    skipping any with a toxicity hit so the pages pass the gates."""
    rng = random.Random(seed)
    rows, i = [], 0
    for j in range(n):
        target, parts, size = rng.randint(6_000, 16_000), [], 0
        while size < target:
            row = corpus.page_row(i, seed)
            arch, i = i % 20, i + 1
            if (arch in (6, 8) or arch >= 12) and row["lang"] == "en" \
                    and row["text"] and not toxicity_hits(row["text"]):
                parts.append(row["text"])
                size += len(row["text"]) + 1
        text = "\n".join(parts)
        rows.append({
            "url": f"https://longdocs.example.org/s{seed}/doc-{j}",
            "warc_ts": corpus.EPOCH + timedelta(seconds=j),
            "html": corpus.render_html(text),
            "text": text,
            "lang": "en",
        })
    return rows


def _write_pages(path: str, rows: List[dict]) -> None:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = pd.DataFrame(rows)
    df["warc_ts"] = pd.to_datetime(df["warc_ts"], utc=True).dt.tz_localize(None)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    os.makedirs(path)
    step = (len(rows) + N_FILES - 1) // N_FILES
    for f in range(N_FILES):
        part = table.slice(f * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{f:04d}.parquet"))


def ensure_input(wl: Workload, seed: int, n: int, inputs_dir: str) -> str:
    """The workload's input for ``seed``, generated once in this process."""
    path = os.path.join(inputs_dir, wl.input_name(seed, n))
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    if wl.name == "pii_long_docs":
        _write_pages(path, _long_pii_rows(n, seed))
    elif wl.kind == "pages":
        corpus.write_pages_parquet(path, n, seed=seed, n_files=N_FILES)
    else:
        corpus.write_wide_csv(path, n, n_files=N_FILES, seed=seed)
    open(os.path.join(path, "_DONE"), "w").close()
    return path


# ---------------------------------------------------------------------------
# oracle


def page_texts(path: str) -> List[Tuple[str, str]]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["url", "text"])
    return list(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))


def csv_rows(path: str) -> List[List[str]]:
    """Data rows of every part file, files in name order, headers skipped."""
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "*.csv"))):
        with open(f, newline="") as fh:
            rows.extend(list(csv.reader(fh))[1:])
    return rows


def oracle_page(text: str) -> Tuple[bool, object]:
    """(keep, scrubbed text or None): core.langid -> core.lm -> the quality
    decision, then chunked detect -> scrub -> toxicity mask for kept pages."""
    text = text or ""
    lang, conf = detect_language(text)
    keep, _ = quality_decision(text, lang, conf, perplexity(text, lang))
    if not keep:
        return False, None
    return True, mask_toxicity(scrub_document(text, analyze_long_text(text)))


def oracle_cell(cell: str) -> str:
    """The CSV redactor's per-cell result; empty cells read back empty."""
    if not cell or not cell.strip():
        return cell
    return mask_spans(cell, analyze(cell))


def ensure_oracle(wl: Workload, path: str) -> Dict:
    cache = f"{path}_oracle_{spec_fingerprint()}.json"
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    if wl.kind == "pages":
        ora = {"pages": {u: oracle_page(t) for u, t in page_texts(path)}}
    else:
        ora = {"rows": [[oracle_cell(c) for c in r] for r in csv_rows(path)]}
    tmp = f"{cache}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(ora, fh)
    os.replace(tmp, cache)
    return ora


# ---------------------------------------------------------------------------
# one call of the program, and its check


def run_once(wl: Workload, spark, inp: str, out: str) -> Dict[str, int]:
    """One call into the workload's public entry point; returns counters."""
    if wl.name == "prepare_dedup":
        from pii_detection_redaction_spark.plans.prepare import prepare_corpus

        return prepare_corpus(spark, inp, out, PIPELINE_CFG)
    if wl.kind == "pages":
        from pii_detection_redaction_spark.plans.pipeline import run_pipeline

        return run_pipeline(spark, inp, out, PIPELINE_CFG)
    from pii_detection_redaction_spark.sources.csv import (
        read_csv, redact_csv, write_csv)

    write_csv(redact_csv(read_csv(spark, inp))["redacted"], out)
    return {}


def _read_committed(root: str) -> Dict[str, Tuple[bool, object]]:
    import pyarrow.parquet as pq

    from pii_detection_redaction_spark.sources.snapshots import SnapshotStore

    got = {}
    for p in SnapshotStore(root).data_paths():
        t = pq.read_table(p, columns=["url", "keep", "scrubbed_text"])
        got.update(zip(t.column("url").to_pylist(),
                       zip(t.column("keep").to_pylist(),
                           t.column("scrubbed_text").to_pylist())))
    return got


def _count_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["url"]).num_rows


def check(wl: Workload, ora: Dict, out: str, counters: Dict) -> Dict:
    """Compares the full output of one call against the oracle. Returns
    ``failed`` (records missing from the committed output and not accounted
    for by a counter), ``tp/fp/fn`` of keep, ``exact`` and ``scored`` for the
    scrub comparison, and ``errors`` (human-readable mismatch notes)."""
    res = {"failed": 0, "tp": 0, "fp": 0, "fn": 0, "exact": 0, "scored": 0,
           "kept": 0, "errors": []}
    if wl.kind == "csv":
        want, got = ora["rows"], csv_rows(out)
        res["failed"] = max(0, len(want) - len(got))
        for w, g in zip(want, got):
            res["scored"] += len(w)
            res["exact"] += sum(1 for a, b in zip(w, g) if a == b)
        if res["exact"] != res["scored"] or res["failed"]:
            res["errors"].append(f"csv cells {res['exact']}/{res['scored']} "
                                 f"exact, {len(got)}/{len(want)} rows")
        return res
    root = os.path.join(out, "scrub") if wl.name == "prepare_dedup" else out
    got = _read_committed(root)
    pages = ora["pages"]
    res["failed"] = sum(1 for u in pages if u not in got)
    for url, (keep, scrubbed) in pages.items():
        if url not in got:
            continue
        g_keep, g_text = got[url]
        res["tp"] += keep and g_keep
        res["fp"] += g_keep and not keep
        res["fn"] += keep and not g_keep
        res["kept"] += bool(g_keep)
        if keep:
            res["scored"] += 1
            res["exact"] += g_text == scrubbed
    if counters.get("docs_seen") != len(pages):
        res["errors"].append(f"docs_seen {counters.get('docs_seen')} != {len(pages)}")
    if wl.name == "prepare_dedup":
        # every kept page is a dedup removal, a sampled-out page or final
        final = _count_rows(os.path.join(out, "final"))
        accounted = sum(counters[k] for k in (
            "exact_dups_removed", "near_dups_removed", "decontaminated_out",
            "docs_sampled_out")) + final
        short = counters["docs_kept"] - accounted
        res["failed"] += max(0, short)
        if short or final != counters["docs_final"]:
            res["errors"].append(f"prepare counters do not conserve pages: "
                                 f"kept {counters['docs_kept']}, accounted "
                                 f"{accounted}, final rows {final}")
    if res["fp"] or res["fn"] or res["exact"] != res["scored"] or res["failed"]:
        res["errors"].append(
            f"keep fp={res['fp']} fn={res['fn']}, scrub "
            f"{res['exact']}/{res['scored']} exact, {res['failed']} missing")
    return res


class Tally:
    """Runs calls of one workload, checks each call's full output against
    the oracle and accumulates the accuracy counts over the calls."""

    def __init__(self, wl: Workload, ora: Dict):
        self.wl, self.ora = wl, ora
        self.n = len(ora["pages"]) if "pages" in ora else len(ora["rows"])
        self.calls = self.attempted = self.failed = 0
        self.counts = {"tp": 0, "fp": 0, "fn": 0, "exact": 0, "scored": 0, "kept": 0}
        self.errors: List[str] = []
        self.pending: List[Tuple[str, Dict]] = []

    def call(self, spark, inp: str, out: str, keep_output: bool = False) -> float:
        """One timed call, checked at once; returns records per second."""
        rate = self.run(spark, inp, out)
        self.settle(keep_output)
        return rate

    def run(self, spark, inp: str, out: str) -> float:
        """One timed call whose check waits for ``settle``, so a timed window
        holds calls only; returns records per second. A call that raises
        fails all of its records (the exception propagates)."""
        self.attempted += self.n
        t0, t_epoch = time.perf_counter(), time.time()
        try:
            counters = run_once(self.wl, spark, inp, out)
        except Exception:
            self.failed += self.n
            raise
        dt = time.perf_counter() - t0
        self.last_window_ms = (t_epoch * 1000, dt * 1000)  # (start, length)
        self.pending.append((out, counters))
        return self.n / dt

    def settle(self, keep_output: bool = False) -> None:
        """Checks the full output of every call made since the last settle."""
        for out, counters in self.pending:
            res = check(self.wl, self.ora, out, counters)
            if not keep_output:
                shutil.rmtree(out, ignore_errors=True)
            self.calls += 1
            self.failed += res["failed"]
            self.errors += res["errors"]
            for k in self.counts:
                self.counts[k] += res[k]
        self.pending = []

    def accuracy(self) -> Dict[str, object]:
        c = self.counts
        prec = c["tp"] / (c["tp"] + c["fp"]) if c["tp"] + c["fp"] else 1.0
        rec = c["tp"] / (c["tp"] + c["fn"]) if c["tp"] + c["fn"] else 1.0
        pages = self.wl.kind == "pages"
        return {
            "keep_f1": (2 * prec * rec / (prec + rec) if prec + rec else 0.0) if pages else None,
            "scrub_exact_frac": c["exact"] / c["scored"] if c["scored"] else 0.0,
            "failed_frac": self.failed / max(1, self.attempted),
            "kept_share": c["kept"] / max(1, self.calls * self.n) if pages else None,
        }

    def correct(self) -> bool:
        acc = self.accuracy()
        return (not self.errors and self.calls > 0 and self.failed == 0
                and acc["keep_f1"] in (None, 1.0) and acc["scrub_exact_frac"] == 1.0)
