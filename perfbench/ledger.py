"""The traced run: a per-layer ledger in µs per record per core.

Three sources, all outside the package:

- spans (name, start, end, parent) recorded by the benchmark around every
  call it makes into a layer, kept in memory and written out at the end;
- Spark's own event log, with every job tagged by the ``perfbench.phase``
  local property of the span that ran it (so lazily built work lands on
  the action that ran it);
- in-process timings of the ``core`` calls the fused UDF makes, on the
  workload's own records and in the UDF's order.

A "record" is a page or a CSV row, the unit of ``docs_per_s``. Executor
times are summed task times, so a per-record figure is core-time: µs/doc/core.
Layers of the other input kind (page layers in a CSV run, CSV layers in a
page run) are measured on a small companion input made from the same seed,
so every ledger carries every layer.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from typing import Dict, List

PHASE = "perfbench.phase"

PER_LAYER = [
    "sources.scan_us_per_doc", "sources.input_bytes_per_doc",
    "sources.csv_read_us_per_row", "sources.csv_write_us_per_row",
    "functions.extract_us_per_doc", "functions.quality_metrics_us_per_doc",
    "udfs.python_us_per_doc", "udfs.arrow_bytes_per_doc",
    "udfs.worker_start_ms", "udfs.overhead_us_per_doc",
    "core.langid_us_per_doc", "core.perplexity_us_per_doc", "core.keep_frac",
    "core.scan_us_per_doc", "core.scan_candidates_per_detection",
    "core.detect_us_per_doc", "core.detect_multi_chunk_share",
    "core.detections_per_kept_doc", "core.scrub_us_per_doc",
    "core.csv_detect_us_per_cell",
    "csvops.reassembly_shuffle_bytes_per_row",
    "plans.write_us_per_doc", "plans.output_bytes_per_doc",
    "snapshots.commit_ms", "snapshots.commits",
    "prepare.scrub_s", "prepare.exact_dedup_s", "prepare.near_dedup_s",
    "prepare.exsub_s", "prepare.pack_write_s", "prepare.count_actions",
    "prepare.cc_rounds",
    "spark.jobs", "spark.tasks", "spark.executor_us_per_doc",
    "spark.executor_busy_frac", "spark.driver_gap_s", "spark.task_skew",
    "spark.gc_frac", "spark.shuffle_bytes_per_doc", "spark.scheduler_delay_ms",
    "spark.docs_per_s_n", "spark.scaling_eff",
    "trace.docs_per_s", "trace.overhead_frac", "trace.layer_sum_over_executor",
]
PREPARE_STAGES = ["scrub", "exact_dedup", "near_dedup", "exsub", "pack_write"]
COUNTS = {"snapshots.commits", "prepare.count_actions", "prepare.cc_rounds",
          "spark.jobs", "spark.tasks", "core.scan_candidates_per_detection",
          "core.detections_per_kept_doc"}
UNIT_SUFFIXES = [("_us_per_doc", "us/doc"), ("_us_per_row", "us/row"),
                 ("_us_per_cell", "us/cell"), ("_bytes_per_doc", "bytes/doc"),
                 ("_bytes_per_row", "bytes/row"), ("docs_per_s", "docs/s"),
                 ("docs_per_s_n", "docs/s"),
                 ("_ms", "ms"), ("_s", "s")]


def unit_of(name: str) -> str:
    if name in COUNTS:
        return "count"
    return next((u for suf, u in UNIT_SUFFIXES if name.endswith(suf)), "ratio")


class Tracer:
    """In-memory spans. ``phase`` also tags the Spark jobs run inside it."""

    def __init__(self):
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def phase(self, spark, name: str):
        spark.sparkContext.setLocalProperty(PHASE, name)
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            spark.sparkContext.setLocalProperty(PHASE, None)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------------------
# event log


def read_event_log(evdir: str) -> Dict[str, dict]:
    """Per phase: jobs, tasks and stage accumulables from the event log."""
    jobs, stage_phase, phases = {}, {}, {}

    def ph(name):
        return phases.setdefault(name, {"jobs": [], "tasks": [], "acc": {}})

    files = sorted(glob.glob(os.path.join(evdir, "*")))
    for f in files:
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    name = (e.get("Properties") or {}).get(PHASE, "untagged")
                    jobs[e["Job ID"]] = {"phase": name, "start": e["Submission Time"]}
                    for sid in e["Stage IDs"]:
                        stage_phase[sid] = name
                elif ev == "SparkListenerJobEnd":
                    j = jobs[e["Job ID"]]
                    j["end"] = e["Completion Time"]
                    ph(j["phase"])["jobs"].append(j)
                elif ev == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    if not m:
                        continue
                    sw = m.get("Shuffle Write Metrics", {})
                    ph(stage_phase.get(e["Stage ID"], "untagged"))["tasks"].append({
                        "stage": e["Stage ID"], "launch": info["Launch Time"],
                        "finish": info["Finish Time"], "run": m["Executor Run Time"],
                        "deser": m["Executor Deserialize Time"],
                        "ser": m["Result Serialization Time"],
                        "getting": info.get("Getting Result Time", 0),
                        "gc": m["JVM GC Time"],
                        "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                        "in_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                        "out_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
                    })
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    acc = ph(stage_phase.get(si["Stage ID"], "untagged"))["acc"]
                    for a in si.get("Accumulables", []):
                        try:
                            acc[a["Name"]] = acc.get(a["Name"], 0) + float(a["Value"])
                        except (TypeError, ValueError, KeyError):
                            pass
    return phases


def _run_ms(phases, name) -> float:
    return sum(t["run"] for t in phases.get(name, {}).get("tasks", []))


def _acc(phases, name, key) -> float:
    return phases.get(name, {}).get("acc", {}).get(key, 0.0)


def _busy_ms(tasks, lo, hi) -> float:
    """Length of the union of task intervals clipped to [lo, hi] (epoch ms)."""
    iv = sorted((max(lo, t["launch"]), min(hi, t["finish"])) for t in tasks)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# in-process core timings


def _page_core_pass(tr: Tracer, prefix: str, texts, keeps, models) -> Dict[str, float]:
    """One pass of the fused UDF's core calls over ``texts``, in its order:
    langid, perplexity per language group, then for the pages the oracle
    keeps: the batched candidate scan (single-chunk pages only, as in the
    UDF), chunked detect and scrub."""
    import pandas as pd

    from pii_detection_redaction_spark.core import scanvec
    from pii_detection_redaction_spark.core.chunker import (
        DEFAULT_CHUNK_SIZE, analyze_long_text)
    from pii_detection_redaction_spark.core.scrub import scrub_document
    from pii_detection_redaction_spark.functions.udfs import langid_batch

    n = len(texts)
    us = {}

    @contextmanager
    def timed(name):
        with tr.span(f"{prefix}core.{name}") as s:
            yield
        us[f"core.{name}_us_per_doc"] = (s["end"] - s["start"]) * 1e6 / max(1, n)

    with timed("langid"):
        lid = langid_batch(pd.Series(texts))
    with timed("perplexity"):
        frame = pd.DataFrame({"t": texts, "l": lid["lang"].to_numpy()})
        for lg, grp in frame.groupby("l", sort=False):
            models.get(lg, models["en"]).perplexity_batch(grp["t"].to_numpy())
    kept = [i for i in range(n) if keeps[i] and texts[i]]
    single = [i for i in kept if len(texts[i]) <= DEFAULT_CHUNK_SIZE]
    with timed("scan"):
        bundles = scanvec.batch_scan([texts[i] for i in single]) or [None] * len(single)
    bundle_at = dict(zip(single, bundles))
    dets = {}
    with timed("detect"):
        for i in kept:
            dets[i] = analyze_long_text(texts[i], scans=bundle_at.get(i))
    with timed("scrub"):
        for i in kept:
            scrub_document(texts[i], dets[i])
    cands = sum(len(b.digit_starts) + len(b.capwords) + len(b.upper_run_starts)
                for b in bundles if b is not None)
    us.update({
        "core.keep_frac": len(kept) / max(1, n),
        "core.scan_candidates_per_detection":
            cands / max(1, sum(len(dets[i]) for i in single)),
        "core.detect_multi_chunk_share": (len(kept) - len(single)) / max(1, len(kept)),
        "core.detections_per_kept_doc":
            sum(len(d) for d in dets.values()) / max(1, len(kept)),
    })
    return us


def core_timings(wl, inp: str, ora: dict, tr: Tracer) -> Dict[str, float]:
    """Times each public core call the fused UDF makes on the workload's own
    records, single-threaded in this process. A first pass on a prefix
    builds the lookup tables and caches and is not reported."""
    import workloads as W
    from pii_detection_redaction_spark.core import lm
    from pii_detection_redaction_spark.core.recognizers import analyze

    if wl.kind == "csv":
        cells = [c for r in W.csv_rows(inp) for c in r]
        for tag in ("first.core.csv_detect", "core.csv_detect"):
            with tr.span(tag, cells=len(cells)) as s:
                for c in cells:
                    if c and c.strip():
                        analyze(c)
        return {"core.csv_detect_us_per_cell":
                (s["end"] - s["start"]) * 1e6 / max(1, len(cells))}
    urls, texts = zip(*W.page_texts(inp))
    texts = [t or "" for t in texts]
    keeps = [ora["pages"][u][0] for u in urls]
    models = lm.all_models()
    _page_core_pass(tr, "first.", texts[:32], keeps[:32], models)
    return _page_core_pass(tr, "", texts, keeps, models)


# ---------------------------------------------------------------------------
# isolated layer jobs and the traced prepare call


def isolated_jobs(wl, spark, inp: str, committed: str, env, tr: Tracer) -> None:
    """Each layer alone, on the workload's input, to a noop (or real) sink.
    Every job runs twice; only the second run is tagged with the layer, so
    one-time JIT and file-listing costs stay out of the ledger."""
    from pyspark.sql import functions as F

    def twice(name, fn):
        for tag in (f"first.{name}", name):
            with tr.phase(spark, tag):
                fn()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    if wl.kind == "csv":
        from pii_detection_redaction_spark.sources.csv import (
            read_csv, redact_csv, write_csv)

        twice("sources.csv_read", lambda: noop(read_csv(spark, inp)))
        twice("sources.csv_write", lambda: write_csv(
            read_csv(spark, inp), env.out_dir("csv_copy")))
        twice("csvops.reassembly", lambda: noop(
            redact_csv(read_csv(spark, inp))["redacted"]))
        return
    from pii_detection_redaction_spark.functions.quality import quality_metric_columns
    from pii_detection_redaction_spark.functions.udfs import extract_text_expr
    from pii_detection_redaction_spark.plans.pipeline import read_output

    raw = spark.read.parquet(inp)
    text = extract_text_expr(F.col("html"))
    twice("sources.scan", lambda: noop(raw))
    twice("functions.extract", lambda: noop(raw.select(text.alias("t"))))
    twice("functions.quality", lambda: noop(raw.select(
        *[c.alias(k) for k, c in quality_metric_columns(text).items()])))
    # the write alone: the committed output, materialized in memory first
    out = read_output(spark, committed).cache()
    out.count()
    twice("plans.write", lambda: out.write.mode("overwrite").parquet(
        env.out_dir("write_copy")))
    out.unpersist()


@contextmanager
def _patched(obj, attr, wrapper):
    orig = getattr(obj, attr)
    setattr(obj, attr, wrapper(orig))
    try:
        yield
    finally:
        setattr(obj, attr, orig)


def traced_prepare(spark, inp: str, out: str, tr: Tracer) -> Dict:
    """One prepare_corpus call with each stage's entry point wrapped. A
    stage's time runs from its entry to the next stage's entry (the last
    one to the call's end), so its own actions and every later action up
    to the next stage, lazily built work included, land on it; the wrapper
    also tags the stage's Spark jobs in the event log."""
    from contextlib import ExitStack

    import workloads as W
    from pii_detection_redaction_spark.operators import dedup
    from pii_detection_redaction_spark.plans import prepare

    counts, entered = {"n": 0}, {}

    def stage(name):
        def wrap(fn):
            def inner(*a, **k):
                spark.sparkContext.setLocalProperty(PHASE, f"prepare.{name}")
                entered.setdefault(name, time.perf_counter())
                with tr.span(f"prepare.{name}"):
                    return fn(*a, **k)
            return inner
        return wrap

    def counting(fn):
        def inner(self):
            counts["n"] += 1
            return fn(self)
        return inner

    with ExitStack() as st:
        st.enter_context(_patched(prepare, "run_pipeline", stage("scrub")))
        st.enter_context(_patched(dedup, "dedup_exact", stage("exact_dedup")))
        st.enter_context(_patched(prepare, "near_dedup_df", stage("near_dedup")))
        st.enter_context(_patched(prepare, "exsub_dedup", stage("exsub")))
        st.enter_context(_patched(prepare, "pack_and_write", stage("pack_write")))
        st.enter_context(_patched(type(spark.range(1)), "count", counting))
        with tr.span("prepare.call") as call:
            counters = prepare.prepare_corpus(spark, inp, out, W.PIPELINE_CFG)
    spark.sparkContext.setLocalProperty(PHASE, None)
    starts = sorted((t, name) for name, t in entered.items()) + [(call["end"], None)]
    counters["stage_s"] = {name: t1 - t0 for (t0, name), (t1, _) in zip(starts, starts[1:])}
    counters["count_actions"] = counts["n"]
    return counters


# ---------------------------------------------------------------------------
# the traced run


def traced_run(wl, seed: int, seconds: float, size: int, env, host) -> dict:
    import harness
    import workloads as W
    from pii_detection_redaction_spark.sources.snapshots import SnapshotStore

    inp = W.ensure_input(wl, seed, size, env.inputs)
    warm = W.ensure_input(wl, seed, min(size, W.WARM_N[wl.kind]), env.inputs)
    ora = W.ensure_oracle(wl, inp)
    tally = W.Tally(wl, ora)
    n, cores = tally.n, host["wide_cores"]

    # untraced reference: tracing and the event log off. A warm pass and one
    # unmeasured call first (the traced session below starts in a JVM these
    # calls already warmed), then wide calls for half the window, then one
    # call with the whole process tree pinned to the narrow CPU set: the
    # same job on N cores (labelled with the host facts, see harness)
    # a traced run compiles the code paths of every layer, which overflows
    # the 48 MB code cache C1-only mode reserves by default
    spark = harness.build(env, cores, java_opts="-XX:ReservedCodeCacheSize=240m")
    try:
        W.run_once(wl, spark, warm, env.out_dir("warm-untraced"))
        tally.call(spark, inp, env.out_dir("untraced-warm"))
        plain, t_start = [], time.perf_counter()
        while not plain or time.perf_counter() - t_start < seconds / 2:
            plain.append(tally.call(spark, inp, env.out_dir(f"untraced{len(plain)}")))
        harness.pin_tree(set(host["narrow_cpus"]))
        try:
            narrow = tally.call(spark, inp, env.out_dir("narrow"))
        finally:
            harness.pin_tree(set(host["affinity"]))
    finally:
        spark.stop()

    tr = Tracer()
    evdir = env.out_dir("eventlog")
    spark = harness.build(env, cores, event_log=evdir)
    commit_ms: List[float] = []

    def timed_commit(fn):
        def inner(self, *a, **k):
            with tr.span("snapshots.commit") as s:
                r = fn(self, *a, **k)
            commit_ms.append((s["end"] - s["start"]) * 1000)
            return r
        return inner

    traced, calls = [], []
    try:
        with tr.phase(spark, "warm"):
            W.run_once(wl, spark, warm, env.out_dir("warm"))
        committed = None
        with _patched(SnapshotStore, "commit", timed_commit):
            for k in range(2):
                committed = env.out_dir(f"main{k}")
                with tr.phase(spark, "main"):
                    traced.append(tally.call(spark, inp, committed, keep_output=True))
                calls.append(tally.last_window_ms)
        if wl.name == "prepare_dedup":
            committed = os.path.join(committed, "scrub")
        isolated_jobs(wl, spark, inp, committed, env, tr)
        core = core_timings(wl, inp, ora, tr)
        # every ledger carries every layer: the layers of the other input
        # kind run on a small companion input made from the same seed
        if wl.kind == "pages":
            other = W.WORKLOADS["csv_redact"]
        else:
            other = W.WORKLOADS["crawl_scrub"]
            committed = env.out_dir("companion")
        c_inp = W.ensure_input(other, seed, W.WARM_N[other.kind], env.inputs)
        c_ora = W.ensure_oracle(other, c_inp)
        if other.kind == "pages":
            with _patched(SnapshotStore, "commit", timed_commit):
                W.run_once(other, spark, c_inp, committed)
        isolated_jobs(other, spark, c_inp, committed, env, tr)
        core.update(core_timings(other, c_inp, c_ora, tr))
        prep = traced_prepare(spark, inp if wl.kind == "pages" else c_inp,
                              env.out_dir("prepare"), tr)
    finally:
        harness.shutdown(spark)
    phases = read_event_log(evdir)

    m = {k: 0.0 for k in PER_LAYER}
    m.update(core)
    docs = n * len(calls)
    main = phases.get("main", {"tasks": [], "jobs": [], "acc": {}})
    tasks = main["tasks"]
    run_ms = sum(t["run"] for t in tasks)
    exec_us = run_ms * 1000 / max(1, docs)
    wall_ms = sum(length for _, length in calls)
    gaps = [length - _busy_ms(tasks, start, start + length) for start, length in calls]
    by_stage: Dict[int, List[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run"])
    heavy = max(by_stage.values(), key=sum) if by_stage else [1.0]
    delays = [max(0, t["finish"] - t["launch"] - t["run"] - t["deser"] - t["ser"]
                  - (t["getting"] and t["finish"] - t["getting"]))
              for t in tasks]
    n_pages = n if wl.kind == "pages" else len(c_ora["pages"])
    n_rows = n if wl.kind == "csv" else len(c_ora["rows"])
    python_us = _acc(phases, "main", "time to run Python workers") * 1000 / max(1, docs)
    m.update({
        "udfs.python_us_per_doc": python_us,
        "udfs.arrow_bytes_per_doc": (
            _acc(phases, "main", "data sent to Python workers")
            + _acc(phases, "main", "data returned from Python workers")) / max(1, docs),
        "udfs.worker_start_ms": _acc(phases, "warm", "time to start Python workers"),
        "plans.output_bytes_per_doc": sum(t["out_bytes"] for t in tasks) / max(1, docs),
        "snapshots.commit_ms": statistics.median(commit_ms) if commit_ms else 0.0,
        "snapshots.commits": len(commit_ms) / (len(calls) if wl.kind == "pages" else 1),
        "spark.jobs": len(main["jobs"]) / len(calls),
        "spark.tasks": len(tasks) / len(calls),
        "spark.executor_us_per_doc": exec_us,
        "spark.executor_busy_frac": run_ms / max(1.0, cores * wall_ms),
        "spark.driver_gap_s": statistics.median(gaps) / 1000 if gaps else 0.0,
        "spark.task_skew": max(heavy) / max(1e-9, statistics.median(heavy)),
        "spark.gc_frac": sum(t["gc"] for t in tasks) / max(1, run_ms),
        "spark.shuffle_bytes_per_doc": sum(t["shuffle_w"] for t in tasks) / max(1, docs),
        "spark.scheduler_delay_ms": statistics.mean(delays) if delays else 0.0,
        "spark.docs_per_s_n": narrow,
        "spark.scaling_eff": statistics.median(plain) / narrow / (cores / host["narrow_cores"]),
        "trace.docs_per_s": statistics.median(traced),
        "trace.overhead_frac": 1 - statistics.median(traced) / statistics.median(plain),
    })

    def per_rec(count, phase, minus=None):
        v = _run_ms(phases, phase) - (_run_ms(phases, minus) if minus else 0)
        return v * 1000 / max(1, count)

    m.update({
        "sources.scan_us_per_doc": per_rec(n_pages, "sources.scan"),
        "sources.input_bytes_per_doc": sum(
            t["in_bytes"] for t in phases.get("sources.scan", {}).get("tasks", [])
        ) / max(1, n_pages),
        "functions.extract_us_per_doc": per_rec(n_pages, "functions.extract", "sources.scan"),
        "functions.quality_metrics_us_per_doc": per_rec(
            n_pages, "functions.quality", "functions.extract"),
        "plans.write_us_per_doc": per_rec(n_pages, "plans.write"),
        "sources.csv_read_us_per_row": per_rec(n_rows, "sources.csv_read"),
        "sources.csv_write_us_per_row": per_rec(
            n_rows, "sources.csv_write", "sources.csv_read"),
        "csvops.reassembly_shuffle_bytes_per_row": sum(
            t["shuffle_w"] for t in phases.get("csvops.reassembly", {}).get("tasks", [])
        ) / max(1, n_rows),
    })
    if wl.kind == "csv":
        cells_per_row = sum(len(r) for r in ora["rows"]) / max(1, n)
        core_us = m["core.csv_detect_us_per_cell"] * cells_per_row
        layers = ["sources.csv_read_us_per_row", "sources.csv_write_us_per_row",
                  "udfs.python_us_per_doc"]
    else:
        core_us = sum(m[f"core.{k}_us_per_doc"]
                      for k in ("langid", "perplexity", "scan", "detect", "scrub"))
        layers = ["sources.scan_us_per_doc", "functions.extract_us_per_doc",
                  "functions.quality_metrics_us_per_doc", "udfs.python_us_per_doc",
                  "plans.write_us_per_doc"]
    m["udfs.overhead_us_per_doc"] = python_us - core_us
    m["trace.layer_sum_over_executor"] = sum(m[k] for k in layers) / max(1e-9, exec_us)
    for st in PREPARE_STAGES:
        m[f"prepare.{st}_s"] = prep["stage_s"].get(st, 0.0)
    m["prepare.count_actions"] = prep["count_actions"]
    m["prepare.cc_rounds"] = prep["cc_rounds"]

    results = os.path.join(env.work, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{wl.name}-s{seed}")
    tr.write(stem + "-spans.json")
    ledger = {k: round(v, 4) for k, v in m.items()}
    with open(stem + "-ledger.json", "w") as fh:
        json.dump({"host": host, "records_per_call": n, "ledger": ledger}, fh, indent=1)
    report = {"workload": wl.name, "seed": seed, "records_per_call": n,
              "host": host, "untraced_docs_per_s": plain, "traced_docs_per_s": traced,
              "prepare_counters": prep, "spans": len(tr.spans),
              "ledger_file": os.path.relpath(stem + "-ledger.json", env.root),
              "scaling": {"label": host["scaling_label"], "bound": host["scaling_bound"],
                          "meets_bound": m["spark.scaling_eff"] >= host["scaling_bound"]},
              "accuracy": tally.accuracy(), "errors": tally.errors[:20]}
    return {"report": report, "correct": tally.correct(), "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {k: {"value": float(v), "unit": unit_of(k)} for k, v in m.items()}}
