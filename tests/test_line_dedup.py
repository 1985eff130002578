"""Corpus-level line dedup (boilerplate stripping) — three-engine agreement
(pure-Python spec / Spark join strategy / Spark array strategy), edge
semantics, plan shape, and non-vacuity on the pages corpus."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pii_detection_redaction_spark.core.quality import (
    BOILERPLATE_MIN_DOCS,
    boilerplate_line_set,
    strip_boilerplate,
)
from pii_detection_redaction_spark.operators.dedup import strip_boilerplate_lines

FOOTER = "c 2024 Example Pty Ltd - all rights reserved"
DOCS = [
    # footer appears in 3 distinct docs -> boilerplate at min_docs=3
    (0, f"alpha body one\n{FOOTER}\nmore text"),
    (1, f"  {FOOTER}  \nbeta body"),  # leading/trailing spaces still match
    (2, f"gamma body\n\n{FOOTER}"),  # blank line must be KEPT
    (3, FOOTER),  # all lines removed -> row stays, text_clean == ""
    (4, f"{FOOTER}\n{FOOTER}\ndelta"),  # in-doc repeat counts ONCE per doc
    (5, "unique text only\nsecond line"),
    (6, "tab\ttrailing \t"),  # tab is NOT trimmed: never merges with others
]


def _oracle_frame(min_docs):
    hot = boilerplate_line_set([t for _, t in DOCS], min_docs)
    rows = []
    for i, t in DOCS:
        clean, removed = strip_boilerplate(t, hot)
        rows.append((i, clean, removed))
    return pd.DataFrame(rows, columns=["doc_id", "text_clean", "n_lines_removed"])


def test_python_spec_semantics():
    hot = boilerplate_line_set([t for _, t in DOCS], 3)
    assert hot == {FOOTER}  # distinct-doc counting: doc 4's repeat is one vote
    exp = _oracle_frame(3)
    assert exp.n_lines_removed.tolist() == [1, 1, 1, 1, 2, 0, 0]
    assert exp.text_clean[3] == ""  # fully-boilerplate doc survives, empty
    assert exp.text_clean[2] == "gamma body\n"  # blank line preserved
    # raising the threshold above the doc count deactivates the hot set
    assert boilerplate_line_set([t for _, t in DOCS], 10) == set()


@pytest.mark.parametrize("strategy", ["join", "array"])
def test_spark_matches_python_spec(spark, strategy):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = (
        strip_boilerplate_lines(df, min_docs=3, strategy=strategy)
        .orderBy("doc_id")
        .toPandas()
    )
    exp = _oracle_frame(3)
    pd.testing.assert_frame_equal(got.reset_index(drop=True), exp, check_dtype=False)


def test_join_strategy_broadcasts_hot_set(spark):
    """The hot side carries NO mandatory broadcast hint (a hint is never
    demoted by AQE — a pathological hot set would OOM at broadcast time);
    instead AQE converts the join to a broadcast at runtime from the hot
    side's TRUE size. Executed plan must show that conversion happened."""
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    out = strip_boilerplate_lines(df, min_docs=3)
    out.collect()  # finalize the adaptive plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan  # AQE-converted, size-based
    assert "CartesianProduct" not in plan


def test_nonvacuous_on_pages_corpus(pages_small):
    """The planted corpus repeats disclaimer/complaint lines across pages, so
    the operator removes real lines at the default threshold (guards against
    the vacuous-oracle failure mode)."""
    pdf = pd.read_parquet(pages_small, columns=["text"])
    hot = boilerplate_line_set(pdf["text"], BOILERPLATE_MIN_DOCS)
    assert len(hot) >= 1
    removed = sum(strip_boilerplate(t, hot)[1] for t in pdf["text"])
    assert removed >= 10


# --- C4 keep-first line dedup ------------------------------------------------


def test_keep_first_semantics(spark):
    from pii_detection_redaction_spark.operators.dedup import dedup_lines_keep_first

    rows = [
        ("a", "shared line\nunique a\n\nshared line"),  # within-doc repeat
        ("b", "shared line\nunique b"),                 # cross-doc repeat
        ("c", "  shared line  \nunique c"),             # trimmed-equal repeat
    ]
    df = spark.createDataFrame(rows, ["url", "text"])
    out = {r.url: r for r in dedup_lines_keep_first(df, id_col="url").collect()}
    # first occurrence (doc a, pos 0) survives; all later repeats drop,
    # blanks are kept
    assert out["a"].text_clean == "shared line\nunique a\n"
    assert out["a"].n_lines_removed == 1
    assert out["b"].text_clean == "unique b" and out["b"].n_lines_removed == 1
    assert out["c"].text_clean == "unique c" and out["c"].n_lines_removed == 1


def test_keep_first_vs_hot_set_strip(spark):
    """C4 keeps one copy of boilerplate; CC-Net hot-set strip keeps none."""
    from pii_detection_redaction_spark.operators.dedup import (
        dedup_lines_keep_first,
        strip_boilerplate_lines,
    )

    rows = [(f"u{i}", "promo footer\nbody " + str(i)) for i in range(5)]
    df = spark.createDataFrame(rows, ["url", "text"])
    c4 = dedup_lines_keep_first(df, id_col="url")
    cc = strip_boilerplate_lines(df, id_col="url", min_docs=3)
    c4_kept = sum("promo footer" in r.text_clean for r in c4.collect())
    cc_kept = sum("promo footer" in r.text_clean for r in cc.collect())
    assert c4_kept == 1 and cc_kept == 0


def test_keep_first_nonvacuous_on_corpus(spark):
    """The pages corpus plants within-doc repeats (arch 3) and cross-doc
    boilerplate — the catalog query must actually remove lines."""
    from pii_detection_redaction_spark.plans.queries import q_line_dedup_pages

    out = q_line_dedup_pages(spark, None)
    removed = out.agg(F.sum("c4first_lines_removed")).collect()[0][0]
    assert removed > 100


def test_keep_first_plan_is_skew_safe(spark):
    """The first-occurrence computation must be an AGGREGATION (map-side
    partial_min collapses hot boilerplate keys), never a window on the line
    key — AQE can split skewed join sides but not window partitions."""
    from pii_detection_redaction_spark.operators.dedup import dedup_lines_keep_first
    from pii_detection_redaction_spark.testing.corpus import ensure_pages_parquet

    df = spark.read.parquet(ensure_pages_parquet(500)).select("url", "text")
    plan = (
        dedup_lines_keep_first(df, id_col="url")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Window") == 0
    assert "partial_min" in plan  # map-side combine: the agg shuffle cannot skew


# --- C4 line filter (content quality, not duplication) -----------------------


def test_c4_line_filter_spec_and_spark_agree(spark):
    from pii_detection_redaction_spark.core.quality import c4_line_clean
    from pii_detection_redaction_spark.functions.quality import c4_filter_lines

    rows = [
        ("a", "Good sentence here.\nshort.\nno terminal punct\nvar x = { y }.\nFine line too!"),
        ("b", 'He said "stop".\nQuoted ending works fine."\n\n   \nTab\twords count too.'),
        ("c", ""),
        # NBSP joins a run in ASCII \S (all three engines): 1 word -> drop
        ("d", "Un\u00a0deux\u00a0trois.\nPlain three words."),
        ("e", None),  # NULL text == '' (coalesced in every engine)
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    got = {r.url: (r.text_clean, r.n_lines_removed)
           for r in c4_filter_lines(df).collect()}
    for url, text in rows:
        clean, removed = c4_line_clean(text)
        assert got[url] == (clean, removed), url
    assert got["d"][0] == "Plain three words."  # NBSP run counted as 1 word
    assert got["e"] == ("", 1)
    # the rules actually bite each way
    assert got["a"][0] == "Good sentence here.\nFine line too!"
    assert got["c"] == ("", 1)  # one empty line, removed


def test_c4_line_filter_plan_is_row_local(spark):
    from pii_detection_redaction_spark.functions.quality import c4_filter_lines

    df = spark.createDataFrame([("a", "x.")], ["url", "text"])
    plan = c4_filter_lines(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_null_text_row_matches_oracle(spark, tmp_path, monkeypatch):
    """One-spec NULL rule, all three engines: a NULL text row yields exactly
    one output row with text_clean='' / 0 removed in BOTH line-dedup
    operators AND their DuckDB oracles (the corpus has no NULLs, so the
    catalog differential can't exercise this — pin it here)."""
    import duckdb
    import pandas as pd

    from pii_detection_redaction_spark.operators import dedup as D
    from pii_detection_redaction_spark.plans import oracles as O
    from pii_detection_redaction_spark.plans import queries as Q

    from pii_detection_redaction_spark.core.quality import BOILERPLATE_MIN_DOCS

    path = str(tmp_path / "null_pages.parquet")
    # the shared line appears in exactly BOILERPLATE_MIN_DOCS docs (the
    # oracle bakes in the spec constant) plus one NULL-text row
    urls = [f"https://a/{i}" for i in range(BOILERPLATE_MIN_DOCS)]
    texts = [f"shared line\nunique {i}" for i in range(BOILERPLATE_MIN_DOCS)]
    pd.DataFrame(
        {"url": urls + ["https://a/null"], "text": texts + [None]}
    ).to_parquet(path)
    monkeypatch.setattr(Q, "oracle_pages_path", lambda: path)

    df = spark.read.parquet(path)
    for op, sql_fn, kw in (
        (D.strip_boilerplate_lines, O._line_dedup_pages_sql, {}),
        (D.dedup_lines_keep_first, O._c4_line_dedup_sql, {}),
    ):
        got = {
            r.url: (r.text_clean, r.n_lines_removed)
            for r in op(df, id_col="url", text_col="text", **kw).collect()
        }
        exp = {
            u: (t, n) for u, t, n in duckdb.sql(sql_fn()).fetchall()
        }
        assert got == exp, op.__name__
        assert got["https://a/null"] == ("", 0), op.__name__


@pytest.mark.parametrize("strategy", ["join", "array"])
def test_strip_boilerplate_null_text_both_strategies(spark, strategy):
    """NULL text behaves as '' in BOTH strategies (the array form used to
    skip the coalesce, emitting NULL text_clean and breaking the pinned
    strategy-equality contract on NULL-text corpora)."""
    docs = list(DOCS) + [("znull", None)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["text_clean"], r["n_lines_removed"])
        for r in strip_boilerplate_lines(df, min_docs=3, strategy=strategy).collect()
    }
    assert got["znull"] == ("", 0)
