"""Differential test: every Spark query vs its DuckDB oracle, exactly.

Replicates the driver's CORRECTNESS gate locally (row count + schema-ish +
exact values after column-name sort), at sf0.001 for speed; the driver runs
sf0.01. Exact equality (no tolerance) — the rounding discipline in the query
catalog is what makes that possible.
"""

import os

import duckdb
import pandas as pd
import pytest

# the documents-table goldens must be computed from the SAME sf dir the
# Spark queries under test read (the driver uses sf0.01; locally sf0.001)
os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = os.environ.get(
    "PII_TEST_SF_DIR", "/root/testdata/sf0.001"
)

import __spark_entry__ as entrymod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb(sf001_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf001_dir}/{t}.parquet')"
        )
    return con


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


from pii_detection_redaction_spark.testing.diffnorm import (
    normalize_for_diff as _normalize,
)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_duckdb_oracle(name, spark, sf001_dir, ddb):
    sdf = QUERIES[name](spark, sf001_dir).toPandas()
    odf = ddb.execute(ORACLES[name]).df()
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} vs {len(odf)}"
    a, b = _normalize(sdf), _normalize(odf)
    assert list(a.columns) == list(b.columns), f"{name}: columns {list(a.columns)} vs {list(b.columns)}"
    pd.testing.assert_frame_equal(a, b, check_exact=True, obj=name)


def test_every_query_has_a_value_oracle():
    """Catalog invariant since round 3: zero rows-only entries — the golden
    parquet machinery closes the non-SQL-expressible gap. The oracle map
    holds exactly the catalog's keys, and every top-level ``q_*`` in
    ``plans.queries`` is reached from a catalog entry (directly or through
    another ``q_*``), so no query lingers once its entry is merged away."""
    import types

    from pii_detection_redaction_spark.plans import queries as Q

    assert set(ORACLES) == set(QUERIES)

    def names(code):
        out = set(code.co_names)
        for c in code.co_consts:
            if isinstance(c, types.CodeType):
                out |= names(c)
        return out

    defined = {
        n for n, v in vars(Q).items()
        if n.startswith("q_") and isinstance(v, types.FunctionType)
    }
    reached, todo = set(), [f.__name__ for f in Q.QUERIES.values()]
    while todo:
        n = todo.pop()
        if n not in reached:
            reached.add(n)
            todo += sorted(names(getattr(Q, n).__code__) & defined)
    assert sorted(defined - reached) == []


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) == 500
    assert set(df.columns) == {"doc_id", "lang_pred", "ppl", "keep"}
