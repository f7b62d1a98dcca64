"""Analytics extensions: grouping sets, JSON query functions, exact
percentiles, value-window frames, skew-salted joins, approx sketches.

These extend the reference surface (SURVEY.md §2.B23/B25/B26 mark
grouping sets and query-time JSON as absent from SQLite, and sketches
as scale headroom) with the operators a 100 TB pipeline leans on:

- grouping sets compute multi-level totals in ONE shuffle instead of a
  union of N aggregations;
- `get_json_object` keeps semi-structured probing JVM-side (codegen'd
  Jackson path eval) instead of a Python UDF;
- `percentile` is exact (full sort per group) for the oracle;
  `approx_percentile`/`approx_count_distinct` are the cluster-scale
  variants — fixed-size sketches, mergeable map-side, no full sort;
- the salted join splits one hot key across S reducers — the manual
  fallback when AQE skew-splitting can't help (e.g. a skewed
  broadcast-ineligible build side).
"""

from __future__ import annotations

import pandas as pd  # module-scope: pandas_udf type hints resolve here

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqawk_spark.operators.registry import query
from sqawk_spark.operators.session_cache import SessionCache
from sqawk_spark.operators.tables import load_tables


@query(
    "grouping_sets_agg",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B23 GROUPING SETS — three aggregation levels in one shuffle
    (Spark expands sets map-side; a naive UNION ALL of three GROUP BYs
    would scan the fact table three times)."""
    load_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "json_extract_props",
    oracle="""
        SELECT event_type,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS max_k
        FROM events GROUP BY event_type
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B25 query-time JSON — `get_json_object` path evaluation stays in
    whole-stage codegen (SQLite would need the json1 extension; the
    reference only flattens JSON at parse time, lib/parsers/json.tcl)."""
    t = load_tables(spark, sf_dir, ("events",))
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        t["events"]
        .groupBy("event_type")
        .agg(F.sum(k).alias("sum_k"), F.max(k).alias("max_k"))
    )


@query(
    "percentile_stats",
    oracle="""
        SELECT l_returnflag,
               quantile_disc(l_extendedprice, 0.5) AS median_price,
               quantile_disc(l_extendedprice, 0.95) AS p95_price
        FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete per-group percentiles — returns actual data values, so
    the comparison is exact (continuous interpolation differs between
    engines by half an ULP). accuracy=1e6 makes the sketch exact at
    test scale; at 100 TB drop accuracy to the default 10000 for a
    fixed-memory mergeable sketch with map-side partial aggregation
    and no per-group sort."""
    # r11: ONE sketch per group serving both percentiles — the two
    # separate percentile_approx aggregates each built their own
    # accuracy-1e6 QuantileSummaries over every row (the dominant cost
    # of this query); the array form builds one and queries it twice
    # (guide §1.2 "don't compute things you throw away"). Same
    # discrete values out.
    t = load_tables(spark, sf_dir, ("lineitem",))
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_extendedprice",
                F.array(F.lit(0.5), F.lit(0.95)),
                F.lit(1_000_000),
            ).alias("pcts")
        )
        .select(
            "l_returnflag",
            F.col("pcts")[0].alias("median_price"),
            F.col("pcts")[1].alias("p95_price"),
        )
    )


@query(
    "window_first_last",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               round(first_value(l_extendedprice) OVER w, 2) AS first_price,
               round(last_value(l_extendedprice) OVER w, 2) AS last_price,
               round(nth_value(l_extendedprice, 2) OVER w, 2) AS second_price
        FROM lineitem
        WINDOW w AS (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_extendedprice
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19 value windows — first/last/nth over an unbounded ROWS frame
    (the frame matters: default RANGE .. CURRENT ROW makes last_value
    degenerate). One shuffle on l_orderkey, sort within partition.
    l_extendedprice tie-breaks duplicate line numbers so the picked
    values are deterministic in both engines."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    w = (
        W.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_extendedprice")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return t["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.first("l_extendedprice").over(w), 2).alias("first_price"),
        F.round(F.last("l_extendedprice").over(w), 2).alias("last_price"),
        F.round(F.nth_value("l_extendedprice", 2).over(w), 2).alias(
            "second_price"
        ),
    )


SALT_BUCKETS = 4  # demo scale; size to observed hot-key skew in production


@query(
    "join_skew_salted",
    oracle="""
        SELECT o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted shuffle join: the fact side derives a deterministic
    salt from a non-key column; the dim side is replicated across all
    SALT_BUCKETS. A hot l_orderkey now lands on SALT_BUCKETS reducers
    instead of one. This is the manual technique for when AQE's skew splitting
    (enabled in session.py) can't apply — e.g. skew behind an
    aggregation, or a build side too big to broadcast. Result is
    byte-identical to the plain join (oracle proves it)."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    # hash-derived salt: uniform across all buckets (l_linenumber alone
    # is 1..7, which would leave one replicated bucket unmatched)
    fact = t["lineitem"].withColumn(
        "salt",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SALT_BUCKETS)),
    )
    dim = t["orders"].withColumn(
        "salt",
        F.explode(F.array([F.lit(i) for i in range(SALT_BUCKETS)])),
    )
    return (
        fact.join(
            dim,
            (fact.l_orderkey == dim.o_orderkey) & (fact.salt == dim.salt),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query("approx_stats", oracle=None)  # sketch values are engine-specific
def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B26 scale path — HyperLogLog++ distinct counts and quantile
    sketches. No oracle: HLL/t-digest estimates are engine-specific by
    construction (DuckDB's approx_count_distinct gives different
    estimates). The exact twins (count_distinct, percentile_stats) are
    oracle-checked; this entry is the O(1)-memory, mergeable,
    single-shuffle variant a 100 TB job would run. rsd=0.01 bounds the
    HLL error at ~1%."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias(
                "approx_orders"
            ),
            F.round(
                F.approx_percentile(
                    "l_extendedprice", F.lit(0.5), F.lit(10000)
                ),
                2,
            ).alias("approx_median"),
        )
    )


@query(
    "approx_stats_bounds",
    oracle="""
        SELECT l_returnflag, 'distinct_orders' AS metric,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_value,
               CAST(1 AS INTEGER) AS within_bound
        FROM lineitem GROUP BY l_returnflag
        UNION ALL
        SELECT l_returnflag, 'median_price_rank' AS metric,
               CAST(count(*) AS BIGINT) AS exact_value,
               CAST(1 AS INTEGER) AS within_bound
        FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_stats_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable bounds twin for ``approx_stats`` (the same
    pattern that took LSH/IVF/PQ from rows-only to hard-green): sketch
    values are engine-specific, so the row emits only what BOTH
    engines can agree on — the exact value and an integer flag
    asserting the sketch landed inside its documented error bound.
    The DuckDB oracle recomputes the exact side and pins every flag
    to 1, so a broken sketch (or a broken bound) turns the driver row
    red at value level.

    Bounds checked, both integer-exact:

    - HLL++ (``rsd=0.01``): |approx − exact| ≤ max(⌈5·rsd·exact⌉, 2)
      — five standard deviations of the documented relative error
      (at these cardinalities HLL++'s sparse mode is in fact exact,
      so the flag also pins that behavior);
    - ``approx_percentile(accuracy=10000)``: the returned value is an
      actual element whose RANK must lie within n/accuracy of the
      target rank n/2. The rank interval of the returned value,
      [cnt_lt+1, cnt_le], is recovered by broadcasting the 3 group
      medians back onto lineitem (one conditional-count pass); the
      flag asserts it intersects [n/2 − tol, n/2 + tol] with
      tol = ⌈n/accuracy⌉ + 1, in doubled-rank integer units so no
      division ever happens.

    Plan shape: two scans of lineitem (sketch+exact agg, rank-count
    agg) + one broadcast join of a 3-row frame — scale-safe."""
    t = load_tables(spark, sf_dir, ("lineitem",))
    li = t["lineitem"]
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias(
            "approx_orders"
        ),
        F.approx_percentile(
            "l_extendedprice", F.lit(0.5), F.lit(10000)
        ).alias("approx_median"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.count("*").alias("n"),
    )
    ranks = (
        li.join(
            F.broadcast(approx.select("l_returnflag", "approx_median")),
            "l_returnflag",
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(
                (F.col("l_extendedprice") < F.col("approx_median")).cast(
                    "long"
                )
            ).alias("cnt_lt"),
            F.sum(
                (F.col("l_extendedprice") <= F.col("approx_median")).cast(
                    "long"
                )
            ).alias("cnt_le"),
        )
    )
    b = approx.join(ranks, "l_returnflag")
    hll_ok = (
        F.abs(F.col("approx_orders") - F.col("exact_orders"))
        <= F.greatest(
            F.ceil(F.col("exact_orders") * F.lit(0.05)), F.lit(2)
        )
    ).cast("int")
    # doubled-rank units: interval [cnt_lt+1, cnt_le] must intersect
    # [n/2 - tol, n/2 + tol], tol = ceil(n/10000) + 1
    tol2 = 2 * (F.ceil(F.col("n") / F.lit(10000)) + F.lit(1))
    med_ok = (
        (2 * (F.col("cnt_lt") + 1) <= F.col("n") + tol2)
        & (2 * F.col("cnt_le") >= F.col("n") - tol2)
    ).cast("int")
    return b.select(
        "l_returnflag",
        F.lit("distinct_orders").alias("metric"),
        F.col("exact_orders").alias("exact_value"),
        hll_ok.alias("within_bound"),
    ).unionAll(
        b.select(
            "l_returnflag",
            F.lit("median_price_rank").alias("metric"),
            F.col("n").alias("exact_value"),
            med_ok.alias("within_bound"),
        )
    )


@query(
    "udtf_tokenize",
    oracle="""
        WITH s AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents WHERE doc_id < 50
        )
        SELECT doc_id,
               CAST(unnest(range(len(toks))) AS INTEGER) AS pos,
               unnest(toks) AS token
        FROM s
    """,
)
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29 UDTF surface — the reference exposes only scalar Tcl
    functions (sqawk-dev.tcl:199-215); Spark 4 adds Python table
    functions, demonstrated here as a LATERAL tokenizer. The UDTF is
    Arrow-batched per input row partition; at scale this is the shape
    for fan-out transforms whose output cardinality varies per row
    (tokenization, n-gram expansion, citation extraction). The class
    is defined in-function so cloudpickle ships it by value — import-
    by-reference would break on executors without this repo installed.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class Tokenize:
        def eval(self, text: str):
            for i, tok in enumerate((text or "").split()):
                yield i, tok

    spark.udtf.register("regex_tokens", Tokenize)
    load_tables(spark, sf_dir, ("documents",))
    return spark.sql(
        """
        SELECT doc_id, t.pos, t.token
        FROM documents, LATERAL regex_tokens(text) AS t
        WHERE doc_id < 50
        """
    )


@query(
    "udaf_geomean",
    oracle="""
        SELECT l_returnflag,
               round(exp(avg(ln(l_quantity))), 6) AS geomean_qty,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem WHERE l_quantity > 0
        GROUP BY l_returnflag
    """,
)
def udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B29 UDAF surface — a Pandas grouped-aggregate UDF (geometric
    mean), the escape hatch for aggregations Spark lacks natively.
    Arrow ships each group's column as one numpy vector; log-domain
    averaging keeps it overflow-free. The reference has no UDAF
    mechanism at all (only scalar Tcl functions). Defined in-function
    so cloudpickle ships it by value. At 100 TB note the caveat: a
    GROUPED_AGG pandas UDF has NO partial aggregation — every group's
    values ship to one executor — so keys must have bounded group
    sizes; for algebraic aggregates like this one, the pure-SQL
    exp(avg(ln x)) form (the oracle) is preferred at scale because it
    DOES combine map-side."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        import numpy as np

        return float(np.exp(np.log(v.to_numpy()).mean()))

    # Spark disallows mixing grouped-agg pandas UDFs with JVM
    # aggregates in one agg(), so the row count is a pandas UDF too
    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    t = load_tables(spark, sf_dir, ("lineitem",))
    return (
        t["lineitem"]
        .filter(F.col("l_quantity") > 0)
        .groupBy("l_returnflag")
        .agg(
            F.round(geomean("l_quantity"), 6).alias("geomean_qty"),
            n_rows("l_quantity").alias("n"),
        )
    )


# bucketed tables are written once per session and sf_dir; the tag
# keeps scale factors apart in the shared warehouse database
_BUCKETED = SessionCache()
N_BUCKETS = 16


@query(
    "join_bucketed",
    oracle="""
        SELECT o_orderpriority,
               round(sum(l_extendedprice), 2) AS gross,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written with
    bucketBy(N, orderkey) + sortBy, so the sort-merge join consumes
    pre-shuffled, pre-sorted buckets — ZERO exchange on the join keys
    (pinned by tests/test_plans.py). This is the pay-once-at-write
    pattern for 100 TB fact-to-fact joins that recur: the shuffle
    happens at ingestion time, every subsequent join is a merge of
    co-located buckets. Result identical to the plain join (oracle)."""
    tag = "sf" + "".join(c for c in sf_dir if c.isdigit())
    li_name, o_name = f"bucketdb.lineitem_{tag}", f"bucketdb.orders_{tag}"

    def write() -> bool:
        # fresh per-process location: the default warehouse dir outlives
        # the in-memory catalog, and saveAsTable refuses to create a
        # "new" table over a leftover directory
        import tempfile

        loc = tempfile.mkdtemp(prefix="sqawk_bucketdb_")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{loc}'")
        t = load_tables(spark, sf_dir, ("lineitem", "orders"))
        (
            t["lineitem"]
            .select("l_orderkey", "l_extendedprice")
            .write.bucketBy(N_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(li_name)
        )
        (
            t["orders"]
            .select("o_orderkey", "o_orderpriority")
            .write.bucketBy(N_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(o_name)
        )
        return True

    _BUCKETED.get_or_build(spark, (sf_dir,), write)
    li = spark.table(li_name)
    o = spark.table(o_name)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("gross"),
            F.count("*").alias("n_items"),
        )
    )


_PROFILE_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
)

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_null,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_value,
               CAST(max({c}) AS VARCHAR) AS max_value
        FROM orders"""
    for c in _PROFILE_COLS
)


@query("data_profile_orders", oracle=_PROFILE_ORACLE)
def data_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling — the one-scan column report (row count, null
    count, exact distinct count, min/max) every ingest pipeline runs
    before accepting a drop. min/max are computed on the NATIVE type
    and then rendered to string (lexicographic min of '10' < '9' would
    be wrong for numerics).

    One aggregation pass produces a single wide row; ``stack``
    unpivots it to a row per column. The exact per-column distincts
    make Spark expand the input once per column — the honest cost of
    exactness, bounded and documented; at 100 TB swap in
    approx_count_distinct (one pass, no expand) and keep the schema.
    """
    t = load_tables(spark, sf_dir, ("orders",))
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"null_{c}"),
            F.countDistinct(c).cast("long").alias(f"dist_{c}"),
            F.min(c).cast("string").alias(f"min_{c}"),
            F.max(c).cast("string").alias(f"max_{c}"),
        ]
    wide = t["orders"].agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', null_{c}, dist_{c}, min_{c}, max_{c}" for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(column_name, n_null, n_distinct, min_value, max_value)",
        "n_rows",
    ).select(
        "column_name", "n_rows", "n_null", "n_distinct",
        "min_value", "max_value",
    )


def _zorder_expr(a: str, b: str, bits: int = 16) -> str:
    """Bit-interleave two ``bits``-wide nonnegative integer columns
    into one Morton (z-order) key — identical SQL text for Spark and
    DuckDB (both support ``>>``/``&``/``<<``)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


# normalize x into 0..65535 given inclusive min/max columns; floor()
# BEFORE the bigint cast — Spark truncates a double cast, DuckDB
# ROUNDS it, floor-then-cast is exact on both
def _norm16(x: str, lo: str, hi: str) -> str:
    return (
        f"coalesce(CAST(floor(({x} - {lo}) * 65535.0 /"
        f" nullif({hi} - {lo}, 0)) AS BIGINT), 0)"
    )


_Z_BUCKET_SHIFT = 20  # 32-bit z key >> 20 → ≤4096 layout buckets


@query(
    "zorder_layout_orders",
    oracle=f"""
        WITH d AS (
            SELECT o_custkey,
                   date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS day
            FROM orders
        ),
        lim AS (
            SELECT min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
                   min(day) AS min_day, max(day) AS max_day
            FROM d
        ),
        norm AS (
            SELECT o_custkey, day,
                   {_norm16("o_custkey", "min_ck", "max_ck")} AS na,
                   {_norm16("day", "min_day", "max_day")} AS nb
            FROM d, lim
        ),
        keyed AS (
            SELECT ({_zorder_expr("na", "nb")}) >> {_Z_BUCKET_SHIFT}
                       AS z_bucket,
                   o_custkey, day
            FROM norm
        )
        SELECT z_bucket,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(max(o_custkey) - min(o_custkey) AS BIGINT)
                   AS custkey_span,
               CAST(max(day) - min(day) AS BIGINT) AS day_span
        FROM keyed GROUP BY z_bucket
    """,
)
def zorder_layout_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key for two-dimensional data skipping —
    the clustered-write primitive behind Delta/Iceberg OPTIMIZE
    ZORDER: interleaving the bits of (customer, order-day) gives ONE
    sort key whose contiguous ranges are small rectangles in BOTH
    dimensions, so parquet row-group min/max stats prune scans for
    either predicate after a single `repartitionByRange(z)` write.

    The operator computes the 32-bit z key (16+16 bits, min/max
    normalized) and reports per-bucket (top-12-bits) row counts and
    per-dimension spans — the bounded-span output IS the proof the
    layout skips: a linear sort by custkey would show day_span ≈ the
    whole calendar in every bucket.

    Scale: one scan for the min/max limits (4-value broadcast via
    cross join), one scan + map-side-partial groupBy for the buckets;
    the interleave is 32 codegen'd bit terms, no UDF, and the same
    SQL text runs on both engines (Spark 4 and DuckDB share the
    ``>>``/``&``/``<<`` operators). At 100 TB the groupBy is ≤4096
    groups — the shuffle moves kilobytes."""
    t = load_tables(spark, sf_dir, ("orders",))
    d = t["orders"].select(
        "o_custkey",
        F.expr(
            "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
        ).cast("long").alias("day"),
    )
    lim = d.agg(
        F.min("o_custkey").alias("min_ck"),
        F.max("o_custkey").alias("max_ck"),
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
    )
    # normalize ONCE per row in a separate projection — splicing the
    # normalization macro into all 32 interleave terms re-evaluates the
    # divisions 32x per row and blows the expression past the codegen
    # method limit (measured ~10x slower interpreted fallback)
    norm = d.crossJoin(F.broadcast(lim)).select(
        "o_custkey",
        "day",
        F.expr(_norm16("o_custkey", "min_ck", "max_ck")).alias("na"),
        F.expr(_norm16("day", "min_day", "max_day")).alias("nb"),
    )
    keyed = norm.select(
        F.expr(
            f'({_zorder_expr("na", "nb")}) >> {_Z_BUCKET_SHIFT}'
        ).alias("z_bucket"),
        "o_custkey",
        "day",
    )
    return keyed.groupBy("z_bucket").agg(
        F.count("*").alias("n_rows"),
        (F.max("o_custkey") - F.min("o_custkey")).alias("custkey_span"),
        (F.max("day") - F.min("day")).alias("day_span"),
    )


@query(
    "market_basket_pairs",
    oracle="""
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
        item AS (
            SELECT l_partkey, count(*) AS supp FROM li GROUP BY 1
        ),
        pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   count(*) AS support
            FROM li a
            JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
        )
        SELECT p.part_a, p.part_b,
               CAST(p.support AS BIGINT) AS support,
               CAST(ia.supp AS BIGINT) AS supp_a,
               CAST(ib.supp AS BIGINT) AS supp_b,
               round(p.support * 1.0 * n.n_orders
                     / (ia.supp * ib.supp), 6) AS lift
        FROM pairs p
        JOIN item ia ON p.part_a = ia.l_partkey
        JOIN item ib ON p.part_b = ib.l_partkey, n
        WHERE p.support >= 2
    """,
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset pair mining (the A-priori support/lift core)
    over order baskets: parts that co-occur in ≥ 2 orders, with each
    pair's support, the items' individual supports, and lift =
    N·supp(ab) / (supp(a)·supp(b)).

    The quadratic hazard of basket mining is the within-basket pair
    expansion — here it is bounded by construction: pairs are
    generated by an ORDER-KEYED equi-self-join of the distinct
    (order, part) list, so the fan-out per order is C(k,2) with k =
    basket size (~4 for this schema, and bounded by per-order line
    limits in any retail schema) — never a part×part cross product.
    The item-support table is part-cardinality-sized and joins the
    pair stream (AQE broadcasts it when small); the order count is a
    1-row broadcast. Lift's float division happens once per surviving
    pair on integer inputs < 2⁵³ — identical in both engines;
    support thresholds are pure integer compares.

    Scale: one shuffle keyed on orderkey (the self-join), one on the
    pair — both well-distributed; the support filter collapses the
    pair stream before the dimension joins. At 100 TB this is the
    textbook distributed co-occurrence plan."""
    # (r11 note: a groupBy+collect_set basket formulation — one
    # exchange, row-local C(k,2) expansion — was tried and REJECTED by
    # measurement: collect_set forces ObjectHashAggregate out of
    # whole-stage codegen and re-runs the final set aggregation once
    # per consumer branch, which cost more than the DISTINCT+self-join
    # it replaced.)
    #
    # r12: the r11 claim that the DISTINCT's exchange is "reused by
    # all four consumers" was checked against the formatted plan and
    # is FALSE — the four consumer subtrees differ at the scan
    # (different pushed IsNotNull filters, and the n_orders branch
    # prunes l_partkey), so their exchanges do not canonicalize equal
    # and the 600k-row distinct ran three separate times per
    # execution. The fix (guide §2.4 "single materialization point"):
    # an explicit repartition(l_orderkey) BEFORE the dedup gives every
    # consumer the identical exchange subtree (one shuffle, reused by
    # AQE), and hash(l_orderkey) co-partitions both sides of the
    # basket self-join while still satisfying the (orderkey, partkey)
    # dedup aggregate via partial-cluster-key distribution — so the
    # join needs no further exchange either. Lineitem has almost no
    # duplicate (orderkey, partkey) rows, so the map-side partial
    # aggregation the old DISTINCT-first shape performed before its
    # exchange collapsed nothing (the docs_cross_source_overlap
    # counter-case does not apply).
    t = load_tables(spark, sf_dir, ("lineitem",))
    # The explicit not-null filter exists to make all four consumer
    # subtrees canonically IDENTICAL: without it Catalyst infers
    # different IsNotNull sets per branch (from each branch's own join
    # conditions) and pushes them below the repartition, which defeats
    # exchange reuse. TPC-H join keys are non-null by schema, so the
    # filter drops nothing and the oracle's unfiltered DISTINCT sees
    # the same rows.
    li = (
        t["lineitem"]
        .select("l_orderkey", "l_partkey")
        .filter(
            F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
        )
        .repartition("l_orderkey")
        .dropDuplicates(["l_orderkey", "l_partkey"])
    )
    # n_orders via the basket-size frame rather than countDistinct:
    # a bare countDistinct(l_orderkey) branch would column-prune
    # l_partkey below the shared exchange (a different scan subtree —
    # no reuse); counting rows of groupBy(l_orderkey) over the
    # deduplicated frame needs both columns, keeps the branch
    # byte-identical below the exchange, and computes the same number.
    n = (
        li.groupBy("l_orderkey")
        .agg(F.count("*").alias("k"))
        .select(F.count("*").alias("n_orders"))
    )
    item = li.groupBy("l_partkey").agg(F.count("*").alias("supp"))
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 2)
    )
    ia = item.select(
        F.col("l_partkey").alias("part_a"), F.col("supp").alias("supp_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("part_b"), F.col("supp").alias("supp_b")
    )
    return (
        pairs.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "support",
            "supp_a",
            "supp_b",
            F.round(
                F.col("support")
                * F.col("n_orders")
                / (F.col("supp_a") * F.col("supp_b")),
                6,
            ).alias("lift"),
        )
    )
