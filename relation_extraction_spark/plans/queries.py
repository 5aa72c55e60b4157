"""Oracle-checked query registry — one entry per implemented operator
(SURVEY.md §2; driver contract __spark_entry__.py).

``QUERIES[name] = (spark_fn, oracle_sql_or_None)``. The driver runs the
Spark side at sf0.01 and diffs against the DuckDB oracle (row-count +
schema + order-insensitive value-hash). Conventions that make the hash
comparable (SURVEY.md §5.1):

- every computed column is aliased IDENTICALLY on both sides;
- double aggregates are ``round()``-ed on both sides (FP sums are not
  associative; partial aggregation order differs between engines);
- timestamps are formatted to 'yyyy-MM-dd HH:mm:ss' strings on both
  sides (session TZ pinned UTC in session.py);
- arrays are sorted then joined to '|' strings on both sides;
- every top-k / rank has a total-order tiebreak so both engines pick
  identical rows.

Scale notes are inline per query: each Spark plan is written the way it
should run at 100 TB (broadcast hints on dims, partial aggs).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = (fn, sql)
        return fn

    return deco


def T(spark: SparkSession, sf: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/{name}.parquet")


def _spread(spark: SparkSession, df: DataFrame, mult: int = 2) -> DataFrame:
    """Repartition a few-large-files input to full parallelism before an
    expensive explode stage. The sf fixtures are ONE parquet split, which
    would otherwise serialize the whole map side on a single core; at
    100 TB the scan has thousands of splits and callers skip this.
    Worth it ONLY when the map stage dwarfs a shuffle + task-scheduling
    round trip (the n-gram shingle explode qualifies: A/B 5.6s spread vs
    7.6s unspread; the ~1-CPU-second NLP fixture queries do not)."""
    return df.repartition(spark.sparkContext.defaultParallelism * mult)


# ---------------------------------------------------------------- §2.2 P1-P4


@q(
    "project_compute",
    "SELECT doc_id, lang, upper(source) AS source_u, n_chars + 1 AS n_chars1 "
    "FROM documents",
)
def q_project(spark, sf):
    return T(spark, sf, "documents").select(
        "doc_id",
        "lang",
        F.upper("source").alias("source_u"),
        (F.col("n_chars") + 1).alias("n_chars1"),
    )


@q(
    "filter_predicate",
    "SELECT doc_id, n_chars FROM documents "
    "WHERE lang = 'en' AND n_chars BETWEEN 100 AND 400",
)
def q_filter(spark, sf):
    # predicate is sargable -> pushed into the parquet scan (verified in
    # tests/test_plans.py); at 100 TB this is row-group pruning.
    return (
        T(spark, sf, "documents")
        .filter((F.col("lang") == "en") & F.col("n_chars").between(100, 400))
        .select("doc_id", "n_chars")
    )


@q(
    "conditional_case",
    "SELECT CASE WHEN n_chars < 150 THEN 'small' WHEN n_chars < 350 THEN "
    "'medium' ELSE 'large' END AS size_bucket, count(*) AS n "
    "FROM documents GROUP BY 1",
)
def q_conditional(spark, sf):
    return (
        T(spark, sf, "documents")
        .select(
            F.when(F.col("n_chars") < 150, "small")
            .when(F.col("n_chars") < 350, "medium")
            .otherwise("large")
            .alias("size_bucket")
        )
        .groupBy("size_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "null_handling",
    "SELECT coalesce(nullif(event_type, 'error'), 'unknown') AS etype, "
    "count(*) AS n FROM events GROUP BY 1",
)
def q_nulls(spark, sf):
    return (
        T(spark, sf, "events")
        .select(
            F.coalesce(
                F.nullif(F.col("event_type"), F.lit("error")), F.lit("unknown")
            ).alias("etype")
        )
        .groupBy("etype")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------- §2.3 joins


@q(
    "join_broadcast",
    "SELECT p_brand, count(*) AS n, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
    "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand",
)
def q_join_broadcast(spark, sf):
    # J1: dimension side explicitly broadcast — at 100 TB the fact side
    # never shuffles for this join.
    li = T(spark, sf, "lineitem")
    part = T(spark, sf, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@q(
    "join_sort_merge",
    "SELECT o_orderpriority, count(*) AS n, "
    "round(sum(l_quantity), 2) AS total_qty "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
    "GROUP BY o_orderpriority",
)
def q_join_smj(spark, sf):
    # J2: large-large equi join; planner picks SMJ/shuffled-hash above the
    # broadcast threshold, AQE re-plans at runtime.
    o = T(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    li = T(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


@q(
    "join_left_semi",
    "SELECT o_orderkey, o_orderpriority FROM orders WHERE EXISTS "
    "(SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)",
)
def q_join_semi(spark, sf):
    o = T(spark, sf, "orders")
    li = T(spark, sf, "lineitem").filter(F.col("l_quantity") > 45)
    return o.join(
        li, o.o_orderkey == li.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_orderpriority")


@q(
    "join_left_anti",
    "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS "
    "(SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
)
def q_join_anti(spark, sf):
    c = T(spark, sf, "customer")
    o = T(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@q(
    "join_left_outer",
    "SELECT c_mktsegment, count(*) AS n_rows, count(o_orderkey) AS n_orders "
    "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
    "GROUP BY c_mktsegment",
)
def q_join_outer(spark, sf):
    c = T(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    o = T(spark, sf, "orders").select("o_custkey", "o_orderkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )


@q(
    "join_asof_latest",
    "SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, "
    "value FROM (SELECT *, row_number() OVER (PARTITION BY user_id "
    "ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1",
)
def q_join_asof(spark, sf):
    # J9: as-of/latest-snapshot expressed as a window, not a join — one
    # shuffle on the partition key, no self-join.
    from ..operators.asof import latest_per_key

    ev = T(spark, sf, "events")
    return latest_per_key(ev, ["user_id"], "ts", tiebreak="event_id").select(
        "user_id",
        "event_id",
        F.date_format("ts", TS_FMT_SPARK).alias("ts_s"),
        "value",
    )


# ----------------------------------------------------------- §2.4 aggregates


@q(
    "agg_hash_groupby",
    "SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value "
    "FROM events GROUP BY event_type",
)
def q_agg(spark, sf):
    return (
        T(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@q(
    "agg_distinct",
    "SELECT DISTINCT lang, source FROM documents",
)
def q_distinct(spark, sf):
    return T(spark, sf, "documents").select("lang", "source").distinct()


@q(
    "agg_collect_set",
    "SELECT lang, array_to_string(list_sort(list(DISTINCT source)), '|') "
    "AS sources FROM documents GROUP BY lang",
)
def q_collect_set(spark, sf):
    # A4: collect_set order is nondeterministic -> array_sort before join
    # (determinism rule, SURVEY.md §7.4.5).
    return (
        T(spark, sf, "documents")
        .groupBy("lang")
        .agg(
            F.array_join(F.array_sort(F.collect_set("source")), "|").alias(
                "sources"
            )
        )
    )


@q(
    "agg_stats",
    "SELECT l_returnflag, count(*) AS n, round(avg(l_quantity), 4) AS avg_qty, "
    "round(min(l_extendedprice), 2) AS min_price, "
    "round(max(l_extendedprice), 2) AS max_price, "
    "round(sum(l_extendedprice), 2) AS sum_price "
    "FROM lineitem GROUP BY l_returnflag",
)
def q_agg_stats(spark, sf):
    return (
        T(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@q(
    "agg_rollup",
    "SELECT coalesce(lang, 'ALL') AS lang_g, coalesce(source, 'ALL') AS "
    "source_g, count(*) AS n FROM documents GROUP BY ROLLUP(lang, source)",
)
def q_rollup(spark, sf):
    return (
        T(spark, sf, "documents")
        .rollup("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang_g"),
            F.coalesce("source", F.lit("ALL")).alias("source_g"),
            "n",
        )
    )


@q(
    "agg_cube",
    "SELECT coalesce(lang, 'ALL') AS lang_g, coalesce(source, 'ALL') AS "
    "source_g, CAST(sum(n_chars) AS BIGINT) AS chars "
    "FROM documents GROUP BY CUBE(lang, source)",
)
def q_cube(spark, sf):
    return (
        T(spark, sf, "documents")
        .cube("lang", "source")
        .agg(F.sum("n_chars").alias("chars"))
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang_g"),
            F.coalesce("source", F.lit("ALL")).alias("source_g"),
            "chars",
        )
    )


@q(
    "agg_conditional_countif",
    "SELECT user_id, count(*) AS n, "
    "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_errors FROM events GROUP BY user_id",
)
def q_countif(spark, sf):
    return (
        T(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).alias("n_errors"),
        )
    )


# -------------------------------------------------------------- §2.5 windows


@q(
    "window_row_number_top1",
    "SELECT user_id, event_id, value FROM (SELECT user_id, event_id, value, "
    "row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) "
    "AS rn FROM events) WHERE rn = 1",
)
def q_window_top1(spark, sf):
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        T(spark, sf, "events")
        .select("user_id", "event_id", "value", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@q(
    "window_dense_rank",
    "SELECT event_type, event_id, value FROM (SELECT event_type, event_id, "
    "value, dense_rank() OVER (PARTITION BY event_type ORDER BY value DESC, "
    "event_id) AS dr FROM events) WHERE dr <= 3",
)
def q_dense_rank(spark, sf):
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    return (
        T(spark, sf, "events")
        .select(
            "event_type", "event_id", "value", F.dense_rank().over(w).alias("dr")
        )
        .filter(F.col("dr") <= 3)
        .drop("dr")
    )


@q(
    "window_lag_gap",
    "SELECT user_id, event_id, coalesce(CAST(floor((epoch_us(ts) - "
    "epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) "
    "/ 1000000.0) AS BIGINT), -1) AS gap_s FROM events",
)
def q_lag(spark, sf):
    # microsecond-exact on both sides, floored identically (unix_timestamp
    # truncates to seconds per-value and would drift by +-1s vs the oracle)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_micros(F.col("ts").cast("timestamp"))  # ntz->ltz, UTC session
    return T(spark, sf, "events").select(
        "user_id",
        "event_id",
        F.coalesce(
            F.floor((ep - F.lag(ep).over(w)) / 1000000.0), F.lit(-1)
        ).alias("gap_s"),
    )


@q(
    "window_running_sum",
    "SELECT user_id, event_id, round(sum(value) OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    "), 2) AS running FROM events",
)
def q_running_sum(spark, sf):
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return T(spark, sf, "events").select(
        "user_id", "event_id", F.round(F.sum("value").over(w), 2).alias("running")
    )


@q(
    "window_ntile",
    "SELECT decile, count(*) AS n, round(min(value), 2) AS lo, "
    "round(max(value), 2) AS hi FROM (SELECT value, ntile(10) OVER "
    "(ORDER BY value, event_id) AS decile FROM events) GROUP BY decile",
)
def q_ntile(spark, sf):
    w = Window.orderBy("value", "event_id")
    return (
        T(spark, sf, "events")
        .select("value", F.ntile(10).over(w).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


# ----------------------------------------------------- §2.6 sort/limit/top-k


@q(
    "sort_global_limit",
    "SELECT doc_id, n_chars FROM documents "
    "ORDER BY n_chars DESC, doc_id LIMIT 50",
)
def q_sort(spark, sf):
    # O1/O2: orderBy+limit compiles to TakeOrderedAndProject — no global
    # sort materialization at scale.
    return (
        T(spark, sf, "documents")
        .select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), "doc_id")
        .limit(50)
    )


@q(
    "topk_orders",
    "SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
)
def q_topk(spark, sf):
    return (
        T(spark, sf, "orders")
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@q(
    "topk_per_group",
    "SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS price "
    "FROM (SELECT *, row_number() OVER (PARTITION BY o_orderpriority ORDER "
    "BY o_totalprice DESC, o_orderkey) AS rn FROM orders) WHERE rn <= 2",
)
def q_topk_group(spark, sf):
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        T(spark, sf, "orders")
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 2)
        .drop("rn")
    )


# ------------------------------------------------------------- §2.7 set ops


@q(
    "set_union_all",
    "SELECT doc_id, 'long' AS tag FROM documents WHERE n_chars > 300 "
    "UNION ALL SELECT doc_id, 'en' AS tag FROM documents WHERE lang = 'en'",
)
def q_union(spark, sf):
    d = T(spark, sf, "documents")
    a = d.filter(F.col("n_chars") > 300).select("doc_id", F.lit("long").alias("tag"))
    b = d.filter(F.col("lang") == "en").select("doc_id", F.lit("en").alias("tag"))
    return a.unionByName(b)


@q(
    "set_intersect",
    "SELECT source FROM documents WHERE lang = 'en' INTERSECT "
    "SELECT source FROM documents WHERE lang = 'fr'",
)
def q_intersect(spark, sf):
    d = T(spark, sf, "documents")
    return (
        d.filter(F.col("lang") == "en")
        .select("source")
        .intersect(d.filter(F.col("lang") == "fr").select("source"))
    )


@q(
    "set_except",
    "SELECT user_id FROM events WHERE event_type = 'purchase' EXCEPT "
    "SELECT user_id FROM events WHERE event_type = 'error'",
)
def q_except(spark, sf):
    e = T(spark, sf, "events")
    return (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .subtract(e.filter(F.col("event_type") == "error").select("user_id"))
    )


# ---------------------------------------------------- §2.8 scalar functions


@q(
    "fn_string_normalize",
    "SELECT doc_id, upper(substr(text, 1, 8)) AS head8, "
    "length(trim(text)) AS len, concat(lang, ':', source) AS tag "
    "FROM documents",
)
def q_string(spark, sf):
    return T(spark, sf, "documents").select(
        "doc_id",
        F.upper(F.substring("text", 1, 8)).alias("head8"),
        F.length(F.trim(F.col("text"))).alias("len"),
        F.concat_ws(":", "lang", "source").alias("tag"),
    )


@q(
    "fn_regexp",
    "SELECT doc_id, regexp_extract(text, '([a-z]+)', 1) AS first_word "
    "FROM documents WHERE text LIKE '%key%'",
)
def q_regexp(spark, sf):
    return (
        T(spark, sf, "documents")
        .filter(F.col("text").like("%key%"))
        .select(
            "doc_id",
            F.regexp_extract("text", r"([a-z]+)", 1).alias("first_word"),
        )
    )


@q(
    "fn_hash_md5",
    "SELECT doc_id, md5(text) AS text_md5 FROM documents",
)
def q_md5(spark, sf):
    # F4: md5 is the cross-engine-stable content hash (xxhash64 used for
    # internal ids is Spark-only -> covered rows-only elsewhere).
    return T(spark, sf, "documents").select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("text_md5")
    )


@q(
    "fn_datetime",
    "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_s, "
    "CAST(extract(dow FROM ts) AS INT) AS dow, count(*) AS n "
    "FROM events GROUP BY 1, 2",
)
def q_datetime(spark, sf):
    # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB dow: 0=Sunday..6
    return (
        T(spark, sf, "events")
        .select(
            F.date_format(F.date_trunc("hour", "ts"), TS_FMT_SPARK).alias(
                "hour_s"
            ),
            (F.dayofweek("ts") - 1).alias("dow"),
        )
        .groupBy("hour_s", "dow")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "fn_math",
    "SELECT l_orderkey, l_linenumber, round(ln(1 + l_extendedprice), 6) AS "
    "log_price, round(greatest(l_tax, l_discount), 2) AS max_rate, "
    "CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil FROM lineitem "
    "WHERE l_orderkey < 1000",
)
def q_math(spark, sf):
    return (
        T(spark, sf, "lineitem")
        .filter(F.col("l_orderkey") < 1000)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.log1p("l_extendedprice"), 6).alias("log_price"),
            F.round(F.greatest("l_tax", "l_discount"), 2).alias("max_rate"),
            F.ceil("l_quantity").alias("qty_ceil"),
        )
    )


@q(
    "fn_array_ops",
    "SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, "
    "len(list_distinct(string_split(text, ' '))) AS n_distinct "
    "FROM documents",
)
def q_array(spark, sf):
    toks = F.split(F.col("text"), " ")
    return T(spark, sf, "documents").select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )


@q(
    "fn_json",
    "SELECT event_type, round(avg(CAST(json_extract_string(props, '$.k') "
    "AS INT)), 4) AS avg_k FROM events GROUP BY event_type",
)
def q_json(spark, sf):
    return (
        T(spark, sf, "events")
        .select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.round(F.avg("k"), 4).alias("avg_k"))
    )


# ============================================================ chunk 2:
# training-data pipeline operators (dedup, text analysis) + KG
# extraction stages (rows-only where non-SQL).


@q(
    "dedup_exact",
    "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM (SELECT "
    "doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS _norm "
    "FROM documents) GROUP BY _norm",
)
def q_dedup_exact(spark, sf):
    from ..operators.dedup import exact_dedup

    return exact_dedup(T(spark, sf, "documents"))


@q(
    "dedup_ngram_jaccard",
    # the oracle MIRRORS the production hot-shingle cap (shingles in
    # >1000 docs dropped BEFORE sizes/join) so the scale-safe capped
    # form is the oracle-checked form, not a test-only special case
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM "
    "documents WHERE lang = 'en'), sh0 AS (SELECT doc_id, unnest("
    "list_distinct(list_transform(generate_series(1, greatest(len(t) - 1, "
    "0)), i -> array_to_string(t[i:i+1], ' ')))) AS sh FROM toks), "
    "hot AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > 1000), "
    "sh AS (SELECT s.doc_id, s.sh FROM sh0 s LEFT JOIN hot h ON "
    "s.sh = h.sh WHERE h.sh IS NULL), "
    "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), "
    "com AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c "
    "FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id "
    "GROUP BY 1, 2) SELECT id_a, id_b, round(CAST(c AS DOUBLE) / "
    "(sa.sz + sb.sz - c), 6) AS jaccard FROM com "
    "JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b "
    "WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.3",
)
def q_dedup_ngram(spark, sf):
    # word-bigram Jaccard >= 0.3 over en docs (inverted-index join, no
    # cross product). n=2/t=0.3 chosen so the fixture yields a non-empty,
    # non-huge pair set. Runs the PRODUCTION capped form; the SQL above
    # implements the identical cap. _spread: the fixture is ONE parquet
    # split, which would serialize the expensive shingle explode on a
    # single core (round-2 bench regression was mostly this).
    from ..operators.dedup import ngram_jaccard_pairs

    docs = _spread(spark, T(spark, sf, "documents").filter(F.col("lang") == "en"))
    return ngram_jaccard_pairs(docs, threshold=0.3, n=2, max_shingle_freq=1000)


@q(
    "dedup_cluster_cc",
    # near-dup CLUSTERING: the ngram-Jaccard pairs (identical CTE chain
    # to dedup_ngram_jaccard's oracle) closed under transitivity by a
    # recursive CTE — the first full-value oracle over the J7 connected-
    # components operator (its kg_canonicalize_entities use is rows-only
    # because the pattern compiler feeds it; here the edge list itself
    # is SQL-expressible, so the driver can hash-check the closure).
    "WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t "
    "FROM documents WHERE lang = 'en'), "
    "sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform("
    "generate_series(1, greatest(len(t) - 1, 0)), i -> "
    "array_to_string(t[i:i+1], ' ')))) AS sh FROM toks), "
    "hot AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > 1000), "
    "sh AS (SELECT s.doc_id, s.sh FROM sh0 s LEFT JOIN hot h ON "
    "s.sh = h.sh WHERE h.sh IS NULL), "
    "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), "
    "com AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c "
    "FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id "
    "GROUP BY 1, 2), "
    "pairs AS (SELECT id_a, id_b FROM com JOIN sizes sa ON sa.doc_id = "
    "id_a JOIN sizes sb ON sb.doc_id = id_b "
    "WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.3), "
    "edges AS (SELECT id_a AS s, id_b AS d FROM pairs "
    "UNION ALL SELECT id_b, id_a FROM pairs), "
    "reach(n, r) AS (SELECT s, s FROM edges UNION "
    "SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.n), "
    "comp AS (SELECT n AS doc_id, min(r) AS cluster_id FROM reach "
    "GROUP BY n) "
    "SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id "
    "FROM (SELECT doc_id FROM documents WHERE lang = 'en') d "
    "LEFT JOIN comp c USING (doc_id)",
)
def q_dedup_cluster_cc(spark, sf):
    # Jaccard pairs -> connected components -> every doc labeled with
    # its cluster representative (component MINIMUM doc_id; singletons
    # are their own cluster). This is the keep-one-per-cluster step of
    # a near-dup pipeline: near-duplication is not transitive, so pair
    # lists alone under-remove (A~B, B~C, A!~C must still collapse to
    # one kept doc). Scale shape: the pair finder shuffles on shingle
    # keys (never all-pairs); CC is the alternating-star iterative join
    # above the operator's explicit edge-count threshold and a driver
    # union-find below it — near-dup EDGE lists are ~0.1% of corpus
    # cardinality (pairs at >=0.3 Jaccard are rare by construction), so
    # even a 100-TB corpus' edge list fits the distributed path's
    # per-round shuffles comfortably.
    from ..operators.dedup import near_dup_components

    docs = T(spark, sf, "documents").filter(F.col("lang") == "en")
    cc = near_dup_components(_spread(spark, docs), threshold=0.3, n=2)
    return (
        docs.select("doc_id")
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
    )


@q(
    "decontaminate_ngram",
    # train/eval contamination: corpus docs (doc_id >= 10) sharing >= 1
    # word 4-gram with the eval set (doc_id < 10), with overlap counts
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t "
    "FROM documents), "
    "sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
    "generate_series(1, greatest(len(t) - 3, 0)), i -> "
    "array_to_string(t[i:i+3], ' ')))) AS sh FROM toks), "
    "ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 10) "
    "SELECT s.doc_id, count(*) AS n_shared FROM sh s JOIN ev "
    "ON s.sh = ev.sh WHERE s.doc_id >= 10 GROUP BY s.doc_id",
)
def q_decontaminate(spark, sf):
    # The pre-training decontamination pass: benchmark shingles are
    # BROADCAST (eval suites are tiny vs a 100-TB corpus), so corpus
    # shingles join map-side with zero shuffle; the only exchange is
    # the per-doc count of (rare) matches. Shingles hash to 8-byte
    # longs on both sides (operators/dedup.py hashed_shingles_frame).
    from ..operators.dedup import contamination_overlap

    docs = T(spark, sf, "documents")
    return contamination_overlap(
        docs.filter(F.col("doc_id") >= 10),
        docs.filter(F.col("doc_id") < 10),
        n=4,
    )


def _quality_filter_oracle() -> str:
    # the stopword set is embedded from the SAME Python constant the
    # Spark expression uses — one source of truth for both engines
    from ..functions.textstats import EN_STOPWORDS

    sw_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return (
        "WITH d AS (SELECT doc_id, lang, text, "
        "string_split(lower(text), ' ') AS t FROM documents), "
        "s AS (SELECT doc_id, lang, len(t) AS n_toks, "
        "length(text)::DOUBLE / greatest(len(t), 1) AS mean_wl, "
        f"len(list_filter(t, x -> x IN ({sw_list})))::DOUBLE / "
        "greatest(len(t), 1) AS sw, "
        "len(list_distinct(t))::DOUBLE / greatest(len(t), 1) AS ttr "
        "FROM d), "
        "r AS (SELECT doc_id, list_sort(list_filter(["
        "CASE WHEN n_toks < 30 THEN 'too_short' END, "
        "CASE WHEN n_toks > 10000 THEN 'too_long' END, "
        "CASE WHEN mean_wl < 3.0 OR mean_wl > 12.0 THEN 'word_len' END, "
        "CASE WHEN lang = 'en' AND sw < 0.04 THEN 'low_stopword' END, "
        "CASE WHEN ttr < 0.3 THEN 'high_repetition' END"
        "], x -> x IS NOT NULL)) AS rl FROM s) "
        # DuckDB's array_to_string([]) is NULL (Spark's array_join is
        # ''): coalesce pins the empty-verdict encoding to ''
        "SELECT doc_id, coalesce(array_to_string(rl, '|'), '') = '' AS "
        "keep, coalesce(array_to_string(rl, '|'), '') AS reasons FROM r"
    )


@q("text_quality_filter", _quality_filter_oracle())
def q_text_quality_filter(spark, sf):
    # The FILTER stage of a C4/Gopher-style cleaning pipeline: boolean
    # verdict + the sorted violated-rule labels (auditability — at
    # 100 TB you keep the reasons column and aggregate rejection rates
    # per rule/source before committing to a drop). Pure Column
    # expressions, one projection, no shuffle; the verdict thresholds
    # compare integer-derived doubles so both engines agree bit-exactly
    # without rounding.
    from ..functions.textstats import quality_filter_exprs

    keep, reasons = quality_filter_exprs("text", "lang")
    return T(spark, sf, "documents").select(
        "doc_id", keep.alias("keep"), reasons.alias("reasons")
    )


@q(
    "pack_sequences_scalable",
    # GPT-style pretraining packing: concatenate a stratum's documents
    # in deterministic order, chunk every `budget` tokens; a document's
    # sequence id is its starting offset div the budget (documents MAY
    # straddle a boundary, exactly as concat-then-chunk training data
    # does). seq_off is the in-sequence start position. The oracle is
    # the definition: one running sum per stratum.
    "WITH d AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS "
    "n_tok FROM documents), "
    "o AS (SELECT doc_id, lang, n_tok, coalesce(sum(n_tok) OVER ("
    "PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING "
    "AND 1 PRECEDING), 0) AS off FROM d) "
    "SELECT doc_id, lang, n_tok, CAST(floor(off / 512) AS BIGINT) AS "
    "seq_no, CAST(off % 512 AS BIGINT) AS seq_off FROM o",
)
def q_pack_sequences_scalable(spark, sf):
    # Two-pass distributed prefix sum: range exchange on (lang,
    # doc_id), bounded (partitions × strata) subtotal collect,
    # broadcast base offsets, per-partition running sums only — no
    # reducer ever sorts a whole stratum, yet the output equals the
    # oracle's per-stratum window (operators/packing.py docstring for
    # the partition-id pinning subtlety).
    from ..operators.packing import pack_offsets_scalable, token_counts

    return pack_offsets_scalable(
        token_counts(T(spark, sf, "documents")), budget=512
    )


# ------------------------------------------------ KG extraction stages
# (non-SQL-expressible: pattern extraction is the mapInArrow compiler;
# driver records rows-only checks — SURVEY.md §2 note)


def _fixture_pages(spark, sf):
    """documents fixture in web-pages shape, UNspread: the fixture's
    whole extraction workload is ~1 CPU-second, so a spreading shuffle
    costs more in scheduling + Python-worker spin-up than single-core
    map time (A/B at local[32]: 0.77s unspread vs 2.3s at 64 parts).
    At 100 TB the scan has thousands of splits and needs no help."""
    return T(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("url"), "text", "lang"
    )


@q("kg_extract_triples")
def q_kg_triples(spark, sf):
    from ..operators.extract import triples_from_pages

    return triples_from_pages(_fixture_pages(spark, sf), lang="en")


@q("kg_detect_mentions")
def q_kg_mentions(spark, sf):
    # PRODUCTION path: the extraction frame (one crossing per page batch)
    # with the triples side projected away JVM-side.
    from ..operators.extract import extractions_from_pages, split_extractions

    return split_extractions(extractions_from_pages(_fixture_pages(spark, sf)))[1]


@q("kg_segment_sentences")
def q_kg_sentences(spark, sf):
    from ..operators.extract import sentences_from_pages

    return sentences_from_pages(_fixture_pages(spark, sf), lang="en")


# ------------------------------------------------ KG pipeline stages over
# the fixture corpus (rows-only: linking/canonicalization depend on
# xxhash64 ids and the pattern compiler; the golden-fixture pytest gates
# their semantics — tests/test_pipeline.py)


def _fixture_fused(spark, sf):
    """The extraction frame over the fixture corpus, lazily
    checkpointed so composite queries (link -> canonicalize ->
    materialize) never re-run the Python compiler per branch — the
    standalone mirror of the pipeline's persisted frame."""
    from ..operators.extract import extractions_from_pages

    return extractions_from_pages(_fixture_pages(spark, sf)).localCheckpoint(eager=False)


def _fixture_mentions(spark, sf):
    from ..operators.extract import split_extractions

    _triples, mentions = split_extractions(_fixture_fused(spark, sf))
    return mentions


@q("kg_link_mentions")
def q_kg_link(spark, sf):
    from ..operators.linking import link_mentions
    from ..sources.dictionary import entity_dictionary

    return link_mentions(_fixture_mentions(spark, sf), entity_dictionary(spark))


@q("kg_canonicalize_entities")
def q_kg_canonicalize(spark, sf):
    from ..operators.canonicalize import canonicalize
    from ..operators.extract import split_extractions
    from ..operators.linking import link_mentions
    from ..sources.dictionary import entity_dictionary

    _triples, mentions = split_extractions(_fixture_fused(spark, sf))
    linked = link_mentions(mentions, entity_dictionary(spark))
    entities, _mapping = canonicalize(mentions, linked)
    return entities.select(
        "canonical_id", F.array_join("surface_forms", "|").alias("surface_forms")
    )


@q("kg_materialize_edges")
def q_kg_edges(spark, sf):
    from ..operators.canonicalize import canonicalize
    from ..operators.extract import split_extractions
    from ..operators.graph import materialize_edges
    from ..operators.linking import link_mentions
    from ..sources.dictionary import entity_dictionary

    triples, mentions = split_extractions(_fixture_fused(spark, sf))
    linked = link_mentions(mentions, entity_dictionary(spark))
    _entities, mapping = canonicalize(mentions, linked, triples)
    return materialize_edges(triples, mapping)


# ---------------------------------------------- §2 gap-fill: A5/A6/A7/O4


@q("agg_approx_distinct")  # rows-only: HLL sketches differ across engines
def q_approx_distinct(spark, sf):
    # A5 — approx_count_distinct: the at-scale form of COUNT(DISTINCT)
    # (single pass, mergeable HLL sketch, no exact-dedup shuffle).
    return (
        T(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("approx_users"))
    )


@q(
    "agg_percentile",
    "SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50, "
    "round(quantile_cont(value, 0.95), 4) AS p95 "
    "FROM events GROUP BY event_type",
)
def q_percentile(spark, sf):
    # A6 — exact interpolated percentile (Spark `percentile` == DuckDB
    # quantile_cont); percentile_approx is the 100 TB variant, same API.
    return (
        T(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        )
    )


@q(
    "agg_grouping_sets",
    "SELECT lang, source, count(*) AS n FROM documents "
    "GROUP BY GROUPING SETS ((lang), (source), ()) ",
)
def q_grouping_sets(spark, sf):
    # A7 — explicit grouping sets (finer control than rollup/cube)
    T(spark, sf, "documents").createOrReplaceTempView("gs_documents")
    return spark.sql(
        "SELECT lang, source, count(*) AS n FROM gs_documents "
        "GROUP BY GROUPING SETS ((lang), (source), ())"
    )


@q("sort_within_partitions")  # rows-only: partition-local order isn't SQL-visible
def q_sort_within_partitions(spark, sf):
    # O4 — write-time clustering: rows ordered inside each partition
    # without a global shuffle (parquet row-group locality at scale).
    return (
        T(spark, sf, "orders")
        .repartition(8, "o_custkey")
        .sortWithinPartitions("o_custkey", "o_orderdate")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
