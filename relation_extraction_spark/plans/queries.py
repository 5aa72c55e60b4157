"""Oracle-checked query registry — one entry per implemented operator
(SURVEY.md §2; driver contract __spark_entry__.py).

``QUERIES[name] = (spark_fn, oracle_sql_or_None)``. The driver runs the
Spark side at sf0.01 and diffs against the DuckDB oracle (row-count +
schema + order-insensitive value-hash). Every entry reads the
``documents`` fixture, except ``join_asof_latest``, which runs the
ingest stage's as-of dedup over ``events``. Three groups:

- plain-SQL operators over ``documents`` (projection, filter, grouping
  sets, sort/limit, set ops, scalar functions);
- the mixture job's operators (dedup, decontamination, quality filter,
  packing), each against a DuckDB statement of its definition;
- the KG extraction and pipeline stages, rows-only.

Conventions that make the hash comparable (SURVEY.md §5.1):

- every computed column is aliased IDENTICALLY on both sides;
- double aggregates are ``round()``-ed on both sides (FP sums are not
  associative; partial aggregation order differs between engines);
- timestamps are formatted to 'yyyy-MM-dd HH:mm:ss' strings on both
  sides (session TZ pinned UTC in session.py);
- arrays are sorted then joined to '|' strings on both sides;
- every top-k / rank has a total-order tiebreak so both engines pick
  identical rows.

Scale notes are inline per query: each Spark plan is written the way it
should run at 100 TB (broadcast the small side, partial aggs).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"

# functions/textstats.normalize_text_expr over ``text``: the dedup key
# and, split on ' ', the whitespace tokens
_NORM_TEXT = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


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


# ---------------------------------------------------------------- §2.3 joins


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


# ---------------------------------------------------------- §2.6 sort/limit


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


# ============================================================ chunk 2:
# training-data pipeline operators (dedup, text analysis) + KG
# extraction stages (rows-only where non-SQL).


@q(
    "dedup_exact",
    "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM (SELECT "
    f"doc_id, {_NORM_TEXT} AS _norm FROM documents) GROUP BY _norm",
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
        f"string_split({_NORM_TEXT}, ' ') AS t FROM documents), "
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
    f"WITH d AS (SELECT doc_id, lang, len(string_split({_NORM_TEXT}, ' ')) "
    "AS n_tok FROM documents), "
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


# ---------------------------------------------- §2 gap-fill: A7


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
