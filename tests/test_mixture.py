"""Training-mixture ops: quality filter, decontamination, near-dup
clustering, sequence packing, and the job that composes them.

Cross-engine value parity is pinned by test_parity (these queries are
oracle-backed); these tests pin the SEMANTIC properties the oracle
hash can't express — transitive closure correctness, partitioning
invariance, offset contiguity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from relation_extraction_spark.plans.queries import QUERIES


def _run(name, spark, sf_dir):
    return QUERIES[name][0](spark, sf_dir).toPandas()


def pack_offsets_window(docs: DataFrame, budget: int) -> DataFrame:
    """Reference packing: the per-stratum running offset as ONE window
    partitioned by the stratum ``lang`` — the definition the oracle
    states, which operators/packing.pack_offsets_scalable must
    reproduce."""
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return docs.withColumn(
        "off", F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    ).select(
        "doc_id",
        "lang",
        "n_tok",
        F.floor(F.col("off") / budget).alias("seq_no"),
        (F.col("off") % budget).cast("long").alias("seq_off"),
    )


class TestMixturePipeline:
    """End-to-end composition (plans/mixture.py): every stage runs the
    operator a DuckDB-checked registry entry runs (exact_dedup as
    dedup_exact, near_dup_components as dedup_cluster_cc, ...), so these
    tests pin the COMPOSITION — conservation of documents across stages,
    snapshot output, audit metrics, and which copy of a planted
    duplicate survives — not per-op semantics."""

    @staticmethod
    def _run(spark, sf_dir, tmp_path, input_parquet=None):
        from relation_extraction_spark.plans.mixture import (
            MixtureConfig,
            run_mixture,
        )

        out = str(tmp_path / "mix")
        counts = run_mixture(
            spark,
            MixtureConfig(
                out=out,
                input_parquet=input_parquet or f"{sf_dir}/documents.parquet",
                run_id="t",
            ),
        )
        return out, counts

    def test_document_conservation_and_audit(self, spark, sf_dir, tmp_path):
        out, c = self._run(spark, sf_dir, tmp_path)
        # input = survivors + every attributed drop
        assert c["n_input"] == (
            c["n_output"]
            + c["n_quality_dropped"]
            + c["n_eval_held_out"]
            + c["n_contaminated"]
            + c["n_exact_dup_dropped"]
            + c["n_near_dup_dropped"]
        )
        assert c["n_output"] > 0
        # per-rule histogram sums to the total quality drop
        rule_sum = sum(v for k, v in c.items() if k.startswith("quality_drop["))
        assert rule_sum == c["n_quality_dropped"]

    def test_output_is_packed_snapshot(self, spark, sf_dir, tmp_path):
        from relation_extraction_spark.sources.lakehouse import SnapshotTable

        out, c = self._run(spark, sf_dir, tmp_path)
        df = SnapshotTable(out, "mixture_docs").read(spark).toPandas()
        assert len(df) == c["n_output"] == df.doc_id.nunique()
        assert set(df.columns) == {"doc_id", "lang", "n_tok", "seq_no", "seq_off"}
        assert (df.seq_off < 512).all() and (df.seq_off >= 0).all()
        # metrics table carries the same audit rows
        m = SnapshotTable(out, "metrics").read(spark).toPandas()
        got = dict(zip(m.metric, m.value))
        assert got["n_output"] == c["n_output"]

    def test_rerun_replaces_output_and_metrics(self, spark, sf_dir, tmp_path):
        """A second run into the same ``out`` replaces ``mixture_docs``
        and its metric rows instead of adding to them; the metric rows
        come back from the ``mixture_docs`` manifest alone."""
        import shutil

        from relation_extraction_spark.sources.lakehouse import SnapshotTable

        def committed(out):
            docs = SnapshotTable(out, "mixture_docs").read(spark).select("doc_id").collect()
            metrics = sorted(
                (r.metric, r.stage, r.run_id,
                 None if r.metric.endswith("_wall_ms") else r.value)
                for r in SnapshotTable(out, "metrics").read(spark).collect()
            )
            return [r.doc_id for r in docs], metrics

        for _ in range(2):
            out, c = self._run(spark, sf_dir, tmp_path)
            ids, metrics = committed(out)
            assert len(ids) == len(set(ids)) == c["n_output"] > 0
            names = [m[0] for m in metrics]
            assert sorted(names) == sorted([*c, "mixture_wall_ms"])
            assert {m[1:3] for m in metrics} == {("mixture", "t")}
            assert all(v == c[k] for k, _s, _r, v in metrics if k in c)
        # crash-exact: the manifest alone re-derives the same rows
        from relation_extraction_spark.plans.pipeline import flush_metrics

        for t in ("metrics", "lineage"):
            shutil.rmtree(f"{out}/{t}")
        flush_metrics(out, ["mixture_docs"], "t")
        assert committed(out) == (ids, metrics)
        lineage = SnapshotTable(out, "lineage").read(spark).collect()
        assert sum(r.n_rows for r in lineage) == c["n_output"]

    def test_eval_docs_never_in_output(self, spark, sf_dir, tmp_path):
        from relation_extraction_spark.sources.lakehouse import SnapshotTable

        out, _ = self._run(spark, sf_dir, tmp_path)
        df = SnapshotTable(out, "mixture_docs").read(spark).toPandas()
        assert (df.doc_id >= 10).all()

    def test_planted_duplicates_drop_all_but_min_id(
        self, spark, sf_dir, tmp_path
    ):
        """Exact copies that differ only in case and whitespace, and a
        near-dup chain A~B~C with A!~C, in an input that passes the
        quality filter and decontamination: each group keeps only its
        min id."""
        from relation_extraction_spark.sources.lakehouse import SnapshotTable

        def words(tag, k):
            # k tokens unique to the tag, with "the" every fifth so
            # the low_stopword rule (ratio >= 0.04) passes
            return [
                ("the" if j % 5 == 0 else f"{tag}word{j}") for j in range(k)
            ]

        def text(*segments):
            return " ".join(t for seg in segments for t in seg)

        def jaccard(a, b):
            ga, gb = (set(zip(t.split(" "), t.split(" ")[1:])) for t in (a, b))
            return len(ga & gb) / len(ga | gb)

        X, Y, Z, W = (words(t, 20) for t in ("xa", "yb", "zc", "wd"))
        A, B, C = text(X, Y), text(Y, Z), text(Z, W)
        assert jaccard(A, B) == jaccard(B, C) == 19 / 59 >= 0.3
        assert jaccard(A, C) == 0
        exact = text(words("ex", 40))
        rows = [
            (0, text(words("eval", 40))),      # eval doc, shares nothing
            (12, text(words("solo", 40))),     # unique, survives
            # exact copies: case, doubled and edge whitespace only
            (21, "  " + exact.upper() + " "),
            (17, exact.replace(" ", "  ")),
            (30, exact.title()),
            # near-dup chain; B has the largest id, so dropping the
            # larger id of each pair would keep C, and only the
            # transitive closure drops it
            (45, B),
            (40, A),
            (42, C),
        ]
        path = str(tmp_path / "planted.parquet")
        spark.createDataFrame(
            [(i, "en", t) for i, t in rows],
            "doc_id long, lang string, text string",
        ).write.parquet(path)
        out, c = self._run(spark, sf_dir, tmp_path, input_parquet=path)
        assert c["n_input"] == 8 and c["n_quality_dropped"] == 0
        assert c["n_eval_held_out"] == 1 and c["n_contaminated"] == 0
        assert c["n_exact_dup_dropped"] == 2
        assert c["n_near_dup_dropped"] == 2
        df = SnapshotTable(out, "mixture_docs").read(spark).toPandas()
        assert c["n_output"] == 3 and sorted(df.doc_id) == [12, 17, 40]


class TestDedupClusterCC:
    def test_cluster_id_is_component_minimum(self, spark, sf_dir):
        df = _run("dedup_cluster_cc", spark, sf_dir)
        # representative = min doc_id of the cluster, so it never
        # exceeds the member id, and the representative row maps to
        # itself
        assert (df.cluster_id <= df.doc_id).all()
        reps = set(df.cluster_id)
        self_mapped = df[df.doc_id.isin(reps)]
        assert (self_mapped.cluster_id == self_mapped.doc_id).all()

    def test_every_pair_lands_in_one_cluster(self, spark, sf_dir):
        from relation_extraction_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("lang") == "en")
        )
        pairs = ngram_jaccard_pairs(
            docs, threshold=0.3, n=2, max_shingle_freq=1000
        ).toPandas()
        clusters = _run("dedup_cluster_cc", spark, sf_dir)
        label = dict(zip(clusters.doc_id, clusters.cluster_id))
        for a, b in zip(pairs.id_a, pairs.id_b):
            assert label[a] == label[b], (a, b)

    def test_covers_every_doc_exactly_once(self, spark, sf_dir):
        df = _run("dedup_cluster_cc", spark, sf_dir)
        n_docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .filter(F.col("lang") == "en")
            .count()
        )
        assert len(df) == n_docs == df.doc_id.nunique()


class TestPackSequences:
    def test_offsets_are_stratum_prefix_sums(self, spark, sf_dir):
        df = _run("pack_sequences_scalable", spark, sf_dir)
        for _lang, g in df.groupby("lang"):
            g = g.sort_values("doc_id")
            run = 0
            for off, n_tok, seq_no, seq_off in zip(
                g.seq_no * 512 + g.seq_off, g.n_tok, g.seq_no, g.seq_off
            ):
                assert off == run
                assert 0 <= seq_off < 512
                assert seq_no == run // 512
                run += n_tok

    def test_partitioning_invariance(self, spark, sf_dir):
        # the range exchange and the running sums order by (lang,
        # doc_id) — a total order — so the packing cannot depend on
        # input split layout
        base = _run("pack_sequences_scalable", spark, sf_dir)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        from relation_extraction_spark.plans import queries as Q

        orig = Q.T
        try:
            Q.T = lambda s, sf, name: (
                docs.repartition(7) if name == "documents" else orig(s, sf, name)
            )
            shuffled = _run("pack_sequences_scalable", spark, sf_dir)
        finally:
            Q.T = orig
        key = ["doc_id"]
        a = base.sort_values(key).reset_index(drop=True)
        b = shuffled.sort_values(key).reset_index(drop=True)
        assert a.equals(b)


class TestPackScalable:
    def test_single_giant_stratum_matches_window_form(self, spark, sf_dir):
        # the case the two-pass form exists for: ONE stratum holding
        # every row still packs identically, but across partitions
        from relation_extraction_spark.operators.packing import (
            pack_offsets_scalable,
        )

        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select(
                "doc_id",
                F.lit("all").alias("lang"),
                F.size(F.split("text", " ")).alias("n_tok"),
            )
        )
        a = (
            pack_offsets_window(docs, budget=512)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        b = (
            pack_offsets_scalable(docs, budget=512, num_partitions=8)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert a.equals(b)
        # and the scalable plan's running-sum window really is keyed by
        # partition id — no reducer sorts the whole stratum
        plan = (
            pack_offsets_scalable(docs, budget=512, num_partitions=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "_pid" in plan

    def test_zero_and_boundary_token_offsets(self, spark):
        # budget-edge docs: offsets 0, exactly budget, straddling
        from relation_extraction_spark.operators.packing import (
            pack_offsets_scalable,
        )

        rows = [(i, "x", n) for i, n in enumerate([512, 1, 511, 600, 5])]
        docs = spark.createDataFrame(
            rows, "doc_id long, lang string, n_tok long"
        )
        out = {
            r.doc_id: (r.seq_no, r.seq_off)
            for r in pack_offsets_scalable(
                docs, budget=512, num_partitions=4
            ).collect()
        }
        assert out == {
            0: (0, 0),      # starts sequence 0
            1: (1, 0),      # offset 512 -> exactly the next sequence
            2: (1, 1),
            3: (2, 0),      # offset 1024
            4: (3, 88),     # offset 1624
        }

    def test_null_and_nonstring_strata_match_window_form(self, spark):
        # the scalable form once hardcoded a string stratum schema (int
        # stratum -> createDataFrame error) and an inner equi-join (NULL
        # stratum silently dropped). Both shapes must pack identically
        # to the window form.
        from relation_extraction_spark.operators.packing import (
            pack_offsets_scalable,
        )

        # NULL stratum rows survive and pack as their own group
        rows = [(0, None, 10), (1, "en", 20), (2, None, 30), (3, "en", 5)]
        docs = spark.createDataFrame(
            rows, "doc_id long, lang string, n_tok long"
        )
        a = sorted(pack_offsets_window(docs, budget=16).collect())
        b = sorted(
            pack_offsets_scalable(docs, budget=16, num_partitions=3).collect()
        )
        assert a == b and len(b) == 4

        # integer stratum column round-trips through the broadcast base
        docs_i = spark.createDataFrame(
            [(i, i % 2, 7) for i in range(6)],
            "doc_id long, lang int, n_tok long",
        )
        a = sorted(pack_offsets_window(docs_i, budget=10).collect())
        b = sorted(
            pack_offsets_scalable(docs_i, budget=10, num_partitions=3).collect()
        )
        assert a == b and len(b) == 6


class TestWhitespaceCopies:
    """Four copies of one 40-token text that differ only in whitespace:
    as is, every space doubled, tab-prefixed and newline-suffixed. Exact
    dedup, packing and the quality filter see one text."""

    @staticmethod
    def _copies(spark) -> DataFrame:
        text = " ".join(
            "the" if j % 5 == 0 else f"token{j}" for j in range(40)
        )
        copies = [text, text.replace(" ", "  "), "\t" + text, text + "\n"]
        return spark.createDataFrame(
            [(i, "en", t) for i, t in enumerate(copies)],
            "doc_id long, lang string, text string",
        )

    def test_copies_form_one_exact_dedup_group(self, spark):
        from relation_extraction_spark.operators.dedup import exact_dedup

        groups = exact_dedup(self._copies(spark)).collect()
        assert [(r.keep_id, r.n_copies) for r in groups] == [(0, 4)]

    def test_copies_count_the_same_tokens_and_verdict(self, spark):
        from relation_extraction_spark.functions.textstats import (
            quality_filter_exprs,
        )
        from relation_extraction_spark.operators.packing import token_counts

        docs = self._copies(spark)
        assert [r.n_tok for r in token_counts(docs).orderBy("doc_id").collect()] == [40] * 4
        keep, reasons = quality_filter_exprs("text", "lang")
        verdicts = {tuple(r) for r in docs.select(keep, reasons).collect()}
        assert len(verdicts) == 1, verdicts


class TestQualityFilter:
    def test_reasons_consistent_with_keep(self, spark, sf_dir):
        df = _run("text_quality_filter", spark, sf_dir)
        assert ((df.reasons == "") == df.keep).all()
        # every emitted label is from the closed rule set, sorted
        labels = {
            "too_short", "too_long", "word_len",
            "low_stopword", "high_repetition",
        }
        for r in df.reasons[df.reasons != ""]:
            parts = r.split("|")
            assert parts == sorted(parts)
            assert set(parts) <= labels

    def test_filter_is_selective_not_degenerate(self, spark, sf_dir):
        df = _run("text_quality_filter", spark, sf_dir)
        assert 0 < df.keep.mean() < 1


class TestPackEquivalenceProperty:
    # hypothesis over the PACKING INPUT (id/stratum/token triples), few
    # examples because every example runs real Spark jobs; the generator
    # targets the hard cases — duplicate-free ids, ragged strata, zero
    # and budget-multiple token counts, strata that vanish entirely
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    rows_strategy = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=999),  # doc_id (deduped below)
            st.sampled_from(["a", "b", "c"]),         # stratum
            st.sampled_from([0, 1, 7, 511, 512, 513, 1024]),  # n_tok
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: r[0],
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(rows=rows_strategy)
    def test_scalable_equals_window_form(self, spark, rows):
        from relation_extraction_spark.operators.packing import (
            pack_offsets_scalable,
        )

        docs = spark.createDataFrame(
            rows, "doc_id long, lang string, n_tok long"
        )
        key = ["doc_id"]
        a = (
            pack_offsets_window(docs, budget=512)
            .toPandas()
            .sort_values(key)
            .reset_index(drop=True)
        )
        b = (
            pack_offsets_scalable(docs, budget=512, num_partitions=5)
            .toPandas()
            .sort_values(key)
            .reset_index(drop=True)
        )
        assert a.equals(b), (a, b)


class TestDecontaminate:
    def test_planted_contamination_recovered(self, spark):
        from relation_extraction_spark.operators.dedup import (
            contamination_overlap,
        )

        ev = spark.createDataFrame(
            [(0, "alpha beta gamma delta epsilon zeta")],
            "doc_id long, text string",
        )
        corpus = spark.createDataFrame(
            [
                # contains eval 4-grams "beta gamma delta epsilon" and
                # "gamma delta epsilon zeta" -> n_shared = 2
                (10, "xx beta gamma delta epsilon zeta yy"),
                (11, "completely unrelated words here now"),
                (12, "too short"),
            ],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: r.n_shared
            for r in contamination_overlap(corpus, ev, n=4).collect()
        }
        # shared 4-grams: "beta gamma delta epsilon",
        # "gamma delta epsilon zeta" (the xx/yy edges break the rest)
        assert out == {10: 2}

    def test_eval_side_is_broadcast(self, spark, sf_dir):
        fn, _ = QUERIES["decontaminate_ngram"]
        plan = (
            fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
