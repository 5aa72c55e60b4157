"""The 5-stage DAG: ingest -> extract -> link -> canonicalize ->
materialize (SURVEY.md §3.1; BASELINE.json:L6/L14).

Each stage reads committed snapshots, computes one DataFrame expression
and snapshot-commits its outputs (sources/lakehouse.py); its last commit's
manifest also carries the stage's metric rows. Resume: a stage whose
output snapshots already exist is a no-op on re-run (checkpoint-resumable,
BASELINE.json:L14); a stage that runs recomputes all of its input. The
``metrics`` and ``lineage`` tables are derived from the manifests once per
run (``flush_metrics``), so a killed run resumes to the same tables.

Scale shape per stage (the 1000-executor story):
- ingest:       embarrassingly parallel generate/scan; one window shuffle
                for as-of recrawl dedup, partitioned by url hash.
- extract:      ZERO shuffles — scan -> one mapInArrow (html -> text ->
                sentences -> triples/mentions) is one pipelined stage
                per input split.
- link:         one broadcast left join against the dictionary's top-1
                per alias — the mentions never shuffle.
- canonicalize: shuffles on band-hash and node id only; CC iterations
                localCheckpoint to cut lineage.
- materialize:  two mapping joins (form-hash keys) + one hash agg.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import latest_per_key
from ..operators.canonicalize import canonicalize, entities_from_mapping
from ..operators.extract import extractions_from_web_pages, split_extractions
from ..operators.graph import cooccurrence_edges, materialize_edges
from ..operators.linking import link_mentions
from ..sources.corpus import PAGES_SCHEMA, synthetic_pages
from ..sources.dictionary import entity_dictionary
from ..sources.lakehouse import SnapshotTable

STAGES = ["ingest", "extract", "link", "canonicalize", "materialize"]
# the stages' output tables, in commit order
DATA_TABLES = [
    "web_pages", "sentences", "triples", "mentions",
    "linked_mentions", "mapping", "entities", "edges",
]

LINEAGE_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("stage", pa.string()),
        ("part_key", pa.int32()),
        ("file", pa.string()),
        ("n_rows", pa.int64()),
        ("wall_ms", pa.int64()),
    ]
)
METRICS_SCHEMA = pa.schema(
    [
        ("metric", pa.string()),
        ("value", pa.float64()),
        ("stage", pa.string()),
        ("run_id", pa.string()),
    ]
)


@dataclass
class PipelineConfig:
    out: str
    pages: int = 2000
    seed: int = 42
    skew: float = 0.1
    dup_frac: float = 0.05
    # file-level bucketing of big tables by url hash: keeps every
    # downstream scan splittable into >= n_buckets tasks (AQE's
    # coalescing would otherwise write few large single-row-group files
    # and starve the mapInArrow extraction), and co-locates url joins. On a
    # real cluster this scales with executor count.
    n_buckets: int = 64
    resume: bool = True
    run_id: str = "run-0"
    input_parquet: str | None = None  # pre-generated corpus (bench path)


def _ms_since(t0: float) -> int:
    return int((time.time() - t0) * 1000)


class Pipeline:
    def __init__(self, spark: SparkSession, cfg: PipelineConfig):
        self.spark = spark
        self.cfg = cfg
        self.tables = {
            name: SnapshotTable(cfg.out, name)
            for name in DATA_TABLES + ["lineage", "metrics"]
        }

    # ------------------------------------------------------------- plumbing

    def _commit(
        self,
        stage: str,
        table: str,
        df: DataFrame,
        t0: float | None = None,
        rows_metric: str | None = None,
        **metrics: float,
    ) -> dict:
        """Snapshot-commit one output table; its manifest records the run
        that wrote it. A stage's LAST commit passes ``t0``: its manifest's
        ``extra`` then also carries the stage's metric rows — ``metrics``,
        ``rows_metric`` (named for the table's row count) and the stage's
        wall time up to the write, to which flush_metrics() adds the
        write's own ``wall_ms``. They are published atomically with the
        data, so a killed run loses none of them."""
        extra = {"run_id": self.cfg.run_id}
        if t0 is not None:
            extra["stage_metrics"] = {
                "metrics": metrics,
                "rows_metric": rows_metric,
                "wall_ms": _ms_since(t0),
            }
        return self.tables[table].commit(df, stage=stage, extra=extra)

    def flush_metrics(self) -> None:
        """Replace-commit the ``metrics`` and ``lineage`` tables, derived
        from the newest manifest of every data table: driver-side, no
        Spark job. A resumed run derives the same rows as an
        uninterrupted one, whichever stages it skipped. Lineage has one
        row per committed data file (a write task's output), ``file``
        relative to the pipeline root; ``part_key`` is the file's index
        within its table."""
        metrics, lineage = [], []
        for name in DATA_TABLES:
            m = self.tables[name].latest_manifest()
            if m is None:
                continue
            run_id = m["extra"].get("run_id", self.cfg.run_id)
            lineage += [
                {
                    "run_id": run_id,
                    "stage": m["stage"],
                    "part_key": i,
                    "file": f"{name}/{f}",
                    "n_rows": int(n),
                    "wall_ms": m["wall_ms"],
                }
                for i, (f, n) in enumerate(sorted(m["file_rows"].items()))
            ]
            sm = m["extra"].get("stage_metrics")
            if sm is None:
                continue
            rows = dict(sm["metrics"])
            if sm["rows_metric"]:
                rows[sm["rows_metric"]] = m["n_rows"]
            rows[f"{m['stage']}_wall_ms"] = sm["wall_ms"] + m["wall_ms"]
            metrics += [
                {"metric": k, "value": float(v), "stage": m["stage"], "run_id": run_id}
                for k, v in rows.items()
            ]
        self.tables["metrics"].commit_rows(metrics, METRICS_SCHEMA, stage="run")
        self.tables["lineage"].commit_rows(lineage, LINEAGE_SCHEMA, stage="run")

    def _done(self, *tables: str) -> bool:
        return all(self.tables[t].exists() for t in tables)

    # --------------------------------------------------------------- stages

    def stage_ingest(self) -> dict:
        if self.cfg.resume and self._done("web_pages"):
            return {"skipped": True}
        t0 = time.time()
        if self.cfg.input_parquet:
            # explicit schema: the input shape is fixed by the spec
            # (BASELINE.json input_hint), and inference on a cold
            # session costs ~2.3 s of serial driver time at every
            # parallelism level (round-4 measurement; see PAGES_SCHEMA)
            raw = self.spark.read.schema(PAGES_SCHEMA).parquet(
                self.cfg.input_parquet
            )
        else:
            raw = synthetic_pages(
                self.spark,
                self.cfg.pages,
                seed=self.cfg.seed,
                skew=self.cfg.skew,
                dup_frac=self.cfg.dup_frac,
            )
        # as-of dedup of recrawls: keep latest warc_ts per url (J9).
        # repartition FIRST: the ranking window requires a hash
        # distribution on url, and HashPartitioning(url, n_buckets)
        # satisfies it — window-then-repartition shuffled the full
        # corpus TWICE on the same key (round-2 plan audit).
        pages = latest_per_key(
            raw.repartition(self.cfg.n_buckets, "url"), ["url"], "warc_ts"
        )
        return {
            "web_pages": self._commit(
                "ingest", "web_pages", pages, t0, rows_metric="pages_ingested"
            ),
            "wall_ms": _ms_since(t0),
        }

    def stage_extract(self) -> dict:
        if self.cfg.resume and self._done("sentences", "triples", "mentions"):
            return {"skipped": True}
        t0 = time.time()
        # ONE Arrow crossing per page batch: html -> text (D1) ->
        # sentences -> triples and mentions. D1: the extracted text MUST
        # byte-match the stored text per url (BASELINE.json:L15); a page
        # that fails (a NULL stored text included) comes back as one
        # marker row (NULL sent_id) and nothing else, so it is
        # quarantined and counted. No repartition: web_pages is
        # committed as n_buckets url-bucketed files, so the scan's input
        # splits are the bucket layout. The frame is persisted once and
        # the three tables commit from it; the mismatch count and the
        # triples counters are observed on the sentences and triples
        # writes, not counted by jobs of their own.
        frame = extractions_from_web_pages(
            self.tables["web_pages"].read(self.spark)
        ).persist(StorageLevel.MEMORY_AND_DISK)
        audit = Observation("extract")
        sents = (
            frame.observe(audit, F.count_if(F.col("sent_id").isNull()).alias("n"))
            .filter(F.col("sent_id").isNotNull())
            .select("url", "sent_id", "sentence")
        )
        info = {"sentences": self._commit("extract", "sentences", sents)}
        n_mismatch = audit.get["n"]
        fused = frame.filter(F.col("sent_id").isNotNull())
        triples, mentions = split_extractions(fused)
        counters = Observation("triples")
        # conf summed as an exact decimal: the observed partial sums
        # merge in task-completion order, so a double sum could differ
        # in its last bits from run to run
        info["triples"] = self._commit("extract", "triples", triples.observe(
            counters,
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("url").alias("docs"),
            F.sum(F.col("conf").cast("decimal(38,18)")).alias("conf_sum"),
        ))
        c = counters.get
        info["mentions"] = self._commit(
            "extract", "mentions", mentions, t0,
            text_invariant_mismatches=n_mismatch,
            triples_total=c["n"],
            docs_with_triples_approx=c["docs"],
            avg_conf=float(c["conf_sum"]) / c["n"] if c["n"] else 0.0,
        )
        info["wall_ms"] = _ms_since(t0)
        frame.unpersist()
        info["n_mismatch"] = n_mismatch
        return info

    def stage_link(self) -> dict:
        if self.cfg.resume and self._done("linked_mentions"):
            return {"skipped": True}
        t0 = time.time()
        mentions = self.tables["mentions"].read(self.spark)
        linked = link_mentions(mentions, entity_dictionary(self.spark))
        return {
            "linked_mentions": self._commit(
                "link", "linked_mentions", linked, t0,
                rows_metric="linked_mentions_rows",
            ),
            "wall_ms": _ms_since(t0),
        }

    def stage_canonicalize(self) -> dict:
        if self.cfg.resume and self._done("mapping", "entities"):
            return {"skipped": True}
        t0 = time.time()
        mentions = self.tables["mentions"].read(self.spark)
        linked = self.tables["linked_mentions"].read(self.spark)
        triples = self.tables["triples"].read(self.spark)
        # commit mapping FIRST, then derive entities from the committed
        # table — entities and mapping share the expensive forms+LSH+CC
        # lineage, and committing both from the lazy plans would execute
        # that chain twice (commit-then-derive, as everywhere else).
        _entities, mapping = canonicalize(mentions, linked, triples)
        info = {"mapping": self._commit("canonicalize", "mapping", mapping)}
        entities = entities_from_mapping(self.tables["mapping"].read(self.spark))
        info["entities"] = self._commit(
            "canonicalize", "entities", entities, t0,
            rows_metric="entities_canonical",
        )
        info["wall_ms"] = _ms_since(t0)
        return info

    def stage_materialize(self) -> dict:
        if self.cfg.resume and self._done("edges"):
            return {"skipped": True}
        t0 = time.time()
        triples = self.tables["triples"].read(self.spark)
        linked = self.tables["linked_mentions"].read(self.spark)
        mapping = self.tables["mapping"].read(self.spark)
        edges = materialize_edges(triples, mapping).unionByName(
            cooccurrence_edges(linked, mapping)
        )
        return {
            "edges": self._commit(
                "materialize", "edges", edges, t0, rows_metric="edges_materialized"
            ),
            "wall_ms": _ms_since(t0),
        }

    # ------------------------------------------------------------------ run

    def run(self, stages: list[str] | None = None) -> dict[str, dict]:
        out = {s: getattr(self, f"stage_{s}")() for s in stages or STAGES}
        self.flush_metrics()
        return out


def run_pipeline(
    spark: SparkSession, cfg: PipelineConfig, stages: list[str] | None = None
) -> dict[str, dict]:
    return Pipeline(spark, cfg).run(stages)
