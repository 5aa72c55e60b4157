"""spark-submit entry point (BASELINE.json:L6/L14: "Runs via
spark-submit --py-files").

    zip -r kg.zip relation_extraction_spark
    spark-submit --master local[8] --py-files kg.zip main.py \
        --stage all --out /tmp/kg_out --pages 20000 --run-id runA

Prints one JSON line with per-stage wall times and the headline
triples/sec throughput (the BASELINE.md metric).
"""

from __future__ import annotations

import argparse
import json
import time

from relation_extraction_spark.plans.pipeline import (
    STAGES,
    PipelineConfig,
    run_pipeline,
)
from relation_extraction_spark.session import get_spark
from relation_extraction_spark.sources.lakehouse import SnapshotTable


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--job",
        default="kg",
        choices=["kg", "mixture"],
        help="kg = the 5-stage KG pipeline; mixture = the training-"
        "mixture cleaning pipeline (quality filter -> decontaminate -> "
        "exact dedup -> near-dup cluster -> pack; requires "
        "--input-parquet)",
    )
    ap.add_argument("--stage", default="all", help="all or comma-list of stages")
    ap.add_argument("--out", required=True)
    ap.add_argument("--pages", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--skew", type=float, default=0.1)
    ap.add_argument("--dup-frac", type=float, default=0.05)
    ap.add_argument("--input-parquet", default=None)
    ap.add_argument("--run-id", default=f"run-{int(time.time())}")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()
    # Validate before paying Spark session startup.
    if args.job == "mixture" and not args.input_parquet:
        ap.error("--job mixture requires --input-parquet")
    stages = STAGES if args.stage == "all" else args.stage.split(",")
    unknown = [s for s in stages if s not in STAGES]
    if unknown:
        ap.error(
            f"unknown --stage {','.join(unknown)}; "
            f"choose all or from {','.join(STAGES)}"
        )

    spark = get_spark(
        app_name=f"{args.job}-pipeline",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    if args.job == "mixture":
        from relation_extraction_spark.plans.mixture import (
            MixtureConfig,
            run_mixture,
        )

        t0 = time.time()
        counts = run_mixture(
            spark,
            MixtureConfig(
                out=args.out,
                input_parquet=args.input_parquet,
                run_id=args.run_id,
            ),
        )
        print(
            json.dumps(
                {
                    "run_id": args.run_id,
                    "job": "mixture",
                    "wall_s": round(time.time() - t0, 2),
                    **counts,
                }
            )
        )
        spark.stop()
        return
    cfg = PipelineConfig(
        out=args.out,
        pages=args.pages,
        seed=args.seed,
        skew=args.skew,
        dup_frac=args.dup_frac,
        resume=not args.no_resume,
        run_id=args.run_id,
        input_parquet=args.input_parquet,
    )
    t0 = time.time()
    info = run_pipeline(spark, cfg, stages)
    wall = time.time() - t0
    # the committed triples, whether extract ran or was resumed; the
    # rate counts only the triples this run's extract committed
    committed = SnapshotTable(cfg.out, "triples").latest_manifest()
    extracted = info.get("extract", {}).get("triples")
    print(
        json.dumps(
            {
                "run_id": cfg.run_id,
                "stages": {
                    k: {kk: vv for kk, vv in v.items() if not isinstance(vv, dict)}
                    for k, v in info.items()
                },
                "wall_s": round(wall, 2),
                "triples_total": committed["n_rows"] if committed else None,
                "triples_per_sec": (
                    round(extracted["n_rows"] / wall, 1) if extracted else None
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
