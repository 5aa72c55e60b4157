"""KG-construction benchmark: one seeded workload, closed loop, one driver.

    python3 perfbench/run.py --workload kg_web --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. The process generates the first input
slice, starts a Spark session on ``local[2]`` (the set-up), then runs
pipeline jobs back to back, one at a time, each on a fresh input slice,
until ``--seconds`` of job time are measured (at least one job). The
first job is the session's first: it pays the JVM, codegen and
Python-worker warm-up a batch job submitted on its own pays. Each job's
committed tables are checked outside the timed window; a job that raises
or fails its check counts as failed.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics. ``--trace 1`` turns on Spark's event log, wraps every call
into the program in a span, runs a component pass over the last job's
tables plus one training-mixture job, and reports the per-layer
metrics (see perfbench/README.md). Run-time state (input cache, seed
references, span files) lives in ``.perfbench-work/`` at the root.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")
CORES = 2
KG_STAGES = ["ingest", "extract", "link", "canonicalize", "materialize"]
STAGE_KEYS = ["wall_s", "driver_s", "jobs", "task_s", "busy_share", "gc_s",
              "shuffle_mb", "spill_mb", "task_skew", "rows_out"]
MIXTURE_KEYS = ["wall_s", "driver_s", "jobs", "task_s", "busy_share",
                "shuffle_mb", "spill_mb", "gc_s"]
PY_KEYS = ["python_run_s", "python_start_s", "python_mb_sent", "python_mb_recv"]
COMPONENT_KEYS = [
    "htmltext.s", "segment.s", "nlp.s", "nlp.us_per_sentence", "nlp.cache_hit_ratio",
    "linking.s", "linking.nil_ratio",
    "canonicalize.forms", "canonicalize.lsh_s", "canonicalize.lsh_edges",
    "canonicalize.lsh_candidates", "canonicalize.lsh_yield", "canonicalize.merge_ratio",
    "connected_components.s", "connected_components.edges", "graph.s",
    "lakehouse.commit_overhead_s", "lakehouse.mb_written", "lakehouse.write_amp",
    "textstats.quality_s", "dedup.decontam_s", "dedup.exact_s", "dedup.ngram_pairs_s",
    "dedup.pairs", "connected_components.mixture_s", "connected_components.mixture_edges",
    "packing.s", "lakehouse.append_overhead_s",
]
TRACE_KEYS = ["trace.wall_s", "trace.overhead_s", "trace.untraced_runs", "run.self_s",
              "run.docs_per_s", "run.peak_rss_mb"]
PER_LAYER = (
    [f"{s}.{k}" for s in KG_STAGES for k in STAGE_KEYS]
    + ["metrics.wall_s"]
    + [f"extract.{k}" for k in PY_KEYS]
    + [f"mixture.{k}" for k in MIXTURE_KEYS]
    + COMPONENT_KEYS + TRACE_KEYS
)
RATIOS = {"busy_share", "task_skew", "cache_hit_ratio", "nil_ratio", "lsh_yield",
          "merge_ratio", "write_amp"}


def unit_of(name: str) -> str:
    key = name.split(".", 1)[1]
    if key in RATIOS:
        return "ratio"
    if "mb" in key.split("_"):
        return "MB"
    if key == "us_per_sentence":
        return "us"
    if key == "docs_per_s":
        return "1/s"
    if key == "s" or key.endswith("_s"):
        return "s"
    return "count"


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one committed triples row before each check "
                         "(shows that a bad output counts as a failed run)")
    return ap.parse_args()


def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark(spark, tracing) -> None:
    """Stop the session, end the gateway JVM and wait for every child."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while tracing.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in tracing.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while tracing.descendants(os.getpid()) and time.time() < deadline + 10:
        time.sleep(0.2)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "relation_extraction_spark", "__init__.py")):
        print("perfbench: relation_extraction_spark/ is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the package from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH")] if p)

    import tracing
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    w = W.WORKLOADS[args.workload]
    trace = args.trace == 1
    run_dir = os.path.join(WORK, "run")
    # a killed run leaves its tables and shuffle files behind
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    inputs = os.path.join(WORK, "inputs")

    t = time.time()
    W.ensure_input(w, args.seed, 0, inputs)
    gen_s = time.time() - t

    from relation_extraction_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{w.name}", master=f"local[{CORES}]",
                      shuffle_partitions=2 * CORES, extra_conf=spark_conf(run_dir, trace))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        setup_s = time.time() - T_START - gen_s
        print("# setup " + json.dumps({"session_s": setup_s, "input_gen_s": gen_s}))
        result = measure(spark, w, args, run_dir, setup_s, W, tracing)
    finally:
        stop_spark(spark, tracing)
    if trace:
        finish_trace(result, w, args, run_dir, tracing)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def measure(spark, w, args, run_dir: str, setup_s: float, W, tracing) -> dict:
    """The closed loop; with tracing also the component pass."""
    trace = args.trace == 1
    tracer = tracing.Tracer(spark.sparkContext if trace else None)
    span = tracer.span if trace else tracing.no_span
    inputs, refs = os.path.join(WORK, "inputs"), os.path.join(WORK, "refs")
    rss = tracing.RssSampler()
    samples, attempted, failed, measured, k, out = [], 0, 0, 0.0, 0, None
    try:
        while (k == 0 or measured < args.seconds) and k < W.MAX_SLICES:
            input_dir = W.ensure_input(w, args.seed, k, inputs)
            if out is not None:
                shutil.rmtree(out, ignore_errors=True)
            out = os.path.join(run_dir, f"out-{k}")
            gc.collect()
            rss.reset()
            attempted += 1
            t0 = time.perf_counter()
            try:
                with span("run") as rec:
                    job = W.run_pipeline_job(spark, input_dir, out, span)
            except Exception:
                traceback.print_exc()
                failed += 1
                measured += time.perf_counter() - t0
                k += 1
                continue
            wall = time.perf_counter() - t0
            measured += wall
            peak = rss.peak_mb()
            if args.corrupt:
                W.corrupt_output(out, "triples")
            try:
                problems = W.check_pipeline_run(w, args.seed, k, out, job, refs)
            except Exception as e:  # an unreadable output is a failed run
                problems = [repr(e)]
            if problems:
                failed += 1
                print(f"perfbench: {w.name} seed {args.seed} slice {k} failed its "
                      f"check: {problems}", file=sys.stderr)
            samples.append({"wall_s": wall, "docs": W.input_rows(input_dir),
                            "rows_out": job["rows_out"], "peak_rss_mb": peak,
                            "span": rec["id"] if rec else None, "job": job,
                            "input": input_dir, "out": out})
            k += 1
    finally:
        rss.close()
    walls = [s["wall_s"] for s in samples]
    print("# info " + json.dumps({
        "workload": w.name, "seed": args.seed, "jobs_timed": len(samples),
        "walls_s": walls, "triples_per_s": [s["rows_out"] / s["wall_s"] for s in samples],
        "docs_per_s": [s["docs"] / s["wall_s"] for s in samples],
        "peak_rss_mb": [s["peak_rss_mb"] for s in samples], "error_rate": failed / attempted,
    }))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": median(walls), "unit": "s"},
            "triples_per_s": {
                "value": median([s["rows_out"] / s["wall_s"] for s in samples]),
                "unit": "1/s"},
        },
    }
    history = os.path.join(WORK, f"untraced-{w.name}-n{w.sentences}.jsonl")
    if not trace:
        if samples:
            with open(history, "a") as fh:
                fh.write(json.dumps({"seed": args.seed, "wall_s": median(walls)}) + "\n")
        return result
    if not samples or samples[-1]["out"] != out:
        return result  # the last job raised: no committed tables to take apart
    import components

    last = samples[-1]
    scratch = os.path.join(run_dir, "components")
    docs_dir = W.ensure_docs(args.seed, inputs)
    mixture_out = os.path.join(run_dir, "mixture")
    with tracer.span("components"):
        comp, comp_spans = components.kg_components(spark, tracer, out, scratch)
        attempted += 1
        try:
            mix, mix_spans, counts = components.mixture_components(
                spark, tracer, docs_dir, mixture_out, scratch)
            problems = W.check_mixture_run(args.seed, docs_dir, mixture_out, counts, refs)
        except Exception:
            traceback.print_exc()
            mix, mix_spans, problems = {}, {}, ["mixture job raised"]
        if problems:
            failed += 1
            print(f"perfbench: mixture seed {args.seed} failed its check: {problems}",
                  file=sys.stderr)
    comp.update(mix)
    comp["lakehouse.mb_written"] = W.dir_mb(out)
    comp["lakehouse.write_amp"] = comp["lakehouse.mb_written"] / W.dir_mb(last["input"])
    result.update(correct=failed == 0, attempted=attempted, failed=failed)
    result["_trace"] = {"samples": samples, "spans": tracer.spans, "components": comp,
                        "component_spans": {**comp_spans, **mix_spans}, "history": history}
    return result


def finish_trace(result: dict, w, args, run_dir: str, tracing) -> None:
    """Attribute the event log to the spans, write the span file and put
    the per-layer metrics into ``result``."""
    t = result.pop("_trace", None)
    if t is None:
        result["metrics"] = {n: {"value": 0.0, "unit": unit_of(n)} for n in PER_LAYER}
        return
    events_dir = os.path.join(run_dir, "events")
    ev = tracing.EventLog(os.path.join(events_dir, os.listdir(events_dir)[0]))
    spans = t["spans"]
    job_spans = [
        {"id": f"job-{jid}", "parent": gid, "name": "spark_job", "start": a / 1e3, "end": b / 1e3}
        for gid, jobs in ev.jobs.items() if gid is not None for jid, a, b in jobs
    ]
    self_s = tracing.self_times(spans + job_spans)
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)

    per_job = []
    for sample in t["samples"]:
        row = {"run.self_s": self_s[sample["span"]]}
        for s in by_parent.get(sample["span"], []):
            m = ev.stage_metrics(s["id"], s["start"], s["end"], CORES)
            if s["name"] == "metrics":
                row["metrics.wall_s"] = m["wall_s"]
                continue
            info = sample["job"]["stages"][s["name"]]
            m["rows_out"] = sum(v["n_rows"] for v in info.values()
                                if isinstance(v, dict) and "n_rows" in v)
            row.update({f"{s['name']}.{k}": m[k] for k in STAGE_KEYS})
            if s["name"] == "extract":
                row.update({f"extract.{k}": m[k] for k in PY_KEYS})
        per_job.append(row)
    layer = {k: median([r[k] for r in per_job]) for k in per_job[0]}

    comp, cspans = t["components"], t["component_spans"]
    cand = ev.join_output_rows(cspans["lsh"], "band", "bh")
    comp["canonicalize.lsh_candidates"] = cand
    comp["canonicalize.lsh_yield"] = comp["canonicalize.lsh_edges"] / cand if cand else 0.0
    layer.update(comp)
    if "mixture" in cspans:
        s = next(s for s in spans if s["id"] == cspans["mixture"])
        m = ev.stage_metrics(s["id"], s["start"], s["end"], CORES)
        layer.update({f"mixture.{k}": m[k] for k in MIXTURE_KEYS})

    walls = [s["wall_s"] for s in t["samples"]]
    untraced = []
    if os.path.exists(t["history"]):
        with open(t["history"]) as fh:
            untraced = [json.loads(line)["wall_s"] for line in fh if line.strip()]
    layer["trace.wall_s"] = median(walls)
    layer["run.docs_per_s"] = median([s["docs"] / s["wall_s"] for s in t["samples"]])
    layer["run.peak_rss_mb"] = median([s["peak_rss_mb"] for s in t["samples"]])
    layer["trace.untraced_runs"] = len(untraced)
    layer["trace.overhead_s"] = median(walls) - median(untraced) if untraced else 0.0

    # the span tree, written once: run -> stage or op -> Spark job
    all_spans = spans + job_spans
    for s in all_spans:
        s["self_s"] = self_s[s["id"]]
    trace_dir = os.path.join(WORK, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{w.name}-s{args.seed}.json"), "w") as fh:
        json.dump({"workload": w.name, "seed": args.seed, "spans": all_spans,
                   "per_layer": layer}, fh, indent=1)
    result["metrics"] = {
        name: {"value": float(layer.get(name, 0.0)), "unit": unit_of(name)}
        for name in PER_LAYER
    }


if __name__ == "__main__":
    sys.exit(main())
