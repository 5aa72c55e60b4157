"""The workloads: seeded inputs, the jobs a run executes, and the
output checks that decide whether a run failed.

Inputs come from the repo's own seeded page generator
(``sources.corpus.make_page`` / ``make_stale_recrawl``), written to
parquet with pyarrow before the Spark session exists, so the program
under test receives nothing but the parquet directory.

Every timed job reads its own input slice: slice ``k`` of seed ``s`` is
generated with page seed ``s * 64 + k``. No job therefore finds its own
sentences already in the Python workers' parse caches; it only finds
what earlier jobs of the same run left there, as a long-lived worker
pool would.

The training-mixture job (``plans.mixture.run_mixture``) runs in the
traced run's component pass, over ``MIXTURE_DOCS`` documents built with
``make_page`` the way the S4 mixture corpus is, so its layers are
measured although no workload times it end to end.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from collections import Counter, defaultdict
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from relation_extraction_spark.functions.htmltext import extract_text_py
from relation_extraction_spark.functions.nlp import analyze_sentence
from relation_extraction_spark.functions.segment import segment_py
from relation_extraction_spark.plans.pipeline import STAGES, Pipeline, PipelineConfig
from relation_extraction_spark.sources.corpus import make_page, make_stale_recrawl

MAX_SLICES = 64          # timed jobs per run at most
LANG_EN = 0.85
DUP_FRAC = 0.05          # synthetic_pages' default recrawl share
N_BUCKETS = 4            # url buckets per table: 2 x local cores
EVAL_MAX_DOC_ID = 10     # MixtureConfig default: docs below it are eval
PACK_BUDGET = 512        # MixtureConfig default
MIXTURE_DOCS = 5000
SENT_RANGE = (12, 40)    # sentences per page: Common-Crawl-shaped, as in scripts/tagpath_ab.py
MIXTURE_SENT_RANGE = (3, 10)


@dataclass(frozen=True)
class Workload:
    """A slice holds pages until it has ``sentences`` English sentences,
    so every seed gives about the same triple count and form universe."""
    name: str
    sentences: int
    skew: float
    unique_vocab: bool


WORKLOADS = {
    w.name: w
    for w in [
        Workload("kg_web", 11000, skew=0.1, unique_vocab=False),       # ~500 pages
        Workload("kg_longtail", 2200, skew=0.0, unique_vocab=True),    # ~100 pages
    ]
}


def slice_seed(seed: int, k: int) -> int:
    return seed * 64 + k


# ------------------------------------------------------------------ inputs

_PAGES = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
_DOCS = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _is_recrawled(i: int) -> bool:
    # the same row rule as sources.corpus.synthetic_pages
    return (i * 2654435761 % 10_000) < DUP_FRAC * 10_000


def pages(w: Workload, pseed: int):
    """Yields ``(i, page)`` from ``make_page`` until the English pages
    hold ``w.sentences`` sentences."""
    i = n = 0
    while n < w.sentences:
        page = make_page(pseed, i, w.skew, LANG_EN, SENT_RANGE, w.unique_vocab)
        if page["lang"] == "en":
            n += len(segment_py(page["text"]))
        yield i, page
        i += 1


def _page_rows(w: Workload, pseed: int) -> list[dict]:
    rows = []
    for i, page in pages(w, pseed):
        rows.append(page)
        if _is_recrawled(i):
            rows.append(make_stale_recrawl(pseed, i, w.skew, LANG_EN, SENT_RANGE))
    return rows


def _write(rows: list[dict], schema: pa.Schema, path: str) -> str:
    """Write ``rows`` as a 4-file parquet directory, atomically."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    parts = 4
    for p in range(parts):
        chunk = rows[p::parts]
        cols = {f.name: [r[f.name] for r in chunk] for f in schema}
        pq.write_table(pa.table(cols, schema=schema), os.path.join(tmp, f"part-{p:05d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def ensure_input(w: Workload, seed: int, k: int, cache_dir: str) -> str:
    """Parquet pages of slice ``k``, cached per (workload, size, seed)."""
    path = os.path.join(cache_dir, f"{w.name}-n{w.sentences}-s{seed}-k{k}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    return _write(_page_rows(w, slice_seed(seed, k)), _PAGES, path)


def ensure_docs(seed: int, cache_dir: str) -> str:
    """Parquet documents ``(doc_id, text, lang, source, n_chars)`` for the
    mixture job, from the same page generator as the S4 mixture corpus."""
    path = os.path.join(cache_dir, f"mixture-n{MIXTURE_DOCS}-s{seed}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    rows = []
    for i in range(MIXTURE_DOCS):
        p = make_page(seed, i, 0.1, LANG_EN, MIXTURE_SENT_RANGE)
        rows.append({"doc_id": i, "text": p["text"], "lang": p["lang"], "source": "s4",
                     "n_chars": len(p["text"])})
    return _write(rows, _DOCS, path)


def input_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path) if f.endswith(".parquet")
    )


def dir_mb(path: str) -> float:
    total = 0
    for base, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, n)) for n in names)
    return total / 1e6


# -------------------------------------------------------------------- jobs


def run_pipeline_job(spark, input_dir: str, out: str, span) -> dict:
    """One KG pipeline job; ``span(name)`` wraps each ``stage_*`` call.

    Returns the per-stage infos the stages returned, the triples
    committed and the invariant-mismatch count extract reported.
    """
    cfg = PipelineConfig(out=out, input_parquet=input_dir, resume=False,
                         n_buckets=N_BUCKETS, run_id="perfbench")
    p = Pipeline(spark, cfg)
    info = {}
    try:
        for stage in STAGES:
            with span(stage):
                info[stage] = getattr(p, f"stage_{stage}")()
    finally:
        p.flush_metrics()
    return {
        "rows_out": info["extract"]["triples"]["n_rows"],
        "n_mismatch": info["extract"]["n_mismatch"],
        "stages": info,
    }


# ------------------------------------------------------------------ checks


def read_table(out: str, name: str) -> pa.Table:
    """The newest committed snapshot of a table, read with pyarrow from
    its manifest — independent of the Spark read path under test."""
    mdir = os.path.join(out, name, "_manifests")
    last = max(int(f[9:-5]) for f in os.listdir(mdir) if f.startswith("snapshot-"))
    with open(os.path.join(mdir, f"snapshot-{last}.json")) as fh:
        files = json.load(fh)["files"]
    tables = [pq.read_table(os.path.join(out, name, f)) for f in files]
    return pa.concat_tables(tables) if tables else pa.table({})


def digest(rows) -> str:
    """Order-insensitive digest of an iterable of tuples."""
    h = 0
    for r in rows:
        h += int.from_bytes(hashlib.blake2b(repr(r).encode(), digest_size=8).digest(), "little")
    return "%016x" % (h % (1 << 64))


_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def norm_form(s: str) -> str:
    # operators.dedup.normalize_text_expr: regexp_replace(lower(trim(s)), \s+, ' ')
    return _WS.sub(" ", s.strip(" ").lower())


def kg_reference(w: Workload, pseed: int) -> dict:
    """Triples, mention count and surface-form universe of one slice via
    the pure-Python path (extract_text_py -> segment_py -> analyze_sentence)."""
    triples, forms, n_mentions = [], set(), 0
    for _i, page in pages(w, pseed):
        if page["lang"] != "en" or extract_text_py(page["html"].decode()) != page["text"]:
            continue
        for sid, sent in enumerate(segment_py(page["text"])):
            ts, ms = analyze_sentence(sent)
            n_mentions += len(ms)
            forms.update(norm_form(m["mention"]) for m in ms)
            for t in ts:
                triples.append((page["url"], sid, t["subj"], t["pred"], t["obj"], t["conf"]))
                forms.update((norm_form(t["subj"]), norm_form(t["obj"])))
    forms.discard("")
    return {"n_triples": len(triples), "triples": digest(triples),
            "n_mentions": n_mentions, "forms": forms}


def _rows(t: pa.Table, cols: list[str]):
    return zip(*(t.column(c).to_pylist() for c in cols))


def check_kg(w: Workload, pseed: int, out: str, job: dict) -> tuple[list[str], dict]:
    """Returns (problems, determinism digests of mapping and edges)."""
    bad = []
    ref = kg_reference(w, pseed)
    if job["n_mismatch"] != 0:
        bad.append(f"text_invariant_mismatches={job['n_mismatch']}")
    tr = read_table(out, "triples")
    got = digest(_rows(tr, ["url", "sent_id", "subj", "pred", "obj", "conf"]))
    if tr.num_rows != ref["n_triples"] or got != ref["triples"]:
        bad.append(f"triples {tr.num_rows}/{got} != reference {ref['n_triples']}/{ref['triples']}")
    n_m = read_table(out, "mentions").num_rows
    if n_m != ref["n_mentions"]:
        bad.append(f"mentions {n_m} != reference {ref['n_mentions']}")
    mp = read_table(out, "mapping")
    forms = mp.column("form").to_pylist()
    if len(forms) != len(set(forms)) or set(forms) != ref["forms"]:
        bad.append(f"mapping forms {len(forms)} != reference {len(ref['forms'])}")
    group_min = defaultdict(lambda: 1 << 63)
    for fid, cid in _rows(mp, ["form_id", "canonical_id"]):
        group_min[cid] = min(group_min[cid], fid)
    if any(cid != m for cid, m in group_min.items()):
        bad.append("mapping canonical_id is not its component's minimum form_id")
    ed = read_table(out, "edges")
    pred_weight = sum(wt for p, wt in _rows(ed, ["pred", "weight"]) if p != "co_occurs_with")
    if pred_weight != ref["n_triples"]:
        bad.append(f"predicate edge weight {pred_weight} != triples {ref['n_triples']}")
    pinned = {
        "mapping": [mp.num_rows, digest(_rows(mp, ["form", "form_id", "canonical_id"]))],
        "edges": [ed.num_rows, digest(_rows(ed, ["src_id", "dst_id", "pred", "weight"]))],
    }
    return bad, pinned


def check_mixture(docs_dir: str, out: str, counts: dict) -> tuple[list[str], dict]:
    bad = []
    docs = pq.read_table(docs_dir)
    text = dict(_rows(docs, ["doc_id", "text"]))
    if counts["n_input"] != docs.num_rows:
        bad.append(f"n_input {counts['n_input']} != {docs.num_rows}")
    md = read_table(out, "mixture_docs")
    if md.num_rows != counts["n_output"]:
        bad.append(f"mixture_docs rows {md.num_rows} != n_output {counts['n_output']}")
    ids = md.column("doc_id").to_pylist()
    if len(ids) != len(set(ids)) or any(i < EVAL_MAX_DOC_ID or i not in text for i in ids):
        bad.append("mixture_docs ids are duplicated, eval-set or unknown")
    norms = Counter(norm_form(text.get(i, "")) for i in ids)
    if norms and norms.most_common(1)[0][1] > 1:
        bad.append("mixture_docs keeps exact duplicates")
    # packing: offsets are the per-stratum prefix sum in doc_id order
    by_lang = defaultdict(list)
    for r in _rows(md, ["doc_id", "lang", "n_tok", "seq_no", "seq_off"]):
        by_lang[r[1]].append(r)
    for rows in by_lang.values():
        off = 0
        for doc_id, _lang, n_tok, seq_no, seq_off in sorted(rows):
            if (seq_no, seq_off) != (off // PACK_BUDGET, off % PACK_BUDGET):
                bad.append(f"packing offset wrong at doc {doc_id}")
                break
            off += n_tok
    return bad, {"counts": counts}


def pin(ref_path: str, bad: list[str], pinned: dict) -> list[str]:
    """Compare ``pinned`` with the seed reference at ``ref_path``; the
    first run of a seed that passes every other check writes it."""
    if os.path.exists(ref_path):
        with open(ref_path) as fh:
            ref = json.load(fh)
        return bad + [f"{key} {pinned.get(key)} != seed reference {ref[key]}"
                      for key in ref if ref[key] != pinned.get(key)]
    if not bad:
        os.makedirs(os.path.dirname(ref_path), exist_ok=True)
        with open(ref_path + ".tmp", "w") as fh:
            json.dump(pinned, fh, sort_keys=True)
        os.replace(ref_path + ".tmp", ref_path)
    return bad


def check_pipeline_run(w: Workload, seed: int, k: int, out: str, job: dict,
                       ref_dir: str) -> list[str]:
    """All problems in one pipeline job's committed outputs (empty = correct)."""
    bad, pinned = check_kg(w, slice_seed(seed, k), out, job)
    return pin(os.path.join(ref_dir, f"{w.name}-n{w.sentences}-s{seed}-k{k}.json"), bad, pinned)


def check_mixture_run(seed: int, docs_dir: str, out: str, counts: dict,
                      ref_dir: str) -> list[str]:
    bad, pinned = check_mixture(docs_dir, out, counts)
    return pin(os.path.join(ref_dir, f"mixture-n{MIXTURE_DOCS}-s{seed}.json"), bad, pinned)


def corrupt_output(out: str, name: str) -> None:
    """Drop one row from the first data file of table ``name``, in
    place (for checking that the output check catches a bad run)."""
    mdir = os.path.join(out, name, "_manifests")
    last = max(int(f[9:-5]) for f in os.listdir(mdir) if f.startswith("snapshot-"))
    with open(os.path.join(mdir, f"snapshot-{last}.json")) as fh:
        files = json.load(fh)["files"]
    for f in files:
        path = os.path.join(out, name, f)
        t = pq.read_table(path)
        if t.num_rows:
            pq.write_table(t.slice(0, t.num_rows - 1), path)
            return
