"""Connected components, canonicalization, and linking unit tests
(SURVEY.md §2.3 J7, §2.10 D7/D8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from relation_extraction_spark.operators.canonicalize import (
    canonicalize,
    dictionary_edges,
    lsh_similarity_edges,
)
from relation_extraction_spark.operators.connected_components import (
    connected_components,
)
from relation_extraction_spark.operators.linking import link_mentions
from relation_extraction_spark.sources.dictionary import entity_dictionary


def _components(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.node: r.component for r in connected_components(df).collect()}


def test_cc_chain(spark):
    # path graph 1-2-3-4-5 -> one component rooted at 1
    got = _components(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {n: 1 for n in [1, 2, 3, 4, 5]}


def test_cc_two_components_and_star(spark):
    got = _components(spark, [(10, 11), (11, 12), (20, 21), (22, 21), (23, 21)])
    assert {got[10], got[11], got[12]} == {10}
    assert {got[20], got[21], got[22], got[23]} == {20}


def test_cc_duplicate_and_reversed_edges(spark):
    got = _components(spark, [(2, 1), (1, 2), (2, 3), (3, 2)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_cc_driver_and_distributed_paths_agree(spark):
    """The union-find fast path and the alternating-star iterative-join
    path must return identical (node, component) maps."""
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    fast = sorted(map(tuple, connected_components(df).collect()))
    dist = sorted(
        map(tuple, connected_components(df, driver_threshold=0).collect())
    )
    assert fast == dist


def test_cc_random_graphs_vs_reference(spark):
    """Randomized graphs: both CC paths must match an independent
    pure-Python BFS reference (not union-find — different algorithm,
    so shared-bug risk is low)."""
    import random
    from collections import defaultdict, deque

    def bfs_components(edges):
        adj = defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        comp, seen = {}, set()
        for start in sorted(adj):
            if start in seen:
                continue
            group, q = [], deque([start])
            seen.add(start)
            while q:
                x = q.popleft()
                group.append(x)
                for y in adj[x]:
                    if y not in seen:
                        seen.add(y)
                        q.append(y)
            root = min(group)
            for x in group:
                comp[x] = root
        return comp

    for seed in [1, 2, 3]:
        rng = random.Random(seed)
        n_nodes = rng.randrange(20, 120)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(rng.randrange(10, 200))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        want = bfs_components(edges)
        df = spark.createDataFrame(edges, "src long, dst long")
        for thr in (2_000_000, 0):  # driver path, distributed path
            got = {
                r.node: r.component
                for r in connected_components(df, driver_threshold=thr).collect()
            }
            assert got == want, f"seed={seed} threshold={thr}"


def test_cc_partition_invariance(spark):
    edges = [(i, i + 1) for i in range(0, 50, 2)] + [(i + 1, i + 2) for i in range(0, 48, 2)]
    df1 = spark.createDataFrame(edges, "src long, dst long").repartition(1)
    df8 = spark.createDataFrame(edges, "src long, dst long").repartition(8)
    a = sorted(map(tuple, connected_components(df1).collect()))
    b = sorted(map(tuple, connected_components(df8).collect()))
    assert a == b


def test_cc_distributed_stops_only_on_stars(spark):
    """One round turns the path 0-2-3-4-1 into 2->0, 2->1, 3->0, 4->1:
    no dst is also a src, yet node 2 joins the stars at 0 and 1. The
    distributed path goes on until every node maps to 0, once."""
    df = spark.createDataFrame([(2, 0), (3, 2), (4, 1), (4, 3)], "src long, dst long")
    got = sorted(map(tuple, connected_components(df, driver_threshold=0).collect()))
    assert got == [(n, 0) for n in range(5)]


def test_cc_distributed_raises_at_max_rounds(spark, monkeypatch):
    """A graph still unconverged after MAX_ROUNDS rounds raises instead
    of returning a partial labelling: a 64-node chain needs 6 rounds."""
    from relation_extraction_spark.operators import connected_components as CC

    monkeypatch.setattr(CC, "MAX_ROUNDS", 1)
    df = spark.createDataFrame([(i, i + 1) for i in range(64)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        CC.connected_components(df, driver_threshold=0)


def test_canonicalize_merges_near_duplicate_forms(spark):
    mentions = spark.createDataFrame(
        [
            ("u1", 0, "Apache Spark", 0, 5),
            ("u2", 0, "apache  spark", 0, 5),
            ("u3", 0, "apache spark engine", 0, 5),
            ("u4", 0, "DuckDB", 0, 5),
        ],
        "url string, sent_id int, mention string, start int, end int",
    )
    linked = spark.createDataFrame(
        [], "url string, sent_id int, mention string, entity_id long, score double"
    )
    entities, mapping = canonicalize(mentions, linked, threshold=0.5)
    canon = {r.form: r.canonical_id for r in mapping.collect()}
    # normalization already folds case/whitespace -> same form
    assert canon["apache spark"] == canon["apache spark engine"]
    assert canon["duckdb"] != canon["apache spark"]
    ents = {tuple(r.surface_forms) for r in entities.collect()}
    assert ("apache spark", "apache spark engine") in ents


def test_lsh_similarity_edges_recall_vs_exact_trigram_jaccard(spark):
    """Pair completeness of canonicalization's MinHash-LSH blocking on
    the golden corpus's surface forms: against every pair with exact
    char-trigram Jaccard >= 0.7 (computed all-pairs in Python), LSH
    emits no false positives and misses at most 5%. With 8 bands of 2
    rows a J = 0.7 pair is missed with probability (1 - 0.7**2)**8 ~ 0.005."""
    import itertools
    import re

    from .oracle import golden_mentions, golden_pages, golden_triples

    pages = golden_pages(500, seed=42)
    raw = [m[2] for m in golden_mentions(pages)]
    raw += [s for t in golden_triples(pages) for s in (t[2], t[4])]
    # functions/textstats.normalize_text_expr: lower, collapse
    # whitespace runs, trim
    forms = sorted({re.sub(r"\s+", " ", r.lower()).strip(" ") for r in raw} - {""})

    def trigrams(form):
        # char_trigrams_expr: distinct 3-char windows of the padded form
        padded = "  " + form + " "
        return {padded[i : i + 3] for i in range(max(len(padded) - 2, 1))}

    tris = {f: trigrams(f) for f in forms}
    exact = {
        frozenset((a, b))
        for a, b in itertools.combinations(forms, 2)
        if len(tris[a] & tris[b]) / len(tris[a] | tris[b]) >= 0.7
    }
    df = spark.createDataFrame([(f,) for f in forms], "form string").select(
        "form", F.xxhash64("form").alias("form_id")
    )
    by_id = {r.form_id: r.form for r in df.collect()}
    lsh = {
        frozenset((by_id[r.src], by_id[r.dst]))
        for r in lsh_similarity_edges(df, threshold=0.7).collect()
    }
    assert len(exact) >= 20, f"too few exact pairs to measure recall: {len(exact)}"
    assert lsh <= exact, f"false positives: {lsh - exact}"
    recall = len(lsh) / len(exact)
    assert recall >= 0.95, f"recall {recall:.3f}, missed {exact - lsh}"


def test_canonicalize_dictionary_star_edges(spark):
    """Forms the linker resolved to the same entity merge even when
    string-dissimilar (the Environment's cross-sentence topic merge):
    dictionary_edges points every other form of an entity at the
    entity's minimum form id, once, as the pure-Python star does."""
    rows = [
        ("Big Query Engine", 77), ("BQE", 77), ("BigQuery", 77),
        ("BQE", 77),  # a repeated mention
        ("  big   QUERY engine ", 77),  # a case and whitespace variant
        ("Acme Corp", 5), ("ACME corporation", 5),
        ("Unknown Thing", None),  # NIL
    ]
    mentions = spark.createDataFrame(
        [("u1", i, m, 0, len(m)) for i, (m, _) in enumerate(rows)],
        "url string, sent_id int, mention string, start int, end int",
    )
    linked = spark.createDataFrame(
        [("u1", i, m, e, None if e is None else 0.9) for i, (m, e) in enumerate(rows)],
        "url string, sent_id int, mention string, entity_id long, score double",
    )
    forms: dict[int, set[str]] = {}
    for m, e in rows:
        if e is not None:
            forms.setdefault(e, set()).add(" ".join(m.lower().split()))
    assert sorted(map(len, forms.values())) == [2, 3]
    form_ids = {
        r.form: r.form_id
        for r in spark.createDataFrame([(f,) for fs in forms.values() for f in fs], "form string")
        .select("form", F.xxhash64("form").alias("form_id"))
        .collect()
    }
    want = []
    for fs in forms.values():
        ids = [form_ids[f] for f in fs]
        want += [(i, min(ids)) for i in ids if i != min(ids)]
    assert sorted(map(tuple, dictionary_edges(linked).collect())) == sorted(want)

    _, mapping = canonicalize(mentions, linked, threshold=0.9)
    canon = {r.form: r.canonical_id for r in mapping.collect()}
    assert canon["big query engine"] == canon["bqe"] == canon["bigquery"]
    assert canon["acme corp"] == canon["acme corporation"] != canon["bqe"]
    assert canon["unknown thing"] not in {canon["bqe"], canon["acme corp"]}


def test_link_mentions_top1_and_nil(spark):
    dictionary = entity_dictionary(spark)
    sample = dictionary.limit(2).collect()
    assert sample, "dictionary must be non-empty"
    known = sample[0]["alias_norm"]
    # the known alias and the unknown one each occur twice in sentence 0
    inputs = [
        ("u1", 0, known, 0, 5),
        ("u1", 0, "zz unknown thing", 6, 20),
        ("u1", 0, known, 21, 26),
        ("u1", 0, "zz unknown thing", 27, 41),
    ]
    mentions = spark.createDataFrame(
        inputs, "url string, sent_id int, mention string, start int, end int"
    )
    got = link_mentions(mentions, dictionary).collect()
    # exactly one row per input mention occurrence, offsets carried through
    assert sorted((r.url, r.sent_id, r.mention, r.start, r.end) for r in got) == sorted(
        inputs
    )
    for r in got:
        if r.mention == known:
            assert r.entity_id is not None and r.score > 0
        else:
            assert r.entity_id is None and r.score is None
    assert len({(r.entity_id, r.score) for r in got if r.mention == known}) == 1


def test_link_deterministic_tiebreak(spark):
    """Two candidates with identical score -> smallest entity_id wins."""
    dictionary = spark.createDataFrame(
        [("acme", "acme", 5, 0.5), ("acme", "acme", 3, 0.5)],
        "alias_norm string, canonical_name string, entity_id long, prior double",
    )
    mentions = spark.createDataFrame(
        [("u1", 0, "Acme", 0, 4)],
        "url string, sent_id int, mention string, start int, end int",
    )
    for _ in range(2):
        rows = link_mentions(mentions, dictionary).collect()
        assert len(rows) == 1 and rows[0].entity_id == 3


def test_cc_string_node_ids_both_paths(spark):
    """Non-integer node ids must work on the driver fast path too (its
    output schema is derived from the edge column types — round-1
    advisor finding)."""
    edges = [("apple", "banana"), ("banana", "cherry"), ("x", "y")]
    df = spark.createDataFrame(edges, "src string, dst string")
    fast = {r.node: r.component for r in connected_components(df).collect()}
    dist = {
        r.node: r.component
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert fast == dist
    assert fast == {
        "apple": "apple", "banana": "apple", "cherry": "apple",
        "x": "x", "y": "x",
    }


def test_lsh_verification_is_exact_at_the_threshold(spark):
    """Candidates are verified on exact trigram codes: a pair at exactly
    7/10 is kept, one at 16/23 (just below 0.7) is dropped, and a pair
    whose forms differ only in a non-BMP character keeps its true
    Jaccard. Every candidate is checked against pure Python."""
    from fractions import Fraction

    def trigrams(form):
        padded = "  " + form + " "
        return {padded[i : i + 3] for i in range(max(len(padded) - 2, 1))}

    def jaccard(a, b):
        ta, tb = trigrams(a), trigrams(b)
        return Fraction(len(ta & tb), len(ta | tb))

    kept = frozenset(("broadcast joining", "broadcast joins"))
    dropped = frozenset(("snapshot manifestes", "snapshot manifesxt"))
    astral = frozenset(("engine \U0001F600 x", "engine \U0001F601 x"))
    assert jaccard(*kept) == Fraction(7, 10)
    assert jaccard(*dropped) == Fraction(16, 23)
    assert jaccard(*astral) < Fraction(7, 10)
    forms = sorted(kept | dropped | astral)
    df = spark.createDataFrame([(f,) for f in forms], "form string").select(
        "form", F.xxhash64("form").alias("form_id")
    )
    by_id = {r.form_id: r.form for r in df.collect()}

    def edges(threshold):
        return {
            frozenset((by_id[r.src], by_id[r.dst]))
            for r in lsh_similarity_edges(df, threshold=threshold).collect()
        }

    candidates = edges(0.0)
    assert {kept, dropped, astral} <= candidates
    got = edges(0.7)
    assert got == {p for p in candidates if jaccard(*p) >= Fraction(7, 10)}
    assert kept in got and dropped not in got and astral not in got
