"""The benchmark's own tests: seeded corpora, output checks, and metric
names. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, corpus, run, workloads  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

SPEC, SHAPES = run.load_spec()


def _small(name: str, **over) -> dict:
    clusters = {"clusters": [10, 3]} if "clusters" in SHAPES[name] else {}
    return {**SHAPES[name], "n_docs": 300, **clusters, **over}


def test_clusters_must_fit_the_corpus():
    import pytest

    with pytest.raises(ValueError):
        corpus.generate(1, _small("near_dup", clusters=[200, 101]))


# -- seeded corpus -----------------------------------------------------------

def test_same_seed_same_digest_and_other_seed_differs():
    for name in SHAPES:
        shape = _small(name)
        a = corpus.corpus_digest(corpus.generate(7, shape))
        b = corpus.corpus_digest(corpus.generate(7, shape))
        c = corpus.corpus_digest(corpus.generate(8, shape))
        assert a == b, name
        assert a != c, name


def test_written_parquet_round_trips(tmp_path):
    import pyarrow.parquet as pq

    rows = corpus.generate(3, _small("web_build"))
    corpus.write_documents(rows, str(tmp_path))
    back = pq.read_table(tmp_path / "documents.parquet").to_pylist()
    assert corpus.corpus_digest(back) == corpus.corpus_digest(rows)
    assert all(r["n_chars"] == len(r["text"]) for r in back)


def test_shape_parameters_are_honoured():
    shape = _small("web_build", n_docs=2000)
    rows = corpus.generate(5, shape)
    toks = [t for r in rows for t in r["text"].split(" ")]
    lengths = [len(r["text"].split(" ")) for r in rows]
    assert min(lengths) >= shape["min_words"] and max(lengths) <= shape["max_words"]
    stop = set(corpus.STOP_WORDS)
    stop_share = sum(t.lower().strip("(\".,;:!?'s") in stop for t in toks) / len(toks)
    assert abs(stop_share - shape["stop_share"]) < 0.05
    decorated = sum(not t.isalpha() or not t.islower() for t in toks) / len(toks)
    assert abs(decorated - shape["punct_share"]) < 0.03
    clean = corpus.generate(5, _small("crawl_increments"))
    assert all(re.fullmatch(r"[a-z ]+", r["text"]) for r in clean)


def test_stop_words_are_the_programs():
    from bootleg_spark.functions.textproc import STOP_WORDS

    assert set(corpus.STOP_WORDS) <= STOP_WORDS


def test_planted_clusters_are_near_duplicates():
    shape = _small("near_dup", n_docs=1000, clusters=[20, 5])
    rows = corpus.generate(11, shape)

    def shingles(text):
        w = text.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sets = [shingles(r["text"]) for r in rows]
    near = 0
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            if len(sets[i] & sets[j]) / len(sets[i] | sets[j]) >= workloads.THRESHOLD:
                near += 1
    # the clusters hold 190 + 10 pairs, most of them above the threshold;
    # random docs share almost no shingles
    assert 0.9 * 200 <= near <= 200 + 20


# -- output checks fail on corrupted results --------------------------------

TRIPLES = {("Q3", "works_with", "Q9"), ("Q3", "part_of", "Q12"), ("Q6", "located_in", "Q3")}


def test_triples_check_passes_and_catches_corruption():
    rows = sorted(TRIPLES)
    assert checks.check_triples(rows, TRIPLES) == []
    assert checks.check_triples(rows[1:], TRIPLES)  # one triple removed
    assert checks.check_triples(rows + rows[:1], TRIPLES)  # duplicate edge
    assert checks.check_triples(rows + [("Q1", "part_of", "Q2")], TRIPLES)


def test_repetition_digest_check():
    rows = sorted(TRIPLES)
    same = [checks.triple_digest(rows), checks.triple_digest(list(reversed(rows)))]
    assert checks.check_same_digest(same) == []
    assert checks.check_same_digest(same + [checks.triple_digest(rows[1:])])


def test_keep_check_against_union_find():
    pairs = [(1, 2), (2, 3), (5, 6)]
    expected = checks.union_find_keep(range(8), pairs)
    assert expected == {0: 1, 1: 1, 2: 0, 3: 0, 4: 1, 5: 1, 6: 0, 7: 1}
    rows = sorted(expected.items())
    assert checks.check_keep(rows, expected) == []
    assert checks.check_keep(rows[1:], expected)  # one keep flag removed
    flipped = [(d, 1 - k) if d == 3 else (d, k) for d, k in rows]
    assert checks.check_keep(flipped, expected)
    assert checks.check_keep(rows + rows[:1], expected)


def test_union_find_matches_brute_force_components():
    import random

    rnd = random.Random(4)
    ids = list(range(60))
    pairs = [tuple(sorted(rnd.sample(ids, 2))) for _ in range(40)]
    keep = checks.union_find_keep(ids, pairs)
    # brute force: a doc is kept iff no smaller doc reaches it
    adj = {i: set() for i in ids}
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    for d in ids:
        seen, stack = {d}, [d]
        while stack:
            for n in adj[stack.pop()] - seen:
                seen.add(n)
                stack.append(n)
        assert keep[d] == int(min(seen) == d)


def test_lookup_check():
    want = {t for t in TRIPLES if t[0] == "Q3"}
    assert checks.check_lookup(sorted(want), want, exact=True) == []
    assert checks.check_lookup(sorted(want)[1:], want, exact=True)
    assert checks.check_lookup(sorted(want)[1:], want, exact=False) == []
    assert checks.check_lookup(sorted(TRIPLES), want, exact=False)


# -- printed metrics match BENCHMARK.json -----------------------------------

def test_end_to_end_metrics_are_exactly_the_declared_ones():
    for name in SHAPES:
        ctx = SimpleNamespace(
            workload=name,
            setup_s=[1.0, 1.2, 1.1],
            op_s=[2.0, 2.1, 1.9],
            op_docs=[500, 500, 500],
            lookup_ms=[float(i) for i in range(1, 41)],
        )
        got = run.end_to_end(ctx, rss_bytes=3 * 2**30)
        assert set(got) == set(run.metric_units(SPEC, trace=False))
        assert all(v > 0 for v in got.values())
        assert set(run.ALIASES[name]) <= set(got)


def test_every_per_layer_metric_is_recorded_somewhere():
    src = ""
    for mod in ("workloads.py", "tracing.py"):
        with open(os.path.join(ROOT, "perfbench", mod)) as f:
            src += f.read()
    recorded = set(re.findall(r'"((?:[a-z_]+)\.[a-z_0-9]+)"', src))
    missing = set(run.metric_units(SPEC, trace=True)) - recorded
    assert not missing, missing


def test_per_layer_emits_declared_names_and_flags_unmeasured():
    units = run.metric_units(SPEC, trace=True)
    tracer = Tracer()
    for n in units:
        tracer.add(n, 1.0)
    ctx = SimpleNamespace(tracer=tracer, problems=[], attempted=0)
    ctx.check = lambda name, p: (setattr(ctx, "attempted", ctx.attempted + 1), p and ctx.problems.append(name))
    assert set(run.per_layer(ctx, units)) == set(units) and not ctx.problems
    tracer.samples.pop("dedup.clusters_s")
    run.per_layer(ctx, units)
    assert ctx.problems == ["per-layer metric dedup.clusters_s"]


def test_benchmark_json_contract_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in SPEC["workloads"]} <= set(SHAPES)
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"]) <= 0.25


def test_sidecar_spans_share_run_id(tmp_path):
    t = Tracer()
    with t.span("outer"):
        t.timed("inner", sum, [1, 2])
    path = tmp_path / "s.json"
    t.write_sidecar(str(path), {"workload": "x"})
    spans = json.loads(path.read_text())["spans"]
    assert {s["run_id"] for s in spans} == {t.run_id}
    inner = next(s for s in spans if s["name"] == "inner")
    outer = next(s for s in spans if s["name"] == "outer")
    assert inner["parent"] == outer["span_id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
