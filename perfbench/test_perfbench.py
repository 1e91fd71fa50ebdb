"""Tests of the benchmark's own logic: generator determinism, the
percentile rule, and that every output check rejects a wrong result.

Run with ``python -m pytest perfbench/test_perfbench.py -q``; no Spark
session is started.
"""

from __future__ import annotations

import math
import os
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import checks  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("make", [
    lambda s: gen.documents(s, n=300),
    lambda s: gen.embeddings(s, n=200),
])
def test_tables_are_deterministic_per_seed(make):
    assert make(7).equals(make(7))
    assert not make(7).equals(make(8))


def test_queries_and_ingest_plan_are_deterministic_per_seed():
    a, b = gen.zipf_queries(3, 50), gen.zipf_queries(3, 50)
    assert a.pool_index == b.pool_index
    assert all(np.array_equal(x, y) for x, y in zip(a.vectors, b.vectors))
    assert gen.zipf_queries(4, 50).pool_index != a.pool_index
    p, q = gen.ingest_plan(5, corpus_rows=300, n_batches=3), gen.ingest_plan(5, corpus_rows=300, n_batches=3)
    assert p.corpus == q.corpus
    assert [b.texts for b in p.batches] == [b.texts for b in q.batches]
    assert gen.ingest_plan(6, corpus_rows=300, n_batches=3).corpus != p.corpus


def test_zipf_queries_repeat_and_distinct_queries_do_not():
    assert gen.repeat_share(gen.zipf_queries(1, 200).pool_index) > 0.5
    assert gen.repeat_share(gen.distinct_queries(1, 200).pool_index) == 0.0
    assert gen.repeat_share([3, 1, 3, 3]) == 0.5


def test_documents_plant_near_copies_and_embeddings_are_unit():
    texts = gen.documents(2, n=1000).column("text").to_pylist()
    dups = [i for i, t in enumerate(texts) if t.endswith(" dup")]
    assert dups and all(texts[i][:-4] in texts[:i] for i in dups)
    vecs = np.array(gen.embeddings(2, n=100).column("embedding").to_pylist())
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-6)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _ratio(a: str, b: str) -> float:
    a, b = a.strip().lower(), b.strip().lower()
    return 1 - _lev(a, b) / max(len(a), len(b))


def test_planted_duplicates_are_unambiguous():
    """Fuzzy duplicates sit at ratio >= 0.85 of a corpus title within one
    year; fresh titles sit below 0.85 against every corpus title."""
    plan = gen.ingest_plan(11, corpus_rows=150, n_batches=2, batch_rows=60)
    corpus = list(plan.corpus)
    for batch in plan.batches:
        keys = {m.key for m in corpus}
        for m, kind in zip(batch.movies, batch.kinds):
            if kind == gen.EXACT:
                assert m.key in keys
            elif kind == gen.FUZZY:
                assert m.key not in keys
                assert any(abs(m.year - c.year) <= 1 and _ratio(m.title, c.title) >= 0.85
                           for c in corpus)
            else:
                assert max(_ratio(m.title, c.title) for c in corpus) < 0.85
        corpus += batch.fresh
    shares = plan.shares()
    assert shares["exact_dup_share"] > 0 and shares["fuzzy_dup_share"] > 0
    assert math.isclose(sum(shares.values()), 1.0)


# ---------------------------------------------------------------------------
# percentile rule
# ---------------------------------------------------------------------------

def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert checks.percentile(xs, 50) == 50
    assert checks.percentile(xs, 90) == 90
    assert checks.percentile([3.0], 50) == 3.0
    assert checks.percentile([4, 1, 3, 2], 50) == 2
    with pytest.raises(ValueError):
        checks.percentile([], 50)


def test_highest_reportable_needs_ten_samples_beyond():
    assert checks.samples_beyond(100, 90) == 10
    assert checks.highest_reportable(100) == 90
    assert checks.highest_reportable(99) == 75
    assert checks.highest_reportable(1000) == 99
    assert checks.highest_reportable(39) is None


# ---------------------------------------------------------------------------
# output checks reject wrong results
# ---------------------------------------------------------------------------

def _search_case(seed=0, n=60, k=10):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, 8))
    vecs[::7] = 0.0                          # unscored rows
    ids = [f"m{i:03d}" for i in range(n)]
    q = rng.normal(size=8)
    scores = checks.cosine(q, vecs)
    exp_ids, exp_sc = checks.expected_topk(ids, scores, k)
    return ids, scores, exp_ids, exp_sc


def test_topk_check_accepts_the_exact_answer_and_ties():
    ids, scores, exp_ids, exp_sc = _search_case()
    assert checks.check_topk(exp_ids, exp_sc, ids, scores, 10) == []
    # two rows whose scores tie within 1e-9 may trade places
    scores = scores.copy()
    a, b = ids.index(exp_ids[2]), ids.index(exp_ids[3])
    scores[b] = scores[a] - 1e-12
    e_ids, e_sc = checks.expected_topk(ids, scores, 10)
    swapped = e_ids[:2] + [e_ids[3], e_ids[2]] + e_ids[4:]
    sw_sc = e_sc[:2] + [e_sc[3], e_sc[2]] + e_sc[4:]
    assert checks.check_topk(swapped, sw_sc, ids, scores, 10) == []


def test_topk_check_appends_unscored_rows_by_id():
    ids, scores, _, _ = _search_case(k=60)
    exp_ids, exp_sc = checks.expected_topk(ids, scores, 60)
    assert exp_ids[-1] == sorted(ids[::7])[-1]
    got_sc = [0.0 if math.isnan(s) else s for s in exp_sc]    # search reports 0.0
    assert checks.check_topk(exp_ids, got_sc, ids, scores, 60) == []
    wrong = exp_ids[:-2] + [exp_ids[-1], exp_ids[-2]]
    assert checks.check_topk(wrong, got_sc, ids, scores, 60)


@pytest.mark.parametrize("mutate", [
    lambda i, s: (i[:-1], s[:-1]),                                   # too short
    lambda i, s: ([i[1], i[0]] + i[2:], [s[1], s[0]] + s[2:]),       # misordered
    lambda i, s: (i[:-1] + ["m999"], s),                             # unknown row
    lambda i, s: (i[:-1] + [i[0]], s),                               # duplicate
    lambda i, s: (i, s[:-1] + [s[-1] + 1e-6]),                       # wrong score
])
def test_topk_check_rejects_wrong_results(mutate):
    ids, scores, exp_ids, exp_sc = _search_case()
    got_ids, got_sc = mutate(list(exp_ids), list(exp_sc))
    assert checks.check_topk(got_ids, got_sc, ids, scores, 10)


def test_topk_check_rejects_a_row_from_outside_the_top_k():
    ids, scores, exp_ids, exp_sc = _search_case()
    outsider = checks.expected_topk(ids, scores, 11)[0][10]
    assert checks.check_topk(exp_ids[:-1] + [outsider], exp_sc, ids, scores, 10)


def test_browse_check():
    valid = [f"v{i:02d}" for i in range(50)][::-1]
    page = sorted(valid)[20:40]
    assert checks.check_browse(page, valid, 20, 20) == []
    assert checks.check_browse(sorted(valid)[19:39], valid, 20, 20)
    assert checks.check_browse(page[::-1], valid, 20, 20)


def test_subtopics_check():
    movies = [("a", ["drama", "noir"]), ("b", ["drama"]), ("c", ["noir", "drama"]),
              ("d", ["western"]), ("e", ["noir"])]
    want = checks.expected_subtopics(movies)
    assert [w[0] for w in want] == ["drama films", "noir films"]
    assert want[0] == ("drama films", ["a", "b", "c"], 3, 0.6)
    assert checks.check_subtopics(want, movies) == []
    assert checks.check_subtopics(want[:1], movies)
    assert checks.check_subtopics([("drama films", ["a", "b"], 3, 0.6), want[1]], movies)
    assert checks.check_subtopics([want[0], want[1][:3] + (0.5,)], movies)


def test_ann_check_via_probed_candidates():
    """ANN output must be the exact top-k of the probed buckets' rows."""
    rng = np.random.default_rng(3)
    vecs = gen.unit_rows(rng.normal(size=(400, 16)))
    ids = [f"r{i}" for i in range(400)]
    planes = checks.srp_planes(4, 16)
    buckets = checks.srp_buckets(vecs, planes)
    q = gen.unit_rows(rng.normal(size=(1, 16)))[0]
    probed = np.isin(buckets, list(checks.probe_set(q, planes)))
    scores = checks.cosine(q, vecs)
    cand = [i for i, ok in zip(ids, probed) if ok]
    good, good_sc = checks.expected_topk(cand, scores[probed], 5)
    assert checks.check_topk(good, good_sc, cand, scores[probed], 5) == []
    outside = next(i for i, ok in zip(ids, probed) if not ok)
    assert checks.check_topk(good[:-1] + [outside], good_sc, cand, scores[probed], 5)


def test_srp_bucket_replica_matches_the_engine_planes():
    from movievectorsearch_spark.operators.ann import _bucket_of, random_hyperplanes

    planes = checks.srp_planes(6, 64)
    assert np.array_equal(planes, random_hyperplanes(6, 64, 42))
    v = gen.unit_rows(np.random.default_rng(0).normal(size=(20, 64)))
    assert list(checks.srp_buckets(v, planes)) == [_bucket_of(x, planes) for x in v]


def test_keyset_check():
    keys = {("a", 2000), ("b", 2001)}
    assert checks.check_keyset(set(keys), keys) == []
    assert checks.check_keyset({("a", 2000)}, keys)
    assert checks.check_keyset(keys | {("c", 1999)}, keys)


def test_hash_embed_replica_is_unit_and_deterministic():
    v = checks.hash_embed("Fives Bilgissus\n1912\ndir_3")
    assert v is not None and math.isclose(float(v @ v), 1.0)
    assert np.array_equal(v, checks.hash_embed("fives  bilgissus 1912 DIR_3"))
    assert checks.hash_embed("   ") is None


def test_pairs_in_band_counts_the_blocked_join():
    new, old = [2000, 2001], [2000, 2002, 1990]
    total, useful = workloads._pairs_in_band(new, old)
    rows = [("n", y) for y in new] + [("o", y) for y in old]
    pairs = [(a, b) for i, a in enumerate(rows) for b in rows[i + 1:] if abs(a[1] - b[1]) <= 1]
    assert total == len(pairs)
    assert useful == sum(a[0] != b[0] for a, b in pairs)


def test_serve_cycle_sends_every_search_on_to_subtopics():
    cycle = workloads.SERVE_CYCLE
    searches = [i for i, op in enumerate(cycle) if op == workloads.SEARCH]
    assert searches and all(cycle[i + 1] == workloads.SUBTOPICS for i in searches)
    assert cycle.count(workloads.SUBTOPICS) == len(searches)
    # ANN repeats an earlier search's query, so a search precedes it
    assert all(searches[0] < i for i, op in enumerate(cycle) if op == workloads.ANN)


def test_result_metrics_match_benchmark_json():
    import json

    import run

    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    for section, names in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert [m["name"] for m in spec[section]] == list(names)
        assert all(m["unit"] == run.unit(m["name"]) for m in spec[section])
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_descendants_finds_grandchildren():
    import subprocess

    import run

    outer = subprocess.Popen([sys.executable, "-c",
                              "import subprocess, sys, time;"
                              "p = subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(30)']);"
                              "print(p.pid, flush=True); time.sleep(30)"],
                             stdout=subprocess.PIPE, text=True)
    inner = int(outer.stdout.readline())
    try:
        assert {outer.pid, inner} <= set(run._descendants(os.getpid()))
    finally:
        for pid in (inner, outer.pid):
            os.kill(pid, 9)
        outer.wait(timeout=10)
