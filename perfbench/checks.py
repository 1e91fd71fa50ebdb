"""Output checks and summary statistics for the benchmark.

Every check takes what the engine returned plus the rows it ran over,
recomputes the answer independently (NumPy or plain Python), and returns
a list of problems; an empty list means the output is correct. Nothing
here touches Spark, so each check can be shown to fail on a deliberately
wrong result without a JVM (see test_perfbench.py).
"""

from __future__ import annotations

import math
import re
from collections.abc import Sequence

import numpy as np

TIE_TOL = 1e-9          # score ties: two scores within this are interchangeable
P = 2_147_483_647       # the featurizer's polynomial-hash modulus (2^31 - 1)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least q% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(math.ceil(q / 100 * len(s)) - 1, 0)]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank q-th percentile."""
    return n - max(math.ceil(q / 100 * n), 1)


def highest_reportable(n: int, candidates: Sequence[float] = (99, 95, 90, 75)) -> float | None:
    """The highest percentile with at least ten samples beyond it, or
    None when even the lowest candidate has fewer (report the median
    alone then)."""
    for q in sorted(candidates, reverse=True):
        if samples_beyond(n, q) >= 10:
            return q
    return None


# ---------------------------------------------------------------------------
# vector search
# ---------------------------------------------------------------------------

def cosine(query: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """cos(query, row) per row in float64; NaN where a norm is zero."""
    mat = np.asarray(mat, dtype=np.float64)
    q = np.asarray(query, dtype=np.float64)
    denom = np.linalg.norm(mat, axis=1) * np.linalg.norm(q)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = (mat @ q) / denom
    out[denom == 0] = np.nan
    return out


def expected_topk(ids: Sequence[str], scores: np.ndarray, k: int) -> tuple[list[str], list[float]]:
    """Exact top-k: scored rows by (score desc, id asc), then unscored
    rows (NaN) by id asc when k exceeds the scored count."""
    ids = np.asarray(ids, dtype=object)
    ranked = ~np.isnan(scores)
    r_ids, r_sc = ids[ranked], scores[ranked]
    order = sorted(range(len(r_ids)), key=lambda i: (-r_sc[i], r_ids[i]))[:k]
    out_ids = [r_ids[i] for i in order]
    out_sc = [float(r_sc[i]) for i in order]
    if len(out_ids) < k:
        tail = sorted(ids[~ranked])[: k - len(out_ids)]
        out_ids += list(tail)
        out_sc += [math.nan] * len(tail)
    return out_ids, out_sc


def check_topk(
    got_ids: Sequence[str], got_scores: Sequence[float | None],
    ids: Sequence[str], scores: np.ndarray, k: int,
) -> list[str]:
    """A top-k result is right when it has the exact top-k's length,
    names distinct rows of the input, and position by position carries
    the exact top-k score (so rows whose scores tie within TIE_TOL may
    trade places). Unscored rows must match by id. ``scores`` are the
    NumPy scores of ``ids``; ``got_scores`` are the engine's."""
    exp_ids, exp_sc = expected_topk(ids, scores, k)
    if len(got_ids) != len(exp_ids):
        return [f"top-{k}: {len(got_ids)} rows, expected {len(exp_ids)}"]
    if len(set(got_ids)) != len(got_ids):
        return [f"top-{k}: duplicate ids"]
    index = {i: n for n, i in enumerate(ids)}
    problems = []
    for pos, (gid, gsc, eid, esc) in enumerate(zip(got_ids, got_scores, exp_ids, exp_sc)):
        if gid not in index:
            problems.append(f"top-{k} pos {pos}: id {gid!r} is not an input row")
            continue
        true = scores[index[gid]]
        if math.isnan(esc):
            if gid != eid:
                problems.append(f"top-{k} pos {pos}: unscored id {gid!r}, expected {eid!r}")
        elif math.isnan(true) or abs(true - esc) > TIE_TOL:
            problems.append(f"top-{k} pos {pos}: id {gid!r} scores {true}, expected {esc} ({eid!r})")
        elif gsc is None or abs(gsc - true) > TIE_TOL:
            problems.append(f"top-{k} pos {pos}: reported score {gsc}, true {true}")
        if problems:
            break
    return problems


def check_browse(got_ids: Sequence[str], valid_ids: Sequence[str], skip: int, limit: int) -> list[str]:
    """A browse page is the id-ordered slice of the status-filtered rows."""
    want = sorted(valid_ids)[skip: skip + limit]
    return [] if list(got_ids) == want else [
        f"browse skip={skip}: got {list(got_ids)[:3]}..., expected {want[:3]}..."]


def recall(got_ids: Sequence[str], exact_ids: Sequence[str]) -> float:
    return len(set(got_ids) & set(exact_ids)) / max(len(exact_ids), 1)


# ---------------------------------------------------------------------------
# SRP index (replica of the bucket assignment)
# ---------------------------------------------------------------------------

def srp_planes(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """The index's hyperplanes: seeded standard normals, as documented
    for ``operators.ann.random_hyperplanes``."""
    return np.random.RandomState(seed).normal(size=(n_planes, dim))


def srp_buckets(vecs: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Bucket id per row: bit j set when row·plane_j >= 0."""
    bits = (np.asarray(vecs, dtype=np.float64) @ planes.T) >= 0
    return bits.astype(np.int64) @ (1 << np.arange(planes.shape[0], dtype=np.int64))


def probe_set(query: np.ndarray, planes: np.ndarray) -> set[int]:
    """The query's bucket and its hamming-distance-1 neighbours."""
    b = int(srp_buckets(query[None, :], planes)[0])
    return {b} | {b ^ (1 << j) for j in range(planes.shape[0])}


# ---------------------------------------------------------------------------
# analyze-subtopics
# ---------------------------------------------------------------------------

def expected_subtopics(movies: Sequence[tuple[str, Sequence[str]]], max_groups: int = 3) -> list[tuple]:
    """Python regrouping: genre -> sorted member titles, groups of two
    or more, largest first (genre asc on ties), at most ``max_groups``;
    confidence = group size / number of movies."""
    groups: dict[str, list[str]] = {}
    for title, genres in movies:
        for g in genres or ():
            groups.setdefault(g, []).append(title)
    keep = sorted(((g, sorted(t)) for g, t in groups.items() if len(t) >= 2),
                  key=lambda x: (-len(x[1]), x[0]))[:max_groups]
    total = len(movies)
    return [(f"{g} films", t, len(t), len(t) / total) for g, t in keep]


def check_subtopics(got: Sequence[tuple], movies: Sequence[tuple[str, Sequence[str]]]) -> list[str]:
    want = expected_subtopics(movies)
    if len(got) != len(want):
        return [f"subtopics: {len(got)} groups, expected {len(want)}"]
    for g, w in zip(got, want):
        if (g[0], list(g[1]), g[2]) != (w[0], w[1], w[2]) or abs(g[3] - w[3]) > 1e-12:
            return [f"subtopics: got {g[0]!r} n={g[2]}, expected {w[0]!r} n={w[2]}"]
    return []


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def check_keyset(got: set[tuple[str, int]], want: set[tuple[str, int]]) -> list[str]:
    """After a batch the corpus holds exactly the planted-outcome keys."""
    if got == want:
        return []
    missing, extra = want - got, got - want
    return [f"corpus keys: {len(missing)} missing (e.g. {sorted(missing)[:2]}), "
            f"{len(extra)} unexpected (e.g. {sorted(extra)[:2]})"]


def hash_embed(text: str, dim: int = 64) -> np.ndarray | None:
    """Independent replica of the ingest featurizer: lower-cased ASCII-
    whitespace tokens, polynomial hash (x31, mod 2^31-1) into ``dim``
    signed buckets, L2-normalised; None for a text without tokens."""
    counts = np.zeros(dim)
    for tok in re.split("[ \t\n\x0b\f\r]+", text.strip(" ").lower()):
        if not tok:
            continue
        acc = 0
        for ch in tok:
            acc = (acc * 31 + ord(ch)) % P
        counts[acc % dim] += 1.0 if (acc // dim) % 2 == 0 else -1.0
    norm = float(np.sqrt(counts @ counts))
    return counts / norm if norm else None
