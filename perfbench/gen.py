"""Seeded input generator for the benchmark.

Everything the engine sees is made here from one integer seed: the same
seed gives byte-identical inputs. Nothing in this module touches Spark,
so the generator (and its determinism) can be tested without a JVM.

Parts:

- ``documents`` / ``embeddings``: the TESTDATA.md table shape the catalog's
  ``films_view`` joins (5,000 documents over a 31-word vocabulary with
  planted ``dup`` near-copies; 2,000 clustered unit 64-dim vectors).
- ``zipf_queries`` / ``distinct_queries``: query vectors drawn from a
  small pool with Zipf weights (repeats exist) or all distinct.
- ``IngestPlan``: a seed corpus plus raw LLM-style text batches carrying
  planted exact duplicates, one-edit fuzzy duplicates and fresh titles,
  with the key set each batch must leave behind.

Titles are pronounceable random syllable strings of 16+ letters; two of
them sit far below the 0.85 levenshtein ratio the dedup uses, so every
planted outcome is unambiguous (``movie <n>`` titles would all collide).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

DIM = 64
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
GENRES = (
    "drama", "comedy", "thriller", "scifi", "horror",
    "romance", "action", "documentary", "noir", "western",
)
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"] + [
    c + v + e for c in "bdgkmnprstv" for v in "aeiou" for e in "lnrs"
]


def rng_for(seed: int, part: str) -> np.random.Generator:
    """An independent stream per input part, so adding a part never
    shifts the values of another."""
    tag = int.from_bytes(part.encode(), "little") % (2**63)
    return np.random.default_rng([seed, tag])


def unit_rows(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def centres(seed: int, n_clusters: int = 10) -> np.ndarray:
    """The catalog's topic centres: embeddings and serve queries share them,
    so queries land near the data as real ones do."""
    return unit_rows(rng_for(seed, "centres").normal(size=(n_clusters, DIM)))


def clustered_vectors(
    rng: np.random.Generator, n: int, at: np.ndarray, spread: float = 0.35
) -> tuple[np.ndarray, np.ndarray]:
    """``n`` unit vectors scattered around the unit centres ``at``, as
    float32 (the on-disk embedding type); returns (vectors, labels)."""
    labels = rng.integers(0, len(at), size=n)
    noise = rng.normal(scale=spread / np.sqrt(DIM), size=(n, DIM))
    vecs = unit_rows(at[labels] + noise).astype(np.float32)
    return vecs, labels.astype(np.int32)


def _list_array(vecs: np.ndarray) -> pa.Array:
    n, d = vecs.shape
    offsets = np.arange(0, (n + 1) * d, d, dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(vecs.reshape(-1)))


# ---------------------------------------------------------------------------
# documents + embeddings (the catalog's films_view inputs)
# ---------------------------------------------------------------------------

def documents(seed: int, n: int = 5000, dup_share: float = 0.05) -> pa.Table:
    rng = rng_for(seed, "documents")
    vocab = np.array(DOC_VOCAB)
    lengths = rng.integers(10, 101, size=n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=k)]) for k in lengths]
    # planted near-copies: an earlier document plus a trailing " dup"
    for i in np.flatnonzero(rng.random(n) < dup_share):
        if i > 0:
            src = int(rng.integers(0, i))
            texts[i] = texts[src] + " dup"
    langs = np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(seed: int, n: int = 2000) -> pa.Table:
    vecs, labels = clustered_vectors(rng_for(seed, "embeddings"), n, centres(seed))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": _list_array(vecs),
        "label": pa.array(labels),
    })


# ---------------------------------------------------------------------------
# titles
# ---------------------------------------------------------------------------

def make_title(rng: np.random.Generator) -> str:
    words = []
    for _ in range(3):
        k = int(rng.integers(2, 4))
        words.append("".join(_SYLLABLES[j] for j in rng.integers(0, len(_SYLLABLES), k)))
    return " ".join(w.capitalize() for w in words)


def distinct_titles(rng: np.random.Generator, n: int) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        t = make_title(rng)
        if t.lower() not in seen:
            seen.add(t.lower())
            out.append(t)
    return out


# ---------------------------------------------------------------------------
# query vectors
# ---------------------------------------------------------------------------

@dataclass
class QueryStream:
    vectors: list[np.ndarray]   # one float64 unit vector per request
    pool_index: list[int]       # which pool entry each request drew


def repeat_share(draws: list[int]) -> float:
    """Share of requests whose vector an earlier request already used."""
    return (len(draws) - len(set(draws))) / max(len(draws), 1)


def zipf_queries(
    seed: int, n: int, pool: int = 24, s: float = 1.1, part: str = "zipf"
) -> QueryStream:
    """``n`` requests drawn Zipf-style (weight 1/rank^s) from ``pool``
    distinct vectors near the catalog's topics, so popular queries repeat."""
    rng = rng_for(seed, part)
    vecs, _ = clustered_vectors(rng, pool, centres(seed))
    vecs = vecs.astype(np.float64)
    w = 1.0 / np.arange(1, pool + 1) ** s
    idx = rng.choice(pool, size=n, p=w / w.sum())
    return QueryStream([vecs[i] for i in idx], [int(i) for i in idx])


def distinct_queries(seed: int, n: int, part: str = "distinct") -> QueryStream:
    """``n`` requests, every vector distinct (no repeats)."""
    vecs = unit_rows(rng_for(seed, part).normal(size=(n, DIM)))
    return QueryStream(list(vecs), list(range(n)))


# ---------------------------------------------------------------------------
# ingest: seed corpus + raw text batches with planted outcomes
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Movie:
    title: str
    year: int
    director: str
    cast: tuple[str, ...]
    genres: tuple[str, ...]
    plot: str

    @property
    def key(self) -> tuple[str, int]:
        """The dedup/upsert natural key: (lower(trim(title)), year)."""
        return (self.title.strip().lower(), self.year)

    def embed_text(self) -> str:
        """The text the ingest pipeline embeds for this row."""
        return "\n".join([self.title, str(self.year), self.director,
                          ", ".join(self.cast[:5]), ", ".join(self.genres), self.plot])


def make_movie(rng: np.random.Generator, title: str, year: int) -> Movie:
    return Movie(
        # no "_" in names: the parser's markdown cleaner strips it
        title, year, f"dir{int(rng.integers(0, 50))}",
        tuple(f"actor{int(a)}" for a in rng.integers(0, 40, size=4)),
        tuple(GENRES[int(g)] for g in rng.choice(len(GENRES), 2, replace=False)),
        f"A story about {title.lower()}.",
    )


def one_edit(rng: np.random.Generator, title: str) -> str:
    """Substitute one letter (never a space): lev distance 1, so the
    ratio is 1 - 1/len >= 0.85 for the 16+ letter titles made here."""
    pos = [i for i, c in enumerate(title) if c.isalpha()]
    i = int(rng.choice(pos))
    repl = next(x for x in "zqxjw" if x != title[i].lower())
    return title[:i] + (repl.upper() if title[i].isupper() else repl) + title[i + 1:]


def raw_text(m: Movie) -> str:
    """One LLM-style response in the parser's line format, with the
    markdown and numbering noise the cleaner strips."""
    return (
        f"1. TITLE: **{m.title}**\nYEAR: {m.year}\nDIRECTOR: {m.director}\n"
        f"CAST: {', '.join(m.cast)}\nGENRES: {', '.join(m.genres)}\nPLOT: {m.plot}"
    )


@dataclass
class IngestBatch:
    movies: list[Movie]     # one per raw text, in order
    kinds: list[int]        # per row: EXACT, FUZZY or FRESH

    @property
    def texts(self) -> list[str]:
        return [raw_text(m) for m in self.movies]

    @property
    def fresh(self) -> list[Movie]:
        """The rows the batch must add, in text order."""
        return [m for m, k in zip(self.movies, self.kinds) if k == FRESH]

    def count(self, kind: int) -> int:
        return sum(k == kind for k in self.kinds)


EXACT, FUZZY, FRESH = 0, 1, 2


@dataclass
class IngestPlan:
    corpus: list[Movie]
    batches: list[IngestBatch] = field(default_factory=list)

    def shares(self, n_batches: int | None = None) -> dict[str, float]:
        """Planted outcome shares over the first ``n_batches`` batches."""
        bs = self.batches[:n_batches]
        n = sum(len(b.kinds) for b in bs) or 1
        return {
            "exact_dup_share": sum(b.count(EXACT) for b in bs) / n,
            "fuzzy_dup_share": sum(b.count(FUZZY) for b in bs) / n,
            "fresh_share": sum(b.count(FRESH) for b in bs) / n,
        }


def ingest_plan(
    seed: int, corpus_rows: int = 2000, n_batches: int = 20, batch_rows: int = 200,
    exact_share: float = 0.1, fuzzy_share: float = 0.1,
) -> IngestPlan:
    """A seed corpus and ``n_batches`` raw text batches against it.

    Duplicates target movies already in the corpus when their batch runs
    (seed rows or fresh rows of earlier batches): exact ones repeat title
    and year (with case noise), fuzzy ones change one letter and keep the
    year within the dedup's one-year band. Fresh rows are new random
    titles, so the corpus key set after each batch is the previous set
    plus that batch's fresh keys. Years span 1901-2028, close to the
    catalog's 1900-2029, so the year-band blocking sees realistic bands
    and a fuzzy duplicate's year +-1 never leaves the parser's valid
    range (an out-of-range year is patched to 2000, which would turn the
    duplicate into a fresh row)."""
    rng = rng_for(seed, "ingest")
    total = corpus_rows + n_batches * batch_rows
    titles = distinct_titles(rng, total)
    years = rng.integers(1901, 2029, size=total)
    movies = [make_movie(rng, t, int(y)) for t, y in zip(titles, years)]
    plan = IngestPlan(movies[:corpus_rows])
    nxt = corpus_rows                         # movies[:nxt] are in the corpus
    for _ in range(n_batches):
        in_corpus = nxt
        kinds = [int(k) for k in rng.choice(
            3, size=batch_rows, p=[exact_share, fuzzy_share, 1 - exact_share - fuzzy_share])]
        batch = IngestBatch([], kinds)
        for kind in kinds:
            if kind == FRESH:
                m = movies[nxt]
                nxt += 1
            else:
                old = movies[int(rng.integers(0, in_corpus))]
                if kind == EXACT:
                    title = old.title.upper() if rng.random() < 0.5 else old.title
                    m = make_movie(rng, title, old.year)
                else:
                    m = make_movie(rng, one_edit(rng, old.title),
                                   old.year + int(rng.integers(-1, 2)))
            batch.movies.append(m)
        plan.batches.append(batch)
    return plan
