"""The two workloads, driven through the engine's public functions from
one process: a closed loop with one client, so each request is sent only
after the previous one returned.

- ``serve``: the /api/search traffic over ``catalog.films_view`` of a
  5,000-document catalog (about 1,700 ranked films): exact vector search,
  each followed by the analyze-subtopics round trip over its rows, browse
  with skip paging, and SRP-indexed ANN search as a second strategy for a
  search's query. Query vectors are drawn Zipf-style from a small pool,
  so they repeat. Per-request fixed cost (plan construction, scheduling)
  dominates.
- ``ingest``: the curator lifecycle in micro-batches (raw text →
  ``ingest_batch`` → ``upsert_latest_wins`` → ``atomic_swap``) into a
  growing corpus, each batch followed by searches on the fresh corpus
  with distinct query vectors. The write path, and dedup's year-band
  self-join of the whole corpus, dominate.

Which shares of the traffic come from the reference and which are
assumptions is written next to each constant below (and in README.md).

Every request's output is checked (see checks.py); a wrong or failed
request counts in ``failed``. Timings cover the call into the engine and
the collect of its result, never the check.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
from spans import SparkStatus, Tracer

VALID_STATUS = ("enriched", "llm_generated")
ANN_PLANES = 6          # 64 buckets: the default 8 (256) triples the index build here
ANN_K = 20
# The serve cycle. From the reference: every vector search uses the
# route's default limit 20 (config.py:24-28; the repo holds no client that
# sends another) and is followed by the analyze-subtopics round trip over
# the rows it returned (SURVEY.md §3.3). Assumed, as the repo has no
# request logs: one browse page (the route's empty-query branch) per four
# searches, and one ANN request per cycle that answers the cycle's last
# search query again through the SRP index. The ANN request is a second
# strategy for a search already counted, so it is timed on its own and
# left out of the serve throughput.
SEARCH, BROWSE, SUBTOPICS, ANN = range(4)
SERVE_CYCLE = (SEARCH, SUBTOPICS, SEARCH, SUBTOPICS, BROWSE,
               SEARCH, SUBTOPICS, SEARCH, SUBTOPICS, ANN)
SERVE_COUNTED = ("search", "browse", "subtopics")   # the requests serve throughput counts
SEARCH_LIMIT = 20
BROWSE_PAGES = 10       # browse pages through the first 10 pages of 20, in order (assumed)
WARMUP_CYCLES = 1       # untimed serve cycles before timing starts
WARMUP_BATCHES = 2      # the first pays the cold start (Python workers, JIT); the second still warms
# Ingest micro-batch: the reference curator reloads its dedup state every
# 50 records (movie_generator.py:510-511), so 50 records are the unit its
# dedup sees at once. The duplicate shares (10 % exact, 10 % one-edit
# fuzzy) and the two extra searches after each batch are assumed.
BATCH_ROWS = 50
SEARCHES_AFTER_BATCH = 3    # the read-after-write probe plus two distinct queries
# what vector_search reads: the 12-column projection's inputs plus the embedding
SEARCH_COLUMNS = ("id", "title", "year", "director", "directors", "cast", "genres", "plot",
                  "description", "enrichment_response", "analysis", "poster_url",
                  "processing_status", "ai_provider", "embedding")


def _ms(xs):
    return [x * 1000 for x in xs]


def _dir_files(path: Path) -> list[Path]:
    """Data files of a parquet directory (Spark's markers excluded)."""
    return [p for p in path.rglob("*") if p.is_file() and not p.name.startswith(("_", "."))]


def noop(df) -> float:
    """Run ``df`` into Spark's noop sink; returns the seconds it took."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class Rows:
    """The rows a request ran over, as the checks need them: ids, status
    validity and embeddings (zero rows where the embedding is missing)."""

    def __init__(self, table: pa.Table):
        self.ids = table.column("id").to_pylist()
        self.valid = np.isin(np.array(table.column("processing_status").to_pylist(), dtype=object),
                             VALID_STATUS)
        emb = table.column("embedding").to_pylist()
        self.vecs = np.array([e if e else [0.0] * gen.DIM for e in emb], dtype=np.float64)
        self.has_vec = np.array([bool(e) for e in emb])

    def check_search(self, rows, q, k) -> list[str]:
        """A search result against NumPy exact top-k over the valid rows."""
        ids = [i for i, ok in zip(self.ids, self.valid) if ok]
        return checks.check_topk([r["id"] for r in rows], [r["similarity"] for r in rows],
                                 ids, checks.cosine(q, self.vecs)[self.valid], k)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, root: Path):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = root / ".perfbench_work" / f"{workload}-{seed}-{os.getpid()}"
        self.data = self.work / "data"
        self.tracer = Tracer(trace)
        self.lat: dict[str, list[float]] = defaultdict(list)   # timed phase, seconds
        self.info: dict[str, float] = {}       # workload-specific figures
        self.layer: dict[str, float] = {}      # per-layer figures (traced run)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.timed = False
        self.loop_start = 0.0
        self.n_req = 0
        self.rows_returned = 0
        self.rows: Rows | None = None           # what searches run over
        self.spark = None

    # -- session -----------------------------------------------------------

    def start_session(self) -> None:
        from movievectorsearch_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
                },
            )
        self.layer["session.start_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer._sc = self.spark.sparkContext

    def peak_rss_mb(self) -> float:
        """VmHWM of this process plus the JVM, in MiB."""
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        total = 0
        for pid in ("self", str(jvm)):
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
        return total / 1024

    # -- requests ----------------------------------------------------------

    def request(self, kind: str, fn, check):
        """Run one request: time ``fn`` (engine call + collect), then
        check its result. Returns the result, or None when it failed."""
        self.n_req += 1
        self.attempted += 1
        rid = f"{'t' if self.timed else 'w'}{self.n_req}:{kind}"
        self.tracer.tag(rid)
        try:
            with self.tracer.span(kind, rid):
                t0 = time.perf_counter()
                result = fn()
                dt = time.perf_counter() - t0
        except Exception:   # one request's failure must not end the run
            traceback.print_exc()
            self._fail(f"{rid}: raised")
            return None
        if self.timed:
            self.lat[kind].append(dt)
        problems = check(result)
        if problems:
            self._fail(f"{rid}: {problems[0]}")
        return result

    def _fail(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)
        print(f"[perfbench] FAILED {msg}", file=sys.stderr, flush=True)

    def search(self, films_fn, q, k):
        """One /api/search vector request: build the plan, collect it."""
        from movievectorsearch_spark.operators import search

        with self.tracer.span("search.build"):
            df = search.vector_search(films_fn(), q, k)
        with self.tracer.span("search.exec"):
            rows = df.collect()
        return [r.asDict() for r in rows]

    def timed_search(self, films_fn, q, k, check=None):
        """A search request checked against NumPy exact top-k (or by
        ``check``). Traced runs then write the same search, and the same
        filtered input with the columns the search reads, to a noop sink:
        the difference of the two is vector.score_ms."""
        res = self.request("search", lambda: self.search(films_fn, q, k),
                           check or (lambda r: self.rows.check_search(r, q, k)))
        if res is not None and self.timed:
            self.rows_returned += len(res)
        if self.trace and self.timed:
            from movievectorsearch_spark.operators import search

            self.tracer.tag("prefix")
            films = films_fn()
            filtered = search.base_filter(films).select(*SEARCH_COLUMNS)
            ranked = search.vector_search(films, q, k)
            with self.tracer.span("prefix.filtered"):
                noop(filtered)
            with self.tracer.span("prefix.scored_ranked"):
                noop(ranked)
        return res

    def closed_loop(self, step) -> None:
        """The timed phase: call ``step(i)`` for i = 0, 1, ... until
        ``--seconds`` have passed; ``step`` returns False to stop early."""
        self.timed = True
        self.tracer.tag("loop")
        self.loop_start = t0 = time.perf_counter()
        i = 0
        while time.perf_counter() - t0 < self.seconds:
            if step(i) is False:
                break
            i += 1
        self.timed = False

    # -- results -----------------------------------------------------------

    def requests_per_s(self, kinds) -> float:
        """Closed-loop throughput: requests completed per second the
        client spent waiting on them."""
        return sum(len(self.lat[k]) for k in kinds) / sum(sum(self.lat[k]) for k in kinds)

    def p50_ms(self, kind: str) -> float:
        return checks.percentile(_ms(self.lat[kind]), 50)

    def report_latency(self, kind: str, name: str) -> None:
        """Median, the highest percentile with ten samples beyond it, and
        the sample count, into the workload figures."""
        ms = _ms(self.lat[kind])
        if not ms:
            return
        self.info[f"{name}_p50_ms"] = checks.percentile(ms, 50)
        self.info[f"{name}_samples"] = len(ms)
        q = checks.highest_reportable(len(ms))
        if q is not None:
            self.info[f"{name}_p{q:g}_ms"] = checks.percentile(ms, q)

    def traced_layers(self) -> dict[str, dict[str, float]]:
        """Per-layer figures common to every workload (traced runs);
        returns Spark's counters per job group for the workload's own."""
        build, exe, filtered, ranked = (
            _ms(self.tracer.durations(name, self.loop_start))
            for name in ("search.build", "search.exec", "prefix.filtered", "prefix.scored_ranked"))
        self.layer["search.build_ms"] = checks.percentile(build, 50)
        self.layer["search.exec_ms"] = checks.percentile(exe, 50)
        self.layer["vector.score_ms"] = checks.percentile(ranked, 50) - checks.percentile(filtered, 50)
        status = SparkStatus(self.spark.sparkContext)
        status.settle()
        groups = status.by_group()
        timed = {g: v for g, v in groups.items() if g.startswith("t")}
        searches = [v for g, v in timed.items() if g.endswith(":search")]
        self.layer["search.jobs_per_request"] = float(np.median([v["jobs"] for v in searches]))
        self.layer["search.tasks_per_request"] = float(np.median([v["tasks"] for v in searches]))
        self.layer["search.rows_scanned_per_result"] = (
            sum(v["input_rows"] for v in searches) / max(self.rows_returned, 1))
        ops = max(len(timed), 1)
        for key in ("jobs", "stages", "tasks", "shuffle_bytes", "executor_run_ms", "gc_ms"):
            self.layer[f"spark.{key}_per_op"] = sum(v[key] for v in timed.values()) / ops
        self.layer["trace.search_p50_ms"] = self.p50_ms("search")
        return groups


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

def serve(run: Run) -> dict[str, float]:
    from pyspark.sql import functions as F

    from movievectorsearch_spark import catalog
    from movievectorsearch_spark.operators import search, subtopics
    from movievectorsearch_spark.sources import ann_index

    sf = run.data / "sf"
    sf.mkdir(parents=True)
    pq.write_table(gen.documents(run.seed), sf / "documents.parquet")
    pq.write_table(gen.embeddings(run.seed), sf / "embeddings.parquet")
    run.start_session()
    spark = run.spark
    t0 = time.perf_counter()
    with run.tracer.span("catalog.load_table"):
        catalog.load_table(spark, str(sf), "documents")
        catalog.load_table(spark, str(sf), "embeddings")
    t1 = time.perf_counter()
    with run.tracer.span("catalog.films_view"):
        films = catalog.films_view(spark, str(sf))
    t2 = time.perf_counter()
    run.layer["catalog.load_table_ms"] = (t1 - t0) * 1000
    run.layer["catalog.films_view_ms"] = (t2 - t1) * 1000
    index = run.data / "srp_index"
    with run.tracer.span("ann_index.build"):
        ann_index.write_srp_index(search.base_filter(films), str(index), gen.DIM,
                                  n_planes=ANN_PLANES)
    run.layer["ann_index.build_s"] = time.perf_counter() - t2

    run.rows = rows = Rows(pa.Table.from_pandas(
        films.select("id", "processing_status",
                     F.col("embedding").cast("array<double>").alias("embedding"))
        .toPandas()))
    valid_ids = [i for i, ok in zip(rows.ids, rows.valid) if ok]
    planes = checks.srp_planes(ANN_PLANES, gen.DIM)
    searchable = rows.valid & rows.has_vec
    s_ids = [i for i, ok in zip(rows.ids, searchable) if ok]
    s_vecs = rows.vecs[searchable]
    s_buckets = checks.srp_buckets(s_vecs, planes)

    n = 4000
    queries = gen.zipf_queries(run.seed, n)
    last: list[dict] = []                   # rows of the latest search
    last_q: list[np.ndarray] = []           # its query vector
    issued: list[int] = []                  # query pool entries searched
    recalls: list[float] = []

    def do_search(i):
        q = queries.vectors[i]
        res = run.timed_search(lambda: films, q, SEARCH_LIMIT)
        if res is not None:
            last[:], last_q[:] = res, [q]
            if run.timed:
                issued.append(queries.pool_index[i])

    def do_browse(i):
        skip = SEARCH_LIMIT * (i // len(SERVE_CYCLE) % BROWSE_PAGES)
        run.request(
            "browse",
            lambda: [r.id for r in search.browse(films, SEARCH_LIMIT, skip=skip).collect()],
            lambda ids: checks.check_browse(ids, valid_ids, skip, SEARCH_LIMIT))

    def do_subtopics(i):
        """analyze-subtopics over the rows the client got from its last search."""
        movies = [(r["title"], r["genres"]) for r in last]

        def call():
            df = spark.createDataFrame(movies, "title string, genres array<string>")
            return [tuple(r) for r in subtopics.genre_groups(df).collect()]

        run.request("subtopics", call, lambda got: checks.check_subtopics(got, movies))

    def check_ann(got, q):
        """ANN rows are the exact top-k of the probed buckets' rows."""
        scores = checks.cosine(q, s_vecs)
        probed = np.isin(s_buckets, list(checks.probe_set(q, planes)))
        cand_ids = [i for i, ok in zip(s_ids, probed) if ok]
        got_ids = [r["id"] for r in got]
        if run.timed:
            recalls.append(checks.recall(got_ids, checks.expected_topk(s_ids, scores, ANN_K)[0]))
        return checks.check_topk(got_ids, [r["score"] for r in got], cand_ids, scores[probed], ANN_K)

    def do_ann(i):
        """The last search's query again, answered through the SRP index."""
        q = last_q[0]

        def call():
            with run.tracer.span("ann.build"):
                df = ann_index.srp_search_indexed(spark, str(index), q, k=ANN_K,
                                                  n_planes=ANN_PLANES, id_col="id")
            with run.tracer.span("ann.exec"):
                return [r.asDict() for r in df.collect()]

        run.request("ann", call, lambda got: check_ann(got, q))

    ops = (do_search, do_browse, do_subtopics, do_ann)

    def step(i):
        ops[SERVE_CYCLE[i % len(SERVE_CYCLE)]](i)

    # one untimed cycle pays each request kind's cold start (the first
    # search takes about 2 s, the first subtopics about 5 s); it draws its
    # queries from the second half of the stream
    for i in range(n // 2, n // 2 + WARMUP_CYCLES * len(SERVE_CYCLE)):
        step(i)
    setup_done = time.perf_counter()
    run.closed_loop(step)
    run.info["query_repeat_share"] = gen.repeat_share(issued)
    for kind in ("search", "browse", "subtopics", "ann"):
        run.report_latency(kind, kind)
    run.info["ann_recall_at_20"] = float(np.mean(recalls))
    if run.trace:
        groups = run.traced_layers()

        def per_request(kind, key):
            return float(np.median([v[key] for g, v in groups.items()
                                    if g.startswith("t") and g.endswith(f":{kind}")]))

        run.layer["subtopics.ms"] = run.p50_ms("subtopics")
        run.layer["subtopics.jobs_per_call"] = per_request("subtopics", "jobs")
        for name in ("ann.build", "ann.exec"):
            run.layer[f"{name}_ms"] = checks.percentile(
                _ms(run.tracer.durations(name, run.loop_start)), 50)
        # every srp_search_indexed call re-reads the index path, and
        # partition discovery lists every file under it
        run.layer["ann.files_listed_per_query"] = float(len(_dir_files(index)))
        run.layer["ann.rows_read_per_query"] = per_request("ann", "input_rows")
        run.layer["ann.candidates_per_result"] = run.layer["ann.rows_read_per_query"] / ANN_K
    return {"setup_done": setup_done, "search_p50_ms": run.p50_ms("search"),
            "throughput_per_s": run.requests_per_s(SERVE_COUNTED)}


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def _corpus_table(movies: list[gen.Movie]) -> pa.Table:
    """Seed corpus rows in the shape the ingest pipeline writes, plus the
    films columns the search projection reads (NULL on ingested rows)."""
    n = len(movies)
    vecs = [checks.hash_embed(m.embed_text()).tolist() for m in movies]
    return pa.table({
        "id": [f"{m.title.lower().replace(' ', '_')}_{m.year}" for m in movies],
        "title": [m.title for m in movies],
        "year": pa.array([m.year for m in movies], pa.int32()),
        "director": [m.director for m in movies],
        "directors": pa.nulls(n, pa.list_(pa.string())),
        "cast": [list(m.cast) for m in movies],
        "genres": [list(m.genres) for m in movies],
        "plot": [m.plot for m in movies],
        "description": [m.plot for m in movies],
        "enrichment_response": pa.nulls(n, pa.string()),
        "analysis": pa.nulls(n, pa.string()),
        "structured_enrichment": [
            {"themes": list(m.genres[:3]), "significance": f"significant: {m.title}"}
            for m in movies],
        "embedding": pa.array(vecs, pa.list_(pa.float64())),
        "poster_url": pa.nulls(n, pa.string()),
        "source": ["streamlined_generated"] * n,
        "processing_status": ["enriched"] * n,
        "ai_provider": ["openai"] * n,
        "created_at": pa.array([0] * n, pa.timestamp("us", tz="UTC")),
    })


def _pairs_in_band(years_new: list[int], years_old: list[int]) -> tuple[int, int]:
    """(all pairs, new×old pairs) the year-band-blocked fuzzy self-join
    compares: every unordered pair of rows at most one year apart."""
    lo = min(years_new + years_old) - 1
    hi = max(years_new + years_old) + 2
    n = np.bincount(np.array(years_new) - lo, minlength=hi - lo)
    o = np.bincount(np.array(years_old) - lo, minlength=hi - lo)
    c = n + o
    total = int((c * (c - 1) // 2).sum() + (c[:-1] * c[1:]).sum())
    useful = int((n * o).sum() + (n[:-1] * o[1:]).sum() + (o[:-1] * n[1:]).sum())
    return total, useful


def ingest(run: Run) -> dict[str, float]:
    from pyspark.sql import functions as F

    from movievectorsearch_spark.operators.upsert import upsert_latest_wins
    from movievectorsearch_spark.pipeline import ingest as pipeline
    from movievectorsearch_spark.pipeline.featurizer import hash_embed_arrow
    from movievectorsearch_spark.streaming.sink_upsert import atomic_swap

    run.data.mkdir(parents=True)
    plan = gen.ingest_plan(run.seed, n_batches=60, batch_rows=BATCH_ROWS)
    corpus = run.data / "corpus"
    corpus.mkdir()
    pq.write_table(_corpus_table(plan.corpus), corpus / "part-seed.parquet")
    keys = {m.key for m in plan.corpus}
    years = [m.year for m in plan.corpus]
    run.start_session()
    spark = run.spark
    queries = iter(gen.distinct_queries(run.seed, 4000, part="ingest_queries").vectors)
    stats: dict[str, list[float]] = defaultdict(list)

    def read_corpus():
        return spark.read.parquet(str(corpus))

    def check_keys(_) -> list[str]:
        """The corpus holds exactly the planted-outcome keys; its rows
        become what the following searches are checked against."""
        t = pq.read_table(corpus, columns=["id", "title", "year", "processing_status", "embedding"])
        run.rows = Rows(t)
        got = {(str(a).strip().lower(), int(b))
               for a, b in zip(t.column("title").to_pylist(), t.column("year").to_pylist())}
        return checks.check_keyset(got, keys)

    def traced_prefixes(batch, texts):
        """Traced runs only: time each prefix of the pipeline on its own
        (parse; parse+dedup; full ingest_batch) and the featurizer alone."""
        run.tracer.tag("prefix")
        raw = spark.createDataFrame([(t,) for t in texts], "raw_text string")
        existing = read_corpus()
        with run.tracer.span("ingest.parse"):
            p = noop(pipeline.parse_movie_text(raw))
        with run.tracer.span("ingest.parse_dedup"):
            d = noop(pipeline.dedup_against(pipeline.parse_movie_text(raw), existing))
        with run.tracer.span("ingest.full"):
            f = noop(pipeline.ingest_batch(raw, existing))
        with run.tracer.span("featurizer"):
            e = noop(raw.select(hash_embed_arrow(F.col("raw_text"))))
        stats["parse"].append(p)
        stats["dedup"].append(d - p)
        stats["embed"].append(f - d)
        stats["full"].append(f)
        stats["featurizer_rps"].append(len(texts) / e)
        survivors = [m.year for m, k in zip(batch.movies, batch.kinds) if k != gen.EXACT]
        total, useful = _pairs_in_band(survivors, years)
        stats["pairs"].append(total)
        stats["useful"].append(useful / total)

    def do_batch(batch: gen.IngestBatch) -> None:
        texts = batch.texts
        if run.trace and run.timed:
            traced_prefixes(batch, texts)

        def call():
            raw = spark.createDataFrame([(t,) for t in texts], "raw_text string")
            existing = read_corpus()
            atomic_swap(upsert_latest_wins(existing, pipeline.ingest_batch(raw, existing)),
                        str(corpus))
            return True

        keys.update(m.key for m in batch.fresh)
        ok = run.request("ingest", call, check_keys) is not None
        years.extend(m.year for m in batch.fresh)
        # read-after-write: the first search looks for a row of this batch
        probe = batch.fresh[0]
        probe_id = f"{probe.title.lower().replace(' ', '_')}_{probe.year}"
        q = checks.hash_embed(probe.embed_text())

        def check_probe(res):
            problems = run.rows.check_search(res, q, SEARCH_LIMIT)
            if not problems and (res[0]["id"] != probe_id
                                 or abs(res[0]["similarity"] - 1.0) > checks.TIE_TOL):
                problems = [f"fresh row {probe_id} is not the top hit for its own embedding"]
            return problems

        found = run.timed_search(read_corpus, q, SEARCH_LIMIT, check_probe) is not None
        if run.timed and ok and found:
            # engine time from batch admission until its row came back
            run.lat["visible"].append(run.lat["ingest"][-1] + run.lat["search"][-1])
        for _ in range(SEARCHES_AFTER_BATCH - 1):
            run.timed_search(read_corpus, next(queries), SEARCH_LIMIT)
        if run.timed:
            files = _dir_files(corpus)
            size = sum(p.stat().st_size for p in files)
            stats["rows"].append(len(texts))
            stats["files"].append(len(files))
            stats["bytes_per_movie"].append(size / len(run.rows.ids))
            stats["write_ratio"].append(size / sum(len(t.encode()) for t in texts))

    batches = iter(plan.batches)
    for _ in range(WARMUP_BATCHES):         # untimed but checked
        do_batch(next(batches))
    setup_done = time.perf_counter()
    run.closed_loop(lambda i: do_batch(b) if (b := next(batches, None)) else False)
    run.info.update(plan.shares(len(stats["rows"]) + WARMUP_BATCHES))
    run.report_latency("search", "search")
    rps = sum(stats["rows"]) / sum(run.lat["ingest"])
    run.info["ingest_rows_per_s"] = rps
    run.info["ingest_visible_p50_s"] = checks.percentile(run.lat["visible"], 50)
    run.info["ingest_visible_samples"] = len(run.lat["visible"])
    run.info["stored_bytes_per_movie"] = stats["bytes_per_movie"][-1]
    if run.trace:
        run.traced_layers()
        for name in ("parse", "dedup", "embed"):
            run.layer[f"ingest.{name}_ms"] = float(np.median(stats[name])) * 1000
        run.layer["dedup.candidate_pairs"] = float(np.median(stats["pairs"]))
        run.layer["dedup.useful_pair_ratio"] = float(np.median(stats["useful"]))
        run.layer["featurizer.rows_per_s"] = float(np.median(stats["featurizer_rps"]))
        # the swap re-runs the whole plan; upsert + write + swap is what it adds
        swap = float(np.median(run.lat["ingest"])) - float(np.median(stats["full"]))
        run.layer["upsert.ms"] = swap * 1000
        run.layer["upsert.bytes_written_per_ingested_byte"] = float(np.median(stats["write_ratio"]))
        run.layer["upsert.files_written"] = float(np.median(stats["files"]))
    return {"setup_done": setup_done, "search_p50_ms": run.p50_ms("search"),
            "throughput_per_s": rps}


WORKLOADS = {"serve": serve, "ingest": ingest}
