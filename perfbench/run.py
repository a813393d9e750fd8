"""yaii-spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload query|mutate --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout; the engine is imported from there and
every file the run writes stays under ``.bench_run/`` in it. One client
runs a closed loop on ``local[<cores>]``. Every output is checked
against ``oracle.py``. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1``. The
line before it carries the run's context (host controls, versions,
round counts, raw samples). See README.md for the workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import host  # noqa: E402
import oracle  # noqa: E402
import spans as tr  # noqa: E402

import numpy as np  # noqa: E402

K = 10
DRIVER_HEAP = "1g"
READS = ("bool", "phrase", "bm25", "batch")
SINGLE = READS[:3]  # one query per call
T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr, with seconds since the process started."""
    print(f"perfbench {time.perf_counter() - T0:7.1f}s {msg}", file=sys.stderr, flush=True)


class Failed(Exception):
    """An engine output disagreed with the oracle."""


# ---------------------------------------------------------------------------
# run state

class Run:
    def __init__(self, args):
        self.args = args
        self.dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.errors: list[str] = []
        self.lat: dict[str, list[float]] = {}   # family -> latencies
        self.plan: dict[str, list[float]] = {}  # family -> time to DataFrame
        self.batch_qps: list[float] = []
        self.counting = True
        self.label = None  # "mutated" / "merged": reads of such an index
        self.tracer = tr.Tracer()
        self.spark = None

    def path(self, *p) -> str:
        return os.path.join(self.dir, *p)

    def op(self, name: str, family: str, fn, check):
        """Call the engine, time it, check its output. `fn` returns
        (plan_seconds, result); `check(result)` raises Failed on a wrong
        output. Engine errors count as failed operations."""
        if self.counting:
            self.attempted += 1
        if self.label and family in READS:
            family = f"{self.label}.{family}"
        t0 = time.perf_counter()
        try:
            with self.tracer.span(family):
                plan_s, res = fn()
            dt = time.perf_counter() - t0
            check(res)
        except Failed as e:
            self._fail(name, str(e))
            return None
        except Exception as e:  # engine error: count it, keep running
            cause = getattr(e, "java_exception", None) or e  # a Py4JJavaError's JVM side
            self._fail(name, f"{type(e).__name__}: {str(cause).splitlines()[0][:300]}")
            return None
        self.lat.setdefault(family, []).append(dt)
        self.plan.setdefault(family, []).append(plan_s)
        return dt

    def _fail(self, name: str, why: str) -> None:
        if self.counting:
            self.failed += 1
        if not name.startswith("stale"):
            self.correct = False
        self.errors.append(f"{name}: {why}")


def collect(build_df):
    """(seconds until the API returned a DataFrame, collected rows)."""
    t0 = time.perf_counter()
    df = build_df()
    t1 = time.perf_counter()
    return t1 - t0, df.collect()


# ---------------------------------------------------------------------------
# Spark session

def start_spark(run: Run, traced: bool):
    from yaii_spark import get_spark

    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": run.path("spark-local"),
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={run.path('tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(run.path("eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": run.path("eventlog"),
            # zstd is the default codec and needs a module this host lacks
            "spark.eventLog.compress": "false",
        })
    else:
        conf["spark.eventLog.enabled"] = "false"
    spark = get_spark(f"perfbench-{run.args.workload}", master=f"local[{run.cores}]",
                      shuffle_partitions=run.cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark
    run.tracer.sc = spark.sparkContext if traced else None
    return spark


# ---------------------------------------------------------------------------
# inputs

class Inputs:
    """Pages, their oracle, and the seeded query-term pools."""

    def __init__(self, run: Run, name: str, n_base: int, seg_size: int, n_batch: int):
        self.seg_size = seg_size
        self.base_dir = run.path(f"{name}_pages")
        self.batch_dir = run.path(f"{name}_batch")
        self.g = gen.PageGenerator(run.args.seed)
        self.base = self.g.pages(0, n_base)
        self.batch = self.g.pages(n_base, n_batch, sentinel=True) if n_batch else None
        gen.write_pages(self.base, self.base_dir, max(1, run.cores))
        if self.batch is not None:
            gen.write_pages(self.batch, self.batch_dir, 1)
        self.corpus = oracle.Corpus()
        self.corpus.add(self.base.column("doc_id").to_numpy(), self.base.column("text").to_pylist())
        self.stored = {
            "n_chars": dict(zip(self.base.column("doc_id").to_pylist(), self.base.column("n_chars").to_pylist())),
            "url": dict(zip(self.base.column("doc_id").to_pylist(), self.base.column("url").to_pylist())),
        }
        if self.batch is not None:
            for c in ("n_chars", "url"):
                self.stored[c].update(zip(self.batch.column("doc_id").to_pylist(),
                                          self.batch.column(c).to_pylist()))
        self.rng = np.random.default_rng(run.args.seed + 7919)
        self.set_pools(self.corpus)

    def set_pools(self, corpus: oracle.Corpus) -> None:
        """Head, torso and tail term pools by document frequency."""
        n = corpus.n_docs
        dfs = [(t, d) for t, d in corpus.doc_freqs().items() if t.isalpha()]
        dfs.sort(key=lambda x: (-x[1], x[0]))
        self.head = [t for t, _ in dfs[:12]]
        self.torso = [t for t, d in dfs if 0.02 * n <= d <= 0.2 * n]
        self.tail = [t for t, d in dfs if 2 <= d <= max(3, 0.002 * n)]
        for pool in (self.torso, self.tail):
            self.rng.shuffle(pool)

    def pick(self, pool: list[str], fresh: bool) -> str:
        """A term from `pool`: a new one each call when fresh (first seen
        by the engine's term-dictionary memo), else one of the first few."""
        if fresh:
            return pool.pop()
        return pool[int(self.rng.integers(0, min(4, len(pool))))]

    def adjacent(self, table, n: int) -> list[str]:
        """n adjacent alphabetic tokens from a random page of `table`."""
        texts = table.column("text")
        while True:
            toks = oracle.tokenize(texts[int(self.rng.integers(0, table.num_rows))].as_py())
            if len(toks) > n + 2:
                i = int(self.rng.integers(0, len(toks) - n))
                span = toks[i:i + n]
                if all(t.isalpha() for t in span):
                    return span


def index_bytes(path: str) -> dict[str, float]:
    out = {"files": 0.0, "total": 0.0}
    for table in ("postings", "docs", "seg_meta", "term_stats"):
        out[table] = 0.0
    for dp, _, fs in os.walk(path):
        rel = os.path.relpath(dp, path).split(os.sep)[0]
        for f in fs:
            if f.endswith(".crc") or f.startswith("_"):
                continue
            sz = os.path.getsize(os.path.join(dp, f))
            out["files"] += 1
            out["total"] += sz
            if rel in out and rel not in ("files", "total"):
                out[rel] += sz
    return out


# ---------------------------------------------------------------------------
# query operations (each checked against the oracle)

def to_ast(q):
    from yaii_spark import ast as A

    kind = q[0]
    if kind == "tok":
        return A.token(q[1])
    if kind == "and":
        return A.and_(*[to_ast(c) for c in q[1]])
    if kind == "or":
        return A.or_(*[to_ast(c) for c in q[1]])
    if kind == "not":
        return A.not_(to_ast(q[1]))
    if kind == "prefix":
        return A.prefix(q[1])
    if kind == "phrase":
        return A.phrase(list(q[1]), slop=q[2])
    raise ValueError(kind)


def run_boolean(run: Run, cat, corpus: oracle.Corpus, q):
    from yaii_spark import execute_boolean

    want = corpus.match(q).tolist()

    def check(res):
        got = [r.doc_id for r in res]
        if len(got) != len(set(got)) or sorted(got) != want:
            raise Failed(f"{q!r}: {len(got)} docs, expected {len(want)}")

    fam = "phrase" if q[0] == "phrase" else "bool"
    return run.op(f"boolean {q!r}", fam, lambda: collect(lambda: execute_boolean(cat, to_ast(q))), check)


def run_search(run: Run, cat, inp: Inputs, corpus: oracle.Corpus, q):
    from yaii_spark import search

    hits = corpus.match(q).tolist()
    want = sorted(hits, key=lambda d: (-inp.stored["n_chars"][d], d))[:K]

    def check(rows):
        got = [r.doc_id for r in rows]
        if got != want:
            raise Failed(f"search {q!r}: {got[:3]}..., expected {want[:3]}...")
        for r in rows:
            if r.url != inp.stored["url"][r.doc_id] or r.n_chars != inp.stored["n_chars"][r.doc_id]:
                raise Failed(f"search {q!r}: wrong stored fields for doc {r.doc_id}")

    return run.op(f"search {q!r}", "bool", lambda: collect(lambda: search(
        cat, to_ast(q), sort=[("n_chars", "desc")], limit=K, projection=["url", "n_chars"])), check)


def run_bm25(run: Run, cat, corpus: oracle.Corpus, terms, mode="or", prune=False):
    from yaii_spark import bm25_topk

    scores = corpus.bm25(terms, mode)

    def check(res):
        got = sorted(((r.doc_id, r.score) for r in res), key=lambda x: (-x[1], x[0]))
        why = oracle.check_topk(got, scores, K)
        if why:
            raise Failed(f"bm25 {terms} {mode} prune={prune}: {why}")

    return run.op(f"bm25 {terms} {mode} prune={prune}", "bm25",
                  lambda: collect(lambda: bm25_topk(cat, terms, k=K, mode=mode, prune=prune)), check)


def run_batch(run: Run, cat, corpus: oracle.Corpus, queries: dict[str, list[str]]):
    from yaii_spark import bm25_topk_batch

    want = {q: corpus.bm25(ts) for q, ts in queries.items()}

    def check(res):
        per: dict[str, list] = {q: [] for q in queries}
        for r in res:
            per.setdefault(r.query_id, []).append((r.doc_id, r.score))
        for q, got in per.items():
            if q not in want:
                raise Failed(f"batch: unknown query id {q!r}")
            why = oracle.check_topk(sorted(got, key=lambda x: (-x[1], x[0])), want[q], K)
            if why:
                raise Failed(f"batch query {q} {queries[q]}: {why}")

    dt = run.op(f"batch of {len(queries)}", "batch",
                lambda: collect(lambda: bm25_topk_batch(cat, queries, k=K)), check)
    if dt is not None:
        run.batch_qps.append(len(queries) / dt)
    return dt


# ---------------------------------------------------------------------------
# the query mix: one pass = 9 single queries + one 16-query batch. Most
# terms are new to the engine's term-dictionary memo ("fresh"); head
# terms repeat in every pass.

def query_pass(run: Run, cat, inp: Inputs) -> None:
    c, p, h, to, ta = inp.corpus, inp.pick, inp.head, inp.torso, inp.tail
    run_boolean(run, cat, c, ("tok", p(ta, True)))
    run_boolean(run, cat, c, ("or", [("tok", h[1]), ("prefix", p(to, True)[:3])]))
    run_boolean(run, cat, c, ("and", [("tok", p(to, True)), ("not", ("tok", h[0]))]))
    run_search(run, cat, inp, c, ("and", [("tok", h[2]), ("tok", p(to, True))]))
    run_boolean(run, cat, c, ("phrase", tuple(inp.adjacent(inp.base, 2)), 0))
    run_boolean(run, cat, c, ("phrase", (h[0], p(to, False)), 2))
    run_bm25(run, cat, c, [h[3], p(to, True), p(ta, True)])
    run_bm25(run, cat, c, [p(to, True), p(ta, True), p(ta, True)], prune=True)
    run_bm25(run, cat, c, [p(to, True), p(to, True)], mode="and")
    run_batch(run, cat, c, {f"q{i}": [p(to, True), p(ta, True)] + ([h[i % 6]] if i % 2 else [])
                            for i in range(16)})


def probe_set(run: Run, cat, inp: Inputs, corpus: oracle.Corpus, terms: dict,
              full: bool = True) -> None:
    """The mutate workload's reads: the same queries every round. The
    traced lifecycle runs one read of each family (`full=False`)."""
    run_boolean(run, cat, corpus, ("tok", terms["head"]))
    if full:
        run_boolean(run, cat, corpus, ("and", [("tok", terms["torso"]), ("not", ("tok", terms["head"]))]))
    run_boolean(run, cat, corpus, ("phrase", terms["phrase"], 0))
    run_bm25(run, cat, corpus, terms["bm25"])
    if full:
        run_bm25(run, cat, corpus, terms["bm25"][1:], mode="and")
    run_batch(run, cat, corpus, terms["batch"])


# ---------------------------------------------------------------------------
# builds and mutations

def build(run: Run, inp: Inputs, out: str, span: str = "build") -> float:
    """Fresh build_index of inp's base pages; returns docs per second."""
    from yaii_spark import IndexCatalog, build_index

    if os.path.exists(out):
        shutil.rmtree(out)
    pages = run.spark.read.parquet(inp.base_dir)
    t0 = time.perf_counter()
    with run.tracer.span(span):
        m = build_index(run.spark, pages, out, seg_size=inp.seg_size,
                        stored_cols=["url", "n_chars"], resume=False)
    dt = time.perf_counter() - t0
    if run.counting:
        run.attempted += 1
    cs = IndexCatalog(run.spark, out).corpus_stats()
    want_n, want_avg = inp.corpus.n_docs, inp.corpus.avgdl
    if cs.n_docs != want_n or abs(cs.avgdl - want_avg) > 1e-9 * want_avg or m["segments_built"] < 1:
        run._fail("build", f"corpus_stats n_docs={cs.n_docs} avgdl={cs.avgdl}, expected {want_n} {want_avg}")
    return inp.base.num_rows / dt


class Mutation:
    """Rounds of reads -> append -> delete -> reads -> stale-catalog probe,
    each on a fresh copy of the small base index; `merge` then merges the
    last round's index and repeats its reads on the result."""

    def __init__(self, run: Run, inp: Inputs, base_dir: str):
        self.run, self.inp, self.base_dir = run, inp, base_dir
        n_base = inp.base.num_rows
        rng = inp.rng
        self.deletes = sorted(set(rng.choice(n_base, 3, replace=False).tolist())
                              | {n_base + 1 + int(rng.integers(0, inp.batch.num_rows - 1))})
        self.before = inp.corpus
        self.after = inp.corpus.copy()
        self.after.add(inp.batch.column("doc_id").to_numpy(), inp.batch.column("text").to_pylist())
        self.after.delete(self.deletes)
        self.sentinel = n_base
        inp.set_pools(self.after)
        self.terms = {
            "head": inp.head[0],
            "torso": inp.pick(inp.torso, False),
            "phrase": tuple(inp.adjacent(inp.batch, 2)),
            "bm25": [inp.head[1], inp.pick(inp.torso, False), inp.pick(inp.tail, False)],
            "batch": {f"m{i}": [inp.pick(inp.torso, True), inp.pick(inp.tail, True)] for i in range(4)},
        }
        self.rounds = 0

    def round(self, full: bool = True) -> None:
        """One round; `full=False` (the traced lifecycle) skips the reads
        before the append, the stale-catalog probe and half the probes."""
        from yaii_spark import IndexCatalog, build_index, delete_docs, execute_boolean
        from yaii_spark import ast as A

        run, inp = self.run, self.inp
        d = run.path(f"{os.path.basename(self.base_dir)}-mut{self.rounds}")
        self.rounds += 1
        shutil.copytree(self.base_dir, d)
        self.last = d
        if full:
            # two reads before the append; their catalog is the stale one.
            # Catalogs are prewarmed so that no read carries the listing.
            stale = IndexCatalog(run.spark, d).prewarm()
            run_boolean(run, stale, self.before, ("tok", self.terms["head"]))
            run_bm25(run, stale, self.before, self.terms["bm25"])
        batch = run.spark.read.parquet(inp.batch_dir)

        def append():
            build_index(run.spark, batch, d, seg_size=inp.seg_size,
                        stored_cols=["url", "n_chars"], append=True)
            return 0.0, IndexCatalog(run.spark, d).corpus_stats()

        def check_append(cs):
            if cs.n_docs != self.after.n_docs:
                raise Failed(f"append: n_docs {cs.n_docs}, expected {self.after.n_docs}")

        run.op("append", "append", append, check_append)

        def delete():
            n = delete_docs(run.spark, d, self.deletes)
            return 0.0, n

        def check_delete(n):
            if n != len(self.deletes):
                raise Failed(f"delete: {n} tombstones, expected {len(self.deletes)}")

        run.op("delete", "delete", delete, check_delete)
        run.label = "mutated"
        # reopened after the mutations, as IndexCatalog requires
        probe_set(run, IndexCatalog(run.spark, d).prewarm(), inp, self.after, self.terms, full)
        run.label = None
        if not full:
            return

        def stale_probe():
            return collect(lambda: execute_boolean(stale, A.token(gen.SENTINEL_TERM)))

        def check_stale(res):
            got = [r.doc_id for r in res]
            if got != [self.sentinel]:
                raise Failed(f"catalog opened before the append returned {got}, expected [{self.sentinel}]")

        run.op("stale-catalog probe", "stale", stale_probe, check_stale)

    def merge(self) -> None:
        """Merge the last round's index by 4 (fewer segments than cores)
        and run one read of each family on the result."""
        from yaii_spark import IndexCatalog, merge_segments

        run, d = self.run, self.last
        out = d + "_merged"

        def do_merge():
            merge_segments(run.spark, d, out, 4)
            return 0.0, IndexCatalog(run.spark, out).corpus_stats()

        def check_merge(cs):
            if cs.n_docs != self.after.n_docs:
                raise Failed(f"merge: n_docs {cs.n_docs}, expected {self.after.n_docs}")

        run.op("merge", "merge", do_merge, check_merge)
        run.label = "merged"
        probe_set(run, IndexCatalog(run.spark, out).prewarm(), self.inp, self.after, self.terms, full=False)
        run.label = None


# ---------------------------------------------------------------------------
# workloads

QUERY_SEG = 256
MUTATE_SEG = 32


def small_inputs(run: Run) -> Inputs:
    """The mutate workload's pages: 4 segments of MUTATE_SEG pages plus
    one appended segment; merging by 4 leaves 2 segments."""
    return Inputs(run, "small", n_base=MUTATE_SEG * 4, seg_size=MUTATE_SEG, n_batch=MUTATE_SEG)


def setup(run: Run):
    """Session start (in a thread, beside the input generation), inputs,
    oracle and the base index; returns the Inputs and the base index dir."""
    from concurrent.futures import ThreadPoolExecutor

    t0 = time.perf_counter()

    def session():
        start_spark(run, traced=False)
        return time.perf_counter() - t0

    with ThreadPoolExecutor(1) as pool:
        started = pool.submit(session)
        run.host = {"alu_mops_per_s": host.alu_mops_per_s(), "memcpy_gb_per_s": host.memcpy_gb_per_s()}
        if run.args.workload == "query":
            inp = Inputs(run, "query", n_base=QUERY_SEG * max(4, run.cores), seg_size=QUERY_SEG, n_batch=0)
        else:
            inp = small_inputs(run)
        run.session_s = started.result()
    base = run.path("base")
    run.build_dps = run.setup_dps = build(run, inp, base)
    run.index_bytes = index_bytes(base)
    run.setup_s = time.perf_counter() - t0
    log(f"set up in {run.setup_s:.1f}s (session {run.session_s:.1f}s)")
    return inp, base


def loop(run: Run, inp: Inputs, base: str, mutation, seconds: float) -> int:
    """Whole rounds of the workload, as many as start within `seconds`
    (at least one)."""
    from yaii_spark import IndexCatalog

    cat = IndexCatalog(run.spark, base).prewarm() if mutation is None else None
    done = 0
    t_end = time.perf_counter() + seconds
    while done == 0 or time.perf_counter() < t_end:
        if mutation is None:
            query_pass(run, cat, inp)
        else:
            mutation.round()
        done += 1
    return done


def p50(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def singles(run: Run) -> list[float]:
    """Latencies of every single query (not batch) of the rounds."""
    return [x for f in SINGLE for x in run.lat.get(f, []) + run.lat.get(f"mutated.{f}", [])]


def end_to_end(run: Run, inp: Inputs) -> dict:
    """build_docs_per_s times the set-up's build on `query` (the first,
    cold build in a fresh JVM) and the rounds' appends on `mutate` (a
    warm build_index call): on 128 pages the cold build's figure is
    mostly the JVM warming up, and spreads too widely to gate."""
    if run.args.workload == "mutate":
        run.build_dps = inp.batch.num_rows / p50(run.lat.get("append", []))
    m = {
        "setup_s": (run.setup_s, "s"),
        "build_docs_per_s": (run.build_dps, "docs/s"),
        "index_bytes_per_doc": (run.index_bytes["total"] / run.n_docs, "B/doc"),
        "read_p50_s": (p50(singles(run)), "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


# ---------------------------------------------------------------------------
# per-layer figures (traced run)

def layer_probes(run: Run, inp: Inputs, base: str) -> dict[str, float]:
    """In-process timings of single layers, outside Spark jobs."""
    from yaii_spark import IndexCatalog
    from yaii_spark.analyzer import doc_postings
    from yaii_spark.codec import delta_decode_blocked, delta_encode_blocked

    out: dict[str, float] = {}
    texts = inp.base.column("text").to_pylist()[:200]
    t0 = time.perf_counter()
    for _ in range(3):
        for t in texts:
            doc_postings(t, 1, [(0, "standard"), (1, "all")])
    out["analyzer.doc_postings_docs_per_s"] = 3 * len(texts) / (time.perf_counter() - t0)
    lists = [np.asarray(inp.corpus.tf(t)[0], dtype=np.int64) for t in inp.head[:8]]
    enc = [delta_encode_blocked(ids, 128)[0] for ids in lists]
    nbytes = sum(len(b) for b in enc)
    t0 = time.perf_counter()
    for _ in range(20):
        for ids in lists:
            delta_encode_blocked(ids, 128)
    out["codec.encode_mb_per_s"] = 20 * nbytes / (time.perf_counter() - t0) / 1e6
    t0 = time.perf_counter()
    for _ in range(20):
        for b in enc:
            delta_decode_blocked(b, 128)
    out["codec.decode_mb_per_s"] = 20 * nbytes / (time.perf_counter() - t0) / 1e6
    cat = IndexCatalog(run.spark, base)
    t0 = time.perf_counter()
    cat.corpus_stats()
    out["storage.corpus_stats_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    cat.term_stats_for([("text", inp.head[0])])
    out["storage.term_stats_for_miss_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    cat.term_stats_for([("text", inp.head[0])])
    out["storage.term_stats_for_hit_s"] = time.perf_counter() - t0
    return out


BUILD_PHASES = {
    "tokenize_stats": "build:tokenize+stats",
    "postings_write": "build:postings-write",
    "docs_write": "build:docs-write",
    "seg_meta_write": "build:seg-meta-write",
    "term_stats": "build:term-stats",
    "lineage": "build:lineage",
}


def per_layer(run: Run, inp: Inputs, base: str, probes: dict, overhead: float) -> dict:
    spans = run.tracer.spans
    jobs = tr.read_event_log(run.path("eventlog"))
    own = tr.assign_jobs(spans, jobs)
    tot = {}
    for s in spans:
        tot[s["id"]] = tr.job_totals(s, tr.span_jobs(s, spans, own))
    def rows(name):  # noqa: E306
        return [tot[s["id"]] for s in spans if s["name"] == name]
    m: dict[str, float] = {"session.start_s": run.session_s}
    b = [s for s in spans if s["name"] == "build.traced"][-1]
    bjobs = tr.span_jobs(b, spans, own)
    for key, desc in BUILD_PHASES.items():
        ph = tr.phase_totals(bjobs, desc)
        m[f"build.{key}.wall_s"] = ph["wall_s"]
        m[f"build.{key}.executor_s"] = ph["executor_s"]
        if key == "tokenize_stats":
            m[f"build.{key}.python_s"] = ph["python_s"]
    m["build.shuffle_bytes"] = tot[b["id"]]["shuffle_bytes"]
    m["build.driver_s"] = tot[b["id"]]["driver_s"]
    m.update(probes)
    ib = index_bytes(run.path("traced_build"))
    for t in ("postings", "docs", "seg_meta", "term_stats"):
        m[f"storage.bytes.{t}"] = ib[t]
    m["storage.files"] = ib["files"]
    ap, de, mg = rows("append"), rows("delete"), rows("merge")
    for k in ("wall_s", "jobs", "executor_s", "driver_s"):
        m[f"append.{k}"] = tr.median_of(ap, k)
    for k in ("wall_s", "jobs"):
        m[f"delete.{k}"] = tr.median_of(de, k)
    for k in ("wall_s", "executor_s", "shuffle_bytes", "bytes_written"):
        m[f"merge.{k}"] = tr.median_of(mg, k)
    for f in READS:
        # a family's reads in the rounds: of the unmutated and mutated index
        r = rows(f) + rows(f"mutated.{f}")
        lat = run.lat.get(f, []) + run.lat.get(f"mutated.{f}", [])
        plan = run.plan.get(f, []) + run.plan.get(f"mutated.{f}", [])
        m[f"query.{f}.p50_s"] = p50(lat)
        m[f"query.{f}.plan_s"] = p50(plan)
        m[f"query.{f}.exec_s"] = p50([a - b for a, b in zip(lat, plan)])
        for k in ("jobs", "tasks", "executor_s", "python_s", "python_bytes_in", "python_bytes_out", "driver_s"):
            m[f"query.{f}.{k}"] = tr.median_of(r, k)
    mut = [x for f in READS for x in rows(f"mutated.{f}")]
    mer = [x for f in READS for x in rows(f"merged.{f}")]
    m["query.batch.queries_per_s"] = p50(run.batch_qps)
    m["query.read_p50_s"] = p50(singles(run))
    m["query.queries_per_s"] = len(singles(run)) / sum(singles(run))
    m["process.peak_rss_mb"] = run.rss.peak / 2**20
    m["query.mutated.p50_s"] = p50([x for f in SINGLE for x in run.lat.get(f"mutated.{f}", [])])
    for k in ("jobs", "tasks", "shuffle_bytes"):
        m[f"query.mutated.{k}"] = tr.median_of(mut, k)
    m["query.merged.p50_s"] = p50([x for f in SINGLE for x in run.lat.get(f"merged.{f}", [])])
    m["query.merged.tasks"] = tr.median_of(mer, "tasks")
    m["host.alu_mops_per_s"] = run.host["alu_mops_per_s"]
    m["host.memcpy_gb_per_s"] = run.host["memcpy_gb_per_s"]
    m["trace.overhead_ratio"] = overhead
    return {k: {"value": float(v), "unit": unit_of(k)} for k, v in m.items()}


UNITS = [("docs_per_s", "docs/s"), ("mb_per_s", "MB/s"), ("gb_per_s", "GB/s"),
         ("mops_per_s", "Mop/s"), ("queries_per_s", "1/s"),
         ("_mb", "MB"), ("_s", "s"), ("bytes", "B"), ("bytes_in", "B"), ("bytes_out", "B"),
         ("bytes_written", "B"), ("ratio", "ratio")]


def unit_of(name: str) -> str:
    """A per-layer metric's unit, from its name's suffix; counts otherwise."""
    if name.startswith("storage.bytes."):
        return "B"
    return next((u for suf, u in UNITS if name.endswith(suf)), "count")


# ---------------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["query", "mutate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "yaii_spark")):
        print(f"perfbench: no yaii_spark package under {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    run = Run(args)
    shutil.rmtree(run.dir, ignore_errors=True)
    os.makedirs(run.path("tmp"), exist_ok=True)
    os.makedirs(run.path("spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = run.path("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")
    # Spark's Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    sys.path.insert(0, ROOT)
    import pyarrow
    import pyspark

    try:
        with host.RssSampler() as run.rss:
            result = run_workload(run)
        if args.trace:
            metrics = result
        else:
            metrics = end_to_end(run, run.inp)
    finally:
        if run.spark is not None:
            run.spark.stop()
        stop_jvm()
        shutil.rmtree(run.dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_run"))
        except OSError:
            pass
    info = {
        "workload": args.workload, "seed": args.seed, "cores": run.cores,
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "driver_heap": DRIVER_HEAP, "host": run.host, "rounds": run.rounds,
        "setup_s": run.setup_s, "session_s": run.session_s, "setup_build_docs_per_s": run.setup_dps,
        "peak_rss_mb": run.rss.peak / 2**20,
        "samples": {f: [round(x, 4) for x in v] for f, v in run.lat.items()},
        "errors": run.errors[:10],
    }
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": run.correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def stop_jvm() -> None:
    """End the JVM that pyspark started, and with it the Python workers
    it forked, and wait for it: it exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None or getattr(gw, "proc", None) is None:
        return
    gw.proc.stdin.close()
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()


def reference_reads(run: Run, inp: Inputs, base: str) -> list[float]:
    """The same BM25 read three times on the base index, uncounted: a
    traced run times it before and after turning the event log on, to
    price the tracing."""
    from yaii_spark import IndexCatalog

    cat = IndexCatalog(run.spark, base).prewarm()
    n = len(run.errors)
    # the first of three is a warm-up: each session's first read is cold
    lat = [run_bm25(run, cat, inp.corpus, inp.head[:3]) for _ in range(3)][1:]
    if None in lat:
        raise RuntimeError(f"reference reads failed: {run.errors[n:]}")
    return lat


def run_workload(run: Run):
    args = run.args
    inp, base = setup(run)
    run.inp = inp
    run.n_docs = inp.base.num_rows
    if not args.trace:
        mutation = Mutation(run, inp, base) if args.workload == "mutate" else None
        run.rounds = loop(run, inp, base, mutation, seconds=args.seconds)
        log(f"{run.rounds} round(s) done")
        return None
    # Traced run. Reference reads price the tracing: now, and after a
    # restart with the event log on. Then the
    # workload's rounds for `seconds` (counted, like an untraced run), and
    # a lifecycle on the small index - fresh build, one mutate round,
    # merge, the reads on the merged index - so that every per-layer
    # figure is measured on both workloads. Operations outside the rounds
    # are checked but not counted: attempted/failed cover whole rounds.
    run.counting = False
    before = reference_reads(run, inp, base)
    run.spark.stop()
    start_spark(run, traced=True)
    after = reference_reads(run, inp, base)
    overhead = statistics.median(a / b for a, b in zip(after, before))
    run.lat, run.plan, run.batch_qps = {}, {}, []
    run.tracer.spans.clear()
    small = inp if args.workload == "mutate" else small_inputs(run)
    sbase = run.path("traced_build")
    build(run, small, sbase, span="build.traced")
    life = Mutation(run, small, sbase)
    run.counting = True
    if args.workload == "mutate":
        run.rounds = loop(run, inp, base, life, seconds=args.seconds)
    else:
        run.rounds = loop(run, inp, base, None, seconds=args.seconds)
        run.counting = False
        life.round(full=False)
    run.counting = False
    life.merge()
    log(f"{run.rounds} traced round(s) and the lifecycle done")
    probes = layer_probes(run, inp, base)
    run.spark.stop()
    run.spark = None
    return per_layer(run, inp, base, probes, overhead)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
