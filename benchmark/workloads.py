"""The three workloads, the traced layer suite and the metrics they yield.

Each workload times one kind of work for ``seconds`` (build: index builds;
serve: queries from one closed-loop client; curate: passes over the 13
curation ops), after a set-up that is repeated and reported as its median.  Every answer is checked outside the timed region.
With tracing on, units of timed work alternate between traced and untraced
(the difference of their medians is the tracing overhead), and a layer suite
measures every layer the workload itself does not reach, so a traced run of
any workload reports every per-layer metric.
"""

from __future__ import annotations

import math
import os
import random
import re
import shutil
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from . import checks, gen
from .observe import LAYERS, SparkLedger, Tracer

# set-up repetitions: writing seeded tables is cheap and its time is small,
# so five; serve's open + warm costs ~1 s and its median over three spread
# by 0.26 across ten runs, so five
WRITE_REPS, OPEN_REPS = 5, 5
K = 10

# build: a vocabulary above the 100k-term driver dictionary cap
# (indexing/index.py DICT_DRIVER_CACHE_MAX_TERMS), so warm() keeps the
# dictionary on the executors
BUILD_CORPUS = dict(n_turns=3800, vocab=5_000_000, exponent=0.85)
# serve: a dictionary well under the cap, so term lookups are driver hits
SERVE_CORPUS = dict(n_turns=800, vocab=20_000, exponent=1.0)
# 1,500 documents make one pass take longer than an 8 s run, so every run
# times one whole pass; the DuckDB twins of the LSH ops cost ~25 ms per
# vector, and 160 vectors keep them shorter than the warm-up pass they overlap
CURATE_DOCS, CURATE_VECS = 1500, 160
# layer-suite inputs for the layers a workload does not reach
PROBE_CORPUS = dict(n_turns=300, vocab=20_000, exponent=1.0)
PROBE_DOCS, PROBE_VECS = 200, 60
PROBE_QUERIES_PER_CLASS = 1
# serve: untimed rounds of the six classes before the closed loop.  Query
# latency falls while the JVM compiles the planning and scheduling paths: on
# a 4-core host the median of successive 24-query windows read 241, 215,
# 170, 177, 157, 160, 158, 161, 146 ms.  After two rounds the second half of
# a run was 10-25% faster than its first half; sixteen rounds (96 queries)
# reach the plateau
SERVE_WARMUP_ROUNDS = 16
CODEC_SAMPLE_BLOCKS = 400

CURATION_OPS = (
    "token_count", "quality_score", "lang_id", "lang_id_ngram", "fingerprint",
    "dedup_exact", "dedup_minhash", "dedup_simhash", "ngram_jaccard",
    "near_dup_embedding", "multimodal_decode", "ann_cosine_topk", "ann_lsh_topk",
)
PHASES = ("vocab_collect", "stats_collect", "postings_segments", "stats_write_join", "term_stats", "metrics")
QUERY_CLASSES = ("ranked_small", "ranked_large", "wand", "boolean", "phrase", "filtered")
FILTERS = (("role", "assistant"), ("role", "user"), ("tool", "bash"), ("tool", "search"))
WORD = re.compile(r"[a-z]+k")


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n: int, q: float) -> int:
    return n - max(1, math.ceil(q * n))


@dataclass
class Unit:
    rid: str
    traced: bool
    ms: float = 0.0
    spark: dict = field(default_factory=dict)


class Run:
    """State of one benchmark run: answers checked, spans, layer figures."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        self.ledger = SparkLedger(spark) if trace else None
        self.attempted = 0
        self.failed = 0
        self.faults: list[str] = []
        self.detail: dict = {"seed": seed}
        self.layer: dict[str, float] = {}
        self.spark_total: dict[str, float] = {}
        self.timed: list[tuple[str, bool, float]] = []  # (unit name, traced, ms)
        self.query_stats: list[dict] = []
        self._n = 0

    def check(self, what: str, fault: str | None) -> None:
        self.attempted += 1
        if fault:
            self.failed += 1
            if len(self.faults) < 20:
                self.faults.append(f"{what}: {fault}")

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    @contextmanager
    def unit(self, layer: str, name: str, timed: bool):
        """One request (query, op or build).  In a traced run, timed units
        alternate untraced/traced; untimed units are always traced."""
        traced = self.trace and (not timed or len(self.timed) % 2 == 1)
        u = Unit(rid=f"{name}#{self._n}", traced=traced)
        self._n += 1
        self.tracer.enabled = traced
        if traced:
            self.ledger.begin(u.rid)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(layer, name, u.rid):
                yield u
        finally:
            u.ms = (time.perf_counter() - t0) * 1000
            self.tracer.enabled = self.trace
        if timed:
            self.timed.append((name, traced, u.ms))
        if traced:
            u.spark = self.ledger.end(u.rid)
            if timed:
                for key, value in u.spark.items():
                    self.spark_total[key] = self.spark_total.get(key, 0) + value

    def span(self, layer: str, name: str, rid: str = "-"):
        return self.tracer.span(layer, name, rid)

    def overhead_ratios(self) -> list[float]:
        """Per unit name seen both ways: median traced / median untraced
        latency.  The first timed unit pays the most warm-up: left out."""
        by_name: dict[str, dict[bool, list[float]]] = {}
        for name, traced, ms in self.timed[1:]:
            by_name.setdefault(name, {True: [], False: []})[traced].append(ms)
        return [
            statistics.median(v[True]) / statistics.median(v[False])
            for v in by_name.values()
            if v[True] and v[False]
        ]


# --- transcripts, index, oracle ----------------------------------------------

@dataclass
class Corpus:
    dir: str
    cols: dict
    oracle: object = None

    @property
    def n_turns(self) -> int:
        return len(self.cols["text"])


def write_corpus(run: Run, name: str, seed: int, spec: dict) -> Corpus:
    d = run.path(name)
    cols = gen.transcript_rows(seed, **spec)
    gen.write_transcripts(d, cols)
    return Corpus(d, cols)


def attach_oracle(corpus: Corpus) -> None:
    from searchengine_spark.oracle import build_oracle_index

    # doc ids follow ORDER BY (conv_id, turn_idx), which is generation order
    corpus.oracle = build_oracle_index((i, [t]) for i, t in enumerate(corpus.cols["text"]))


def build(run: Run, corpus: Corpus, out: str, timed: bool) -> tuple[dict, float]:
    """read_transcripts -> prepare_transcripts -> build_index; returns the
    manifest and the wall seconds."""
    from searchengine_spark.indexing.build import build_index, prepare_transcripts
    from searchengine_spark.sources import read_transcripts

    shutil.rmtree(out, ignore_errors=True)
    with run.unit("indexing", "build", timed) as u:
        docs = prepare_transcripts(read_transcripts(run.spark, corpus.dir))
        manifest = build_index(run.spark, docs, out)
    return manifest, u.ms / 1000


def open_warm(run: Run, out: str):
    from searchengine_spark.indexing.index import SparkIndex

    with run.span("indexing", "open"):
        t0 = time.perf_counter()
        index = SparkIndex(run.spark, out)
        t1 = time.perf_counter()
    with run.span("indexing", "warm"):
        index.warm()
        t2 = time.perf_counter()
    return index, t1 - t0, t2 - t1


def index_layer(run: Run, manifest: dict, out: str, corpus: Corpus, open_s: float, warm_s: float) -> None:
    """Per-layer figures of one built index (manifest + files on disk)."""
    import pyarrow.parquet as pq

    m = manifest["metrics"]
    phases = m.get("phase_seconds", {})
    for p in PHASES:
        run.layer[f"indexing.phase.{p}_s"] = float(phases.get(p, 0.0))
    run.detail["build_phases_s"] = phases

    def dir_stats(sub: str) -> tuple[int, int, int]:
        files = nbytes = rows = 0
        for dirpath, _, names in os.walk(os.path.join(out, sub)):
            for n in names:
                if n.endswith(".parquet"):
                    fp = os.path.join(dirpath, n)
                    files += 1
                    nbytes += os.path.getsize(fp)
                    rows += pq.ParquetFile(fp).metadata.num_rows
        return files, nbytes, rows

    total_files, total_bytes, _ = dir_stats("")
    _, postings_bytes, _ = dir_stats("postings")
    _, segments_bytes, _ = dir_stats("segments")
    _, _, n_terms = dir_stats("term_stats")
    text_bytes = sum(len(t.encode()) for t in corpus.cols["text"])
    run.layer.update(
        {
            "indexing.skew_ratio": float(m["skew_ratio_max_df_over_avg_df"]),
            "indexing.n_postings": m["n_postings"],
            "indexing.n_terms": n_terms,
            "indexing.n_blocks": m["n_segment_blocks"],
            "indexing.files": total_files,
            "indexing.postings_bytes": postings_bytes,
            "indexing.segments_bytes": segments_bytes,
            "indexing.bytes_per_text_byte": total_bytes / text_bytes,
            "index.open_s": open_s,
            "index.warm_s": warm_s,
            "text.tokens": m["total_tokens"],
        }
    )


def codec_layer(run: Run, out: str) -> None:
    """decode_block/encode_block over a seeded sample of the built blocks;
    every re-encode must reproduce its blob byte for byte."""
    import pyarrow.dataset as ds

    from searchengine_spark.indexing.codec import decode_block, encode_block

    blobs = ds.dataset(os.path.join(out, "segments"), format="parquet").to_table(columns=["postings_bin"])
    blobs = blobs.column("postings_bin").to_pylist()
    rng = random.Random(run.seed)
    sample = rng.sample(blobs, min(CODEC_SAMPLE_BLOCKS, len(blobs)))
    with run.span("codec", "decode"):
        t0 = time.perf_counter()
        decoded = [decode_block(b) for b in sample]
        t_dec = time.perf_counter() - t0
    with run.span("codec", "encode"):
        t0 = time.perf_counter()
        encoded = [encode_block(*d) for d in decoded]
        t_enc = time.perf_counter() - t0
    n_postings = sum(int(d[0].size) for d in decoded)
    bad = sum(1 for a, b in zip(sample, encoded) if a != b)
    run.check("codec re-encode", f"{bad} of {len(sample)} blocks differ" if bad else None)
    run.layer["codec.decode_ns_per_posting"] = t_dec * 1e9 / max(1, n_postings)
    run.layer["codec.encode_ns_per_posting"] = t_enc * 1e9 / max(1, n_postings)


def tokenize_layer(run: Run, corpus: Corpus) -> None:
    """spark_tokenize.tokenize over the corpus turns, through the noop sink."""
    from searchengine_spark.indexing.build import prepare_transcripts, release_docid_cache_of
    from searchengine_spark.sources import read_transcripts
    from searchengine_spark.text.spark_tokenize import tokenize

    docs = prepare_transcripts(read_transcripts(run.spark, corpus.dir))
    with run.span("text", "tokenize"):
        t0 = time.perf_counter()
        tokenize(docs.select("doc_id", "text")).write.format("noop").mode("overwrite").save()
        run.layer["text.tokenize_s"] = time.perf_counter() - t0
    release_docid_cache_of(docs)


# --- queries -----------------------------------------------------------------

@dataclass
class Query:
    cls: str
    text: str
    mode: str = "bm25"
    filter: tuple | None = None


def query_mix(seed: int, corpus: Corpus, n: int) -> list[Query]:
    """Seeded mix, the six classes in shuffled rounds.  Ranked terms are index
    terms (ranked queries are lower().split(), not stemmed); Boolean and
    phrase literals are words taken from the turns, so most of them match."""
    rng = random.Random(seed * 1_000_003 + n)
    oracle = corpus.oracle
    by_df = sorted(((len(p), t) for t, p in oracle.postings.items() if WORD.fullmatch(t)), reverse=True)
    head = [t for _, t in by_df[:10]]
    torso_max = max(4, oracle.n_docs // 40)
    torso = [t for df, t in by_df if 2 <= df <= torso_max]
    words = [ws for ws in ([w for w in t.split(" ") if WORD.fullmatch(w)] for t in corpus.cols["text"]) if len(ws) >= 2]
    out: list[Query] = []
    order = list(QUERY_CLASSES)
    for i in range(n):
        if i % len(order) == 0:
            rng.shuffle(order)
        cls = order[i % len(order)]
        if cls == "ranked_small":
            q = Query(cls, " ".join(rng.sample(torso, rng.choice((2, 3)))), mode=rng.choice(("bm25", "tfidf")))
        elif cls in ("ranked_large", "wand"):
            q = Query(cls, f"{rng.choice(head)} {rng.choice(torso)}")
        elif cls == "boolean":
            a, b = rng.choice(words), rng.choice(words)
            form = i // len(order) % 3
            text = (f"{rng.choice(a)} {rng.choice(a)}", f"{rng.choice(a)} + {rng.choice(b)}", f"{rng.choice(a)} -{rng.choice(b)}")[form]
            q = Query(cls, text)
        elif cls == "phrase":
            ws = rng.choice(words)
            j = rng.randrange(len(ws) - 1)
            q = Query(cls, f'"{ws[j]} {ws[j + 1]}"')
        else:
            q = Query(cls, " ".join(rng.sample(torso, 2)), filter=rng.choice(FILTERS))
        out.append(q)
    return out


def run_query(run: Run, index, q: Query, timed: bool):
    """Calls the query layer's public functions; in a traced unit the
    dictionary lookup, plan and execution are separate spans."""
    from searchengine_spark.querying.boolean import boolean_search
    from searchengine_spark.querying.ranked import ranked_search, role_tool_filter
    from searchengine_spark.querying.wand import ranked_search_wand

    wand_stats: dict | None = None
    with run.unit("querying", q.cls, timed) as u:
        if u.traced and q.cls not in ("boolean", "phrase"):
            with run.span("querying", "dictionary", u.rid):
                index.term_stats_for(list(set(q.text.lower().split())))
        with run.span("querying", "plan", u.rid):
            if q.cls in ("boolean", "phrase"):
                df = boolean_search(index, q.text)
            elif q.cls == "wand":
                wand_stats = {} if u.traced else None
                df = ranked_search_wand(index, q.text, mode="bm25", k=K, stats=wand_stats)
            else:
                doc_filter = None
                if q.filter is not None:
                    doc_filter = role_tool_filter(index, **{q.filter[0]: q.filter[1]})
                df = ranked_search(index, q.text, mode=q.mode, k=K, doc_filter=doc_filter)
        with run.span("querying", "execute", u.rid):
            rows = df.collect()
    if u.traced:
        run.query_stats.append({"spark": u.spark, "wand": wand_stats, "rid": u.rid})
    if q.cls in ("boolean", "phrase"):
        return u, {r["doc_id"] for r in rows}
    return u, [(r["doc_id"], r["score"]) for r in rows]


def check_answer(run: Run, corpus: Corpus, q: Query, got) -> None:
    oracle = corpus.oracle
    if q.cls in ("boolean", "phrase"):
        run.check(f"{q.cls} {q.text!r}", checks.check_set(got, oracle.search_boolean(q.text)))
        return
    ranking = oracle.rank(q.text, mode=q.mode)
    if q.filter is not None:
        col, value = q.filter
        keep = {i for i, v in enumerate(corpus.cols[col]) if v == value}
        ranking = [(d, s) for d, s in ranking if d in keep]
    run.check(f"{q.cls} {q.text!r} {q.mode} {q.filter}", checks.check_ranked(got, ranking, K))


def query_layer(run: Run) -> None:
    """Per-query medians from the traced query units."""
    by_name: dict[str, list[float]] = {}
    for s in run.tracer.spans:
        if s["layer"] == "querying" and s["name"] in ("dictionary", "plan", "execute"):
            by_name.setdefault(s["name"], []).append((s["end"] - s["start"]) * 1000)
    execs = {s["rid"]: (s["end"] - s["start"]) * 1000 for s in run.tracer.spans if s["name"] == "execute"}
    qs = run.query_stats

    def med(values):
        return float(statistics.median(values)) if values else 0.0

    run.layer.update(
        {
            "querying.dict_ms": med(by_name.get("dictionary", [])),
            "querying.plan_ms": med(by_name.get("plan", [])),
            "querying.exec_ms": med(by_name.get("execute", [])),
            "querying.jobs": med([q["spark"]["jobs"] for q in qs]),
            "querying.stages": med([q["spark"]["stages"] for q in qs]),
            "querying.tasks": med([q["spark"]["numCompleteTasks"] for q in qs]),
            "querying.task_run_ms": med([q["spark"]["executorRunTime"] for q in qs]),
            "querying.input_bytes": med([q["spark"]["inputBytes"] for q in qs]),
            "querying.overhead_ms": med([execs.get(q["rid"], 0.0) - q["spark"]["busy_ms"] for q in qs]),
        }
    )
    wand = [q["wand"] for q in qs if q["wand"]]
    run.layer["wand.pruned_share"] = sum(1 for w in wand if w.get("pruned")) / max(1, len(wand))
    total = sum(w.get("bytes_total", 0) for w in wand)
    run.layer["wand.bytes_decoded_share"] = sum(w.get("bytes_decoded", 0) for w in wand) / max(1, total)


def probe_queries(run: Run, corpus: Corpus, index) -> None:
    """A few untimed queries per class, each checked against the oracle."""
    mix = query_mix(run.seed, corpus, PROBE_QUERIES_PER_CLASS * len(QUERY_CLASSES))
    for q in mix:
        _, got = run_query(run, index, q, timed=False)
        check_answer(run, corpus, q, got)


# --- curation ----------------------------------------------------------------

def duckdb_twins(data_dir: str, result: dict) -> None:
    """Runs in a thread: each op's DuckDB twin over the same parquet files."""
    try:
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duckdb.connect()
        for table in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{data_dir}/{table}.parquet'")
        for op in CURATION_OPS:
            rel = con.sql(sql[op])
            result[op] = (rel.fetchall(), [d[0] for d in rel.description])
        con.close()
    except Exception as exc:  # reported as a failed check by the caller
        result["error"] = repr(exc)


def start_twins(data_dir: str) -> tuple[threading.Thread, dict]:
    from searchengine_spark import duck_oracle

    # oracle_sql() also renders the index twins, whose Porter2 map is read
    # from fixed testdata paths outside the benchmark's inputs; the curation
    # twins do not use that map, so an empty one stands in for it
    duck_oracle._stem_values = lambda: "('__none__', '__none__')"
    result: dict = {}
    thread = threading.Thread(target=duckdb_twins, args=(data_dir, result), daemon=True)
    thread.start()
    return thread, result


def curate_pass(run: Run, data_dir: str, timed: bool) -> tuple[dict, dict, float]:
    """One pass of the 13 curation ops; returns rows, per-op seconds, pass seconds."""
    import __spark_entry__ as entry

    qs = entry.queries()
    rows, secs = {}, {}
    t0 = time.perf_counter()
    for op in CURATION_OPS:
        with run.unit("pipeline", op, timed) as u:
            df = qs[op](run.spark, data_dir)
            collected = [tuple(r) for r in df.collect()]
        rows[op] = (collected, df.columns)
        secs[op] = u.ms / 1000
    return rows, secs, time.perf_counter() - t0


def check_pass(run: Run, rows: dict, twins: dict) -> None:
    for op in CURATION_OPS:
        if op not in twins:
            run.check(op, f"no DuckDB twin result ({twins.get('error', 'missing')})")
            continue
        got, cols = rows[op]
        want, want_cols = twins[op]
        run.check(op, checks.check_table(got, cols, want, want_cols))


def curate_data(seed: int, d: str, n_docs: int, n_vecs: int) -> dict:
    docs = gen.write_curation(d, seed, n_docs, n_vecs)
    return {
        "documents": n_docs,
        "vectors": n_vecs,
        "duplicate_share": round(1 - len(set(docs["text"])) / n_docs, 4),
        "languages": {lang: docs["lang"].count(lang) for lang in gen.LANGS},
    }


def probe_pipeline(run: Run) -> None:
    d = run.path("probe_curate")
    curate_data(run.seed, d, PROBE_DOCS, PROBE_VECS)
    thread, twins = start_twins(d)
    rows, secs, _ = curate_pass(run, d, timed=False)
    thread.join()
    check_pass(run, rows, twins)
    for op in CURATION_OPS:
        run.layer[f"pipeline.{op}_s"] = secs[op]


# --- timed loops ---------------------------------------------------------------

def timed_loop(run: Run, step) -> float:
    """Calls step() until ``seconds`` have passed (in a traced run, until
    some kind of unit has run both traced and untraced); returns the
    seconds."""
    t0 = time.perf_counter()
    while True:
        step()
        elapsed = time.perf_counter() - t0
        enough = not run.trace or run.overhead_ratios()
        if elapsed >= run.seconds and enough:
            return elapsed


def setup_reps(fn, reps: int) -> tuple[float, object]:
    """Runs the set-up ``reps`` times; median seconds and the last result."""
    times, result = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        result = fn()
        times.append(time.perf_counter() - t0)
    return float(statistics.median(times)), result


def latency_metrics(ms: list[float]) -> dict:
    return {"latency.p50_ms": percentile(ms, 0.5), "latency.p80_ms": percentile(ms, 0.8)}


def warm_build(run: Run) -> None:
    """One untimed build of a small corpus: the first build in a fresh JVM
    takes ~2x as long while the JVM compiles the build path, and how much
    longer varied by 15% from run to run."""
    corpus = write_corpus(run, "warmup_transcripts", run.seed + 1, PROBE_CORPUS)
    attach_oracle(corpus)
    manifest, _ = build(run, corpus, run.path("warmup_index"), timed=False)
    run.check("build manifest", checks.check_manifest(manifest["metrics"], corpus.oracle))
    shutil.rmtree(run.path("warmup_index"), ignore_errors=True)


def workload_build(run: Run) -> dict:
    setup_s, corpus = setup_reps(lambda: write_corpus(run, "transcripts", run.seed, BUILD_CORPUS), WRITE_REPS)
    attach_oracle(corpus)
    warm_build(run)
    build_s, opens, warms, last = [], [], [], {}

    def step():
        run.spark.catalog.clearCache()
        if last:
            shutil.rmtree(last["out"], ignore_errors=True)
        out = run.path(f"index{len(build_s)}")
        manifest, seconds = build(run, corpus, out, timed=True)
        index, open_s, warm_s = open_warm(run, out)
        build_s.append(seconds)
        opens.append(open_s)
        warms.append(warm_s)
        last.update(manifest=manifest, out=out, index=index)
        run.check("build manifest", checks.check_manifest(manifest["metrics"], corpus.oracle))

    elapsed = timed_loop(run, step)
    probe_queries(run, corpus, last["index"])
    run.detail.update(
        corpus_detail(corpus),
        builds=len(build_s),
        timed_s=elapsed,
        open_warm_s=[o + w for o, w in zip(opens, warms)],
        build_s=build_s,
    )
    if run.trace:
        index_layer(run, last["manifest"], last["out"], corpus, opens[-1], warms[-1])
        codec_layer(run, last["out"])
        tokenize_layer(run, corpus)
        query_layer(run)
        probe_pipeline(run)
    return {
        "setup_s": setup_s,
        "work_per_s": float(statistics.median(corpus.n_turns / s for s in build_s)),
        **latency_metrics([s * 1000 for s in build_s]),
    }


def workload_serve(run: Run) -> dict:
    corpus = write_corpus(run, "transcripts", run.seed, SERVE_CORPUS)
    out = run.path("index")
    manifest, build_s = build(run, corpus, out, timed=False)

    def open_warm_fresh():
        run.spark.catalog.clearCache()
        return open_warm(run, out)

    setup_s, (index, open_s, warm_s) = setup_reps(open_warm_fresh, OPEN_REPS)
    attach_oracle(corpus)
    run.check("build manifest", checks.check_manifest(manifest["metrics"], corpus.oracle))
    for q in query_mix(run.seed + 1, corpus, SERVE_WARMUP_ROUNDS * len(QUERY_CLASSES)):
        _, got = run_query(run, index, q, timed=False)
        check_answer(run, corpus, q, got)
    mix = query_mix(run.seed, corpus, 5000)
    answers: list[tuple[Query, object, float]] = []

    def step():
        q = mix[len(answers) % len(mix)]
        u, got = run_query(run, index, q, timed=True)
        answers.append((q, got, u.ms))

    elapsed = timed_loop(run, step)
    for q, got, _ in answers:
        check_answer(run, corpus, q, got)
    all_ms = [ms for _, _, ms in answers]
    by_class = {c: [ms for q, _, ms in answers if q.cls == c] for c in QUERY_CLASSES}
    run.detail.update(
        corpus_detail(corpus),
        serve_build_s=build_s,
        queries=len(answers),
        timed_s=elapsed,
        query_ms=[(q.cls, round(ms, 1)) for q, _, ms in answers],
        latency_samples={"n": len(all_ms), "beyond_p50": beyond(len(all_ms), 0.5), "beyond_p80": beyond(len(all_ms), 0.8)},
        per_class={
            c: {"n": len(v), "p50_ms": percentile(v, 0.5) if v else None, "beyond_p50": beyond(len(v), 0.5)}
            for c, v in by_class.items()
        },
    )
    if run.trace:
        index_layer(run, manifest, out, corpus, open_s, warm_s)
        codec_layer(run, out)
        tokenize_layer(run, corpus)
        query_layer(run)
        probe_pipeline(run)
    return {"setup_s": setup_s, "work_per_s": len(answers) / elapsed, **latency_metrics(all_ms)}


def workload_curate(run: Run) -> dict:
    d = run.path("curate")
    setup_s, sizes = setup_reps(lambda: curate_data(run.seed, d, CURATE_DOCS, CURATE_VECS), WRITE_REPS)
    thread, twins = start_twins(d)
    warm_rows, _, _ = curate_pass(run, d, timed=False)
    thread.join()
    check_pass(run, warm_rows, twins)
    passes: list[tuple[dict, dict, float]] = []
    elapsed = timed_loop(run, lambda: passes.append(curate_pass(run, d, timed=True)))
    for rows, _, _ in passes:
        check_pass(run, rows, twins)
    run.detail.update(
        sizes,
        passes=len(passes),
        timed_s=elapsed,
        pass_s=[p for _, _, p in passes],
        op_s={op: [round(secs[op], 3) for _, secs, _ in passes] for op in CURATION_OPS},
    )
    if run.trace:
        for op in CURATION_OPS:
            run.layer[f"pipeline.{op}_s"] = float(statistics.median(secs[op] for _, secs, _ in passes))
        corpus = write_corpus(run, "probe_transcripts", run.seed, PROBE_CORPUS)
        attach_oracle(corpus)
        out = run.path("probe_index")
        manifest, _ = build(run, corpus, out, timed=False)
        run.check("build manifest", checks.check_manifest(manifest["metrics"], corpus.oracle))
        index, open_s, warm_s = open_warm(run, out)
        index_layer(run, manifest, out, corpus, open_s, warm_s)
        tokenize_layer(run, corpus)
        codec_layer(run, out)
        probe_queries(run, corpus, index)
        query_layer(run)
    # the unit of latency is a pass: single ops differ in cost by 10x, and
    # the median op of a pass flips between ops of close cost from run to run
    return {
        "setup_s": setup_s,
        "work_per_s": float(statistics.median(CURATE_DOCS / p for _, _, p in passes)),
        **latency_metrics([p * 1000 for _, _, p in passes]),
    }


def corpus_detail(corpus: Corpus) -> dict:
    from searchengine_spark.indexing.index import DICT_DRIVER_CACHE_MAX_TERMS

    n_terms = len(corpus.oracle.postings)
    return {
        "turns": corpus.n_turns,
        "tokens": corpus.oracle.total_tokens,
        "distinct_terms": n_terms,
        "driver_dict_cap": DICT_DRIVER_CACHE_MAX_TERMS,
        "over_dict_cap": n_terms > DICT_DRIVER_CACHE_MAX_TERMS,
        "text_bytes": sum(len(t.encode()) for t in corpus.cols["text"]),
    }


WORKLOADS = {"build": workload_build, "serve": workload_serve, "curate": workload_curate}


def trace_metrics(run: Run) -> dict:
    """Per-layer figures common to every workload's traced run."""
    self_s = run.tracer.self_seconds()
    out = {f"trace.{layer}.self_s": self_s[layer] for layer in LAYERS}
    out["trace.overhead_share"] = statistics.median(run.overhead_ratios()) - 1
    t = run.spark_total
    out.update(
        {
            "spark.task_run_s": t.get("executorRunTime", 0) / 1000,
            "spark.task_cpu_s": t.get("executorCpuTime", 0) / 1e9,
            "spark.gc_s": t.get("jvmGcTime", 0) / 1000,
            "spark.shuffle_write_b": t.get("shuffleWriteBytes", 0),
            "spark.shuffle_read_b": t.get("shuffleReadBytes", 0),
            "spark.spill_b": t.get("diskBytesSpilled", 0),
            "spark.tasks": t.get("numCompleteTasks", 0),
        }
    )
    return out
