"""resin-spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload {search_selective,search_broad}
                             --seed N --seconds S --trace {0,1}

Run from the root of a source checkout.  Every input is generated from
the seed; every answer is checked against the pure-Python oracle
(``resin_spark/reference.py``) outside the timed region.  The last line
of stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (see perfbench/METRICS.md).  A detail line
before it carries sample counts, tail percentiles and the numbers that
are not gated; the same record is written to ``.perfbench/out/``.

Scratch files live under ``.perfbench/`` in the checkout.  Both
workloads query one index over a fixed-seed 640k-turn corpus, built by
the first run in a checkout and reused after; ``--seed`` draws their
query streams.  The traced ``search_selective`` run also drives the
write path (build, appends, refresh, compact) over a corpus generated
from ``--seed``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "work")
CACHE = os.path.join(STATE, "cache")
OUT = os.path.join(STATE, "out")

WORKLOADS = ("search_selective", "search_broad")
SPARK_MASTER = "local[4]"
HTTP_CLIENTS = 4
HTTP_ROUNDS = 4
ORACLE_PROCS = 3

SEARCH_CORPUS_SEED = 20_211
SEARCH_TURNS = 640_000
SELECTIVE_PER_SHAPE = 3
BROAD_PER_SHAPE = 1
# the distributed mask fold: one call costs 6-9 s on a warm JVM and
# 10-25 s on a fresh one, more than a whole untraced run can spend, so
# only the traced run of search_broad includes it (see METRICS.md)
TRACE_ONLY_SHAPES = ("nested_wide",)
PHRASE_SAMPLE_TURNS = 4000

# the write path, driven by the traced search_selective run
INGEST_TURNS = 20_000
INGEST_BATCH_TURNS = 2_000
INGEST_BATCHES = 2
INGEST_QUERIES_PER_BATCH = 4

SETUP_REPEATS = 3
# a traced query's layer spans must cover its wall time (as the runner
# timed it) up to this share; the rest is the benchmark's own glue
TRACE_TOLERANCE = 0.05


# ------------------------------------------------------------- helpers
def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that leaves at least
    ten samples above it is the 11th largest sample (nearest rank).  With
    ten samples or fewer no percentile qualifies and the maximum is
    reported as the 100th."""
    n = len(samples)
    s = sorted(samples)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def dram_control() -> float:
    out = subprocess.run([sys.executable, os.path.join(HERE, "control.py")],
                         capture_output=True, text=True, timeout=120,
                         check=True)
    return float(out.stdout.strip().splitlines()[-1])


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def make_spark(trace: bool, event_dir: str | None):
    from resin_spark.session import make_session

    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    extra = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false",
                      "spark.eventLog.dir": "file://" + event_dir})
    spark = make_session(SPARK_MASTER, "perfbench", shuffle_partitions=8,
                         memory="4g", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit (the JVM quits
    when its stdin closes), so the run leaves no process behind."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def index_meta(root: str) -> tuple[dict, dict]:
    """{(field, term): df} and {(field, term): block rows} of an index,
    read from its postings table."""
    import pyarrow.dataset as pads

    from resin_spark import build as B

    tbl = pads.dataset(B.p_postings(root), format="parquet",
                       partitioning="hive").to_table(
        columns=["field", "term", "df_block"]).to_pandas()
    g = tbl.groupby(["field", "term"])["df_block"].agg(["sum", "count"])
    dfs = {k: int(v) for k, v in g["sum"].items()}
    blocks = {k: int(v) for k, v in g["count"].items()}
    return dfs, blocks


class Runner:
    """Runs queries against an engine, recording samples and results.
    With a tracer, each query is a span and runs under its own Spark job
    group so its jobs, stages and tasks can be counted."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.samples: dict[str, list] = {}  # pass -> [(spec, s, tag)]
        self.results: list[tuple[str, list]] = []  # (qid, result) per attempt
        self.errors: list[str] = []
        self.jobs: dict[str, tuple[int, int, int]] = {}
        self._n = 0
        self._cursor = 0

    def query(self, eng, spec, pass_name: str | None):
        """Run one query; ``pass_name`` None = untimed (warm-up)."""
        self._n += 1
        tag = f"{pass_name or 'untimed'}:{self._n}:{spec.qid}"
        sc = self.spark.sparkContext
        if self.tracer:
            sc.setJobGroup(tag, tag)
        ctx = (self.tracer.span("query", qid=tag, shape=spec.shape,
                                pass_name=pass_name, spec=spec.qid)
               if self.tracer else nullcontext())
        t0 = time.perf_counter()
        try:
            with ctx:
                if spec.phrase is not None:
                    df = eng.phrase_search(spec.phrase, k=spec.k,
                                           skip=spec.skip)
                else:
                    df = eng.search(spec.query, k=spec.k, skip=spec.skip)
                rows = df.collect()
        except Exception as e:  # a failed query counts in `failed`
            self.errors.append(f"{tag}: {type(e).__name__}: {e}")
            return None
        dt = time.perf_counter() - t0
        if self.tracer:
            self.jobs[tag] = self._job_counts(tag)
        res = [[[r["conv_id"], int(r["turn_idx"])], float(r["score"])]
               for r in rows]
        self.results.append((spec.qid, res))
        if pass_name is not None:
            self.samples.setdefault(pass_name, []).append((spec, dt, tag))
        return dt

    def _job_counts(self, group: str) -> tuple[int, int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = [s for j in jobs
                  for s in (st.getJobInfo(j).stageIds if st.getJobInfo(j)
                            else [])]
        tasks = sum(st.getStageInfo(s).numTasks for s in stages
                    if st.getStageInfo(s))
        return len(jobs), len(stages), tasks

    def pairs(self, eng, stream, budget_s: float):
        """Queries the stream, from where the last call left it, for about
        ``budget_s`` seconds.  Each query gives a cold sample, after
        ``clear_cache()``, and then at once a warm one, its repeat, so the
        two cover the same stretch of the run."""
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < budget_s:
            spec = stream[self._cursor % len(stream)]
            self._cursor += 1
            eng.clear_cache()
            self.query(eng, spec, "cold")
            self.query(eng, spec, "warm")

    def secs(self, pass_name) -> list[float]:
        return [dt for _, dt, _ in self.samples.get(pass_name, [])]


# --------------------------------------------------------- search index
def search_index_dir() -> str:
    """Where the shared search index lives, keyed by the engine and
    generator sources: an edited engine in the same checkout never
    reuses an index an older build wrote."""
    h = hashlib.sha256()
    srcs = [os.path.join(ROOT, "resin_spark", f)
            for f in sorted(os.listdir(os.path.join(ROOT, "resin_spark")))
            if f.endswith(".py")] + [os.path.join(HERE, "gen.py")]
    for p in srcs:
        with open(p, "rb") as f:
            h.update(f.read())
    return os.path.join(CACHE, f"search-s{SEARCH_CORPUS_SEED}-"
                               f"n{SEARCH_TURNS}-{h.hexdigest()[:12]}")


def load_search_index() -> dict | None:
    """The shared search index's paths and metadata (dfs, block rows,
    phrase sample turns), or None before the checkout's first build."""
    final = search_index_dir()
    meta_path = os.path.join(final, "meta.json")
    if not os.path.exists(meta_path):
        return None
    with open(meta_path) as f:
        meta = json.load(f)
    return {"corpus": os.path.join(final, "corpus"),
            "collections": os.path.join(final, "collections"),
            "root": os.path.join(final, "collections", "coll"),
            "n_docs": meta["n_docs"],
            "dfs": {(f, t): v for f, t, v in meta["dfs"]},
            "blocks": {(f, t): v for f, t, v in meta["blocks"]},
            "sample_texts": meta["sample_texts"]}


def build_search_index(spark) -> None:
    """Generates the fixed-seed corpus and builds the shared index over
    it, once per checkout; drops the indexes of other sources."""
    from resin_spark.build import build_index

    from perfbench import gen

    final = search_index_dir()
    tmp = os.path.join(CACHE, f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    corpus = os.path.join(tmp, "corpus")
    gen.corpus_df(spark, SEARCH_TURNS, SEARCH_CORPUS_SEED).write.mode(
        "overwrite").parquet(corpus)
    root = os.path.join(tmp, "collections", "coll")
    build_index(spark, spark.read.parquet(corpus), root, positions=True)
    dfs, blocks = index_meta(root)
    sample = (spark.read.parquet(corpus).select("text")
              .orderBy("conv_id", "turn_idx")
              .limit(PHRASE_SAMPLE_TURNS).collect())
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"n_docs": SEARCH_TURNS,
                   "dfs": [[k[0], k[1], v] for k, v in dfs.items()],
                   "blocks": [[k[0], k[1], v] for k, v in blocks.items()],
                   "sample_texts": [r["text"] for r in sample]}, f)
    for stale in os.listdir(CACHE):  # indexes of other sources
        if stale.startswith("search-"):
            shutil.rmtree(os.path.join(CACHE, stale), ignore_errors=True)
    os.rename(tmp, final)


def draw_stream(ix: dict, workload: str, seed: int, trace: bool) -> list:
    """The workload's distinct queries, drawn from ``seed``.  The traced
    run of ``search_broad`` adds the distributed-fold shape."""
    from perfbench import gen

    vocab = gen.Vocab(ix["dfs"], ix["n_docs"])
    if workload == "search_selective":
        rng = random.Random(f"phrases:{seed}")
        texts = rng.sample(ix["sample_texts"], 600)
        phrases = gen.phrase_candidates(texts, vocab, rng, 200)
        return gen.query_stream(workload, vocab, seed, SELECTIVE_PER_SHAPE,
                                phrases)
    shapes = [s for s in gen.BROAD_SHAPES if s not in TRACE_ONLY_SHAPES]
    stream = gen.query_stream(workload, vocab, seed, BROAD_PER_SHAPE,
                              shapes=shapes)
    if trace:
        stream += gen.query_stream(workload, vocab, seed, 1,
                                   shapes=TRACE_ONLY_SHAPES)
    return stream


def setup_query(ix: dict, seed: int):
    """The query ``setup_s`` answers on both workloads: a single mid-df
    term, so set-up time is the engine's and not a broad query's."""
    from perfbench import gen

    vocab = gen.Vocab(ix["dfs"], ix["n_docs"])
    s = gen.query_stream("search_selective", vocab, seed, 1,
                         shapes=("single",))[0]
    return gen.QuerySpec(**{**s.__dict__, "qid": "setup"})


def search_oracle_jobs(ix: dict, stream: list) -> list:
    return [([ix["corpus"]], [{**s.to_json(), "keys": s.keys}
                              for s in stream])]


def setup_engine(spark, root: str, spec, runner: Runner):
    """Set-up time, SETUP_REPEATS times: open a fresh engine over the
    index and answer its first query (loads the df mirror, stats, pyarrow
    datasets and the docs footer index).  Returns the times and the last
    engine, its caches cleared."""
    from resin_spark.executor import SearchEngine

    out = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        eng = SearchEngine(spark, root)
        runner.query(eng, spec, None)
        out.append(time.perf_counter() - t0)
        eng.clear_cache()
    return out, eng


def http_pass(server, stream, budget_s: float, runner: Runner, tracer,
              round_no: int):
    """HTTP_CLIENTS closed-loop clients POSTing the stream to /query;
    each client's order is shuffled by its number and ``round_no``."""
    url = f"http://{server.host}:{server.port}/query?collection=coll"
    lat: list[float] = []
    lock = threading.Lock()
    stop_at = time.perf_counter() + budget_s
    client_threads: set[str] = set()

    def post(spec):
        body = json.dumps(spec.query).encode()
        req = urllib.request.Request(
            f"{url}&take={spec.k}&skip={spec.skip}", data=body,
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=60) as r:
            rows = json.loads(r.read())
        return [[[x["conv_id"], int(x["turn_idx"])], float(x["score"])]
                for x in rows]

    def client(i):
        client_threads.add(threading.current_thread().name)
        order = list(stream)
        random.Random(f"{round_no}:{i}").shuffle(order)
        n = 0
        while time.perf_counter() < stop_at:
            spec = order[n % len(order)]
            n += 1
            t0 = time.perf_counter()
            try:
                if tracer:
                    with tracer.span("http.request",
                                     qid=f"http:{round_no}:{i}:{n}"):
                        res = post(spec)
                else:
                    res = post(spec)
            except Exception as e:
                with lock:
                    runner.errors.append(f"http {spec.qid}: {e}")
                continue
            dt = time.perf_counter() - t0
            with lock:
                lat.append(dt)
                runner.results.append((spec.qid, res))

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client, args=(i,))
               for i in range(HTTP_CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=budget_s + 120)
        if t.is_alive():
            raise RuntimeError("http client did not finish")
    wall = time.perf_counter() - t0
    return lat, wall, client_threads


def run_search(spark, workload, ix, stream, setup_spec, seconds, tracer,
               mark):
    from resin_spark.executor import SearchEngine
    from resin_spark.http import ResinHttpServer

    runner = Runner(spark, tracer)
    selective = workload == "search_selective"
    server = (ResinHttpServer(spark, ix["collections"]).start()
              if selective else None)
    try:
        # first-call costs (JVM codegen of each plan shape, Python
        # workers): every shape once, untimed, before set-up is timed
        # too.  search_selective runs them on the server's engine, with
        # every boolean query: its HTTP clients then find every query warm
        first = {s.shape: s for s in reversed(stream)}.values()
        boolean = [s for s in stream if s.phrase is None]
        if selective:
            warm_eng = server.engine("coll")
            warm_up = boolean + [s for s in first if s.phrase is not None]
        else:
            warm_eng, warm_up = SearchEngine(spark, ix["root"]), first
        for spec in warm_up:
            runner.query(warm_eng, spec, None)
        if not selective:
            warm_eng.clear_cache()  # its LRUs would count in the RSS
        mark("warmup_done")
        setup, eng = setup_engine(spark, ix["root"], setup_spec, runner)
        mark("setup_done")
        # the timed engine's own first use of each shape (a fresh engine's
        # first phrase query, for one, runs a Spark job), untimed
        for spec in first:
            runner.query(eng, spec, None)
        eng.clear_cache()

        t_measure = time.perf_counter()
        http = None
        if selective:
            # rounds of pairs (70%) and HTTP (30%), so every metric spans
            # the whole measured stretch, not one slice of a shared box
            lat, wall, threads = [], 0.0, set()
            for i in range(HTTP_ROUNDS):
                runner.pairs(eng, stream, seconds * 0.7 / HTTP_ROUNDS)
                r_lat, r_wall, r_threads = http_pass(
                    server, boolean, seconds * 0.3 / HTTP_ROUNDS, runner,
                    tracer, i)
                lat += r_lat
                wall += r_wall
                threads |= r_threads
            http = lat, wall, threads
        else:
            runner.pairs(eng, stream, seconds)
        measure_s = time.perf_counter() - t_measure
        mark("measure_done")

        overhead = None
        if tracer is not None:
            # warm samples again with the wrappers removed: traced -
            # untraced, over the shapes the untraced runs time
            tracer.uninstall()
            timed = [s for s in stream if s.shape not in TRACE_ONLY_SHAPES]
            plain = Runner(spark, None)
            plain.pairs(eng, timed, seconds * 0.3)
            runner.results += plain.results
            runner.errors += plain.errors
            traced = [dt for spec, dt, _ in runner.samples.get("warm", [])
                      if spec.shape not in TRACE_ONLY_SHAPES]
            overhead = (statistics.median(traced)
                        - statistics.median(plain.secs("warm")))
    finally:
        if server is not None:
            server.stop()
    return {"runner": runner, "setup": setup, "http": http,
            "measure_s": measure_s, "overhead": overhead,
            "blocks": ix["blocks"]}


# ---------------------------------------------------------------- ingest
def _batch_queries(gen_mod, vocab, batch_texts, seed, b) -> list:
    """Selective queries over mid/rare words the batch contains."""
    rng = random.Random(f"ingest:{seed}:{b}")
    ok = set(vocab.mid) | set(vocab.rare)
    words = sorted({w for t in batch_texts for w in t.split() if w in ok})
    out = []
    for i in range(INGEST_QUERIES_PER_BATCH):
        a, c = rng.sample(words, 2)
        q = [{"and": {"text": a}}, {"or": {"text": f"{a} {c}"}},
             {"and": {"text": a, "not": {"text": c}}},
             {"or": {"text": a, "tool": rng.choice(vocab.tools)}}][i % 4]
        shape = ("single", "or", "not", "multifield")[i % 4]
        out.append(gen_mod.spec(vocab, f"b{b}.{shape}.{i}", shape, q))
    return out


def run_ingest(spark, seed, tracer, detail, mark):
    """The write path, traced: ``build_index(positions=True)`` over a
    seeded corpus, ``append_docs`` batches each followed by ``refresh()``
    and reads of words the batch added, then ``compact()`` and every read
    again.  Each build, append and compact call runs under its own Spark
    job group, which the event log maps back to it."""
    import pyarrow.parquet as pq

    from resin_spark.api import append_docs
    from resin_spark.build import build_index, compact
    from resin_spark.executor import SearchEngine

    from perfbench import gen

    from pyspark.sql import functions as F

    sc = spark.sparkContext
    # one write: the base corpus is part 0, append batch b is part b + 1
    # (later rows of the same law, so new conversations)
    inputs = os.path.join(WORK, "ingest", "inputs")
    df = gen.corpus_df(spark, INGEST_TURNS, seed).withColumn("part",
                                                             F.lit(0))
    for b in range(INGEST_BATCHES):
        df = df.unionByName(gen.corpus_df(
            spark, INGEST_BATCH_TURNS, seed,
            id_base=INGEST_TURNS + b * INGEST_BATCH_TURNS,
        ).withColumn("part", F.lit(b + 1)))
    df.write.mode("overwrite").partitionBy("part").parquet(inputs)
    base = os.path.join(inputs, "part=0")
    batches = [os.path.join(inputs, f"part={b + 1}")
               for b in range(INGEST_BATCHES)]
    mark("ingest_inputs_ready")
    root = os.path.join(WORK, "ingest", "idx")

    def group(g):
        sc.setJobGroup(g, g)

    walls: dict[str, float] = {}
    group("build")
    t0 = time.perf_counter()
    build_index(spark, spark.read.parquet(base), root, positions=True)
    walls["build"] = build_s = time.perf_counter() - t0
    group("setup")
    index_bytes = dir_bytes(root)

    dfs, _ = index_meta(root)
    vocab = gen.Vocab(dfs, INGEST_TURNS)
    runner = Runner(spark, tracer)
    batch_specs = []
    for b, p in enumerate(batches):
        texts = pq.read_table(p, columns=["text"]).column("text").to_pylist()
        batch_specs.append(_batch_queries(gen, vocab, texts, seed, b))
    detail["ingest_stream"] = [s.to_json() for bs in batch_specs for s in bs]

    eng = SearchEngine(spark, root)
    append_s, raw_s = [], []
    oracle_jobs = []
    for b, p in enumerate(batches):
        group(f"append.{b}")
        t0 = time.perf_counter()
        append_docs(spark, spark.read.parquet(p), root)
        t1 = time.perf_counter()
        walls[f"append.{b}"] = t1 - t0
        append_s.append(t1 - t0)
        with tracer.span("refresh"):
            eng.refresh()
        for i, spec in enumerate(batch_specs[b]):
            if i:
                eng.clear_cache()
            dt = runner.query(eng, spec, "cold")
            if i == 0 and dt is not None:
                raw_s.append(time.perf_counter() - t1)
        oracle_jobs.append(([base] + batches[:b + 1], batch_specs[b]))
    group("compact")
    t0 = time.perf_counter()
    compact(spark, root)
    walls["compact"] = compact_s = time.perf_counter() - t0
    eng.refresh()
    post = [gen.QuerySpec(**{**s.__dict__, "qid": "compact." + s.qid})
            for bs in batch_specs for s in bs]
    for spec in post:
        eng.clear_cache()
        runner.query(eng, spec, "cold")
    oracle_jobs.append(([base] + batches, post))
    mark("ingest_done")

    import pyarrow.compute as pc

    tbl = pq.read_table(base, columns=["text", "role", "tool"])
    raw_bytes = sum(int(pc.sum(pc.binary_length(tbl.column(c))).as_py() or 0)
                    for c in ("text", "role", "tool"))
    detail["ingest"] = {
        "build_turns_per_s": INGEST_TURNS / build_s,
        "append_p50_s": statistics.median(append_s),
        "append_s": append_s,
        "read_after_write_p50_s": statistics.median(raw_s) if raw_s else None,
        "compact_s": compact_s,
        "index_bytes_per_input_byte": index_bytes / raw_bytes,
    }
    # ingest qids name their corpus state (b<k>., compact.), so each
    # answer is checked against the corpus the index held
    jobs = [(paths, [{**s.to_json(), "keys": s.keys} for s in specs])
            for paths, specs in oracle_jobs]
    return {"runner": runner, "walls": walls, "oracle_jobs": jobs}


# --------------------------------------------------------------- metrics
def end_to_end(res, rss_mb: float) -> dict:
    r = res["runner"]
    cold, warm = r.secs("cold"), r.secs("warm")
    if res["http"] is not None:
        lat, wall, _ = res["http"]
        rate = len(lat) / wall
    else:
        rate = (len(cold) + len(warm)) / res["measure_s"]
    return {
        "setup_s": statistics.median(res["setup"]),
        "cold_p50_s": statistics.median(cold),
        "warm_p50_s": statistics.median(warm),
        "rate_per_s": rate,
        "driver_peak_rss_mb": rss_mb,
    }


def per_layer(res, tracer, event_log, control):
    """(per-layer metrics, per-shape detail) of a traced run."""
    from perfbench import eventlog, gen, spans

    r = res["runner"]
    sp = tracer.spans
    st = spans.self_times(sp)
    queries = {s["qid"]: s for s in sp if s["name"] == "query"}
    samples = {tag: (spec, p) for p in ("cold", "warm")
               for spec, _, tag in r.samples.get(p, [])}
    per_q: dict[str, list] = {}
    for s in sp:
        if s["qid"] in samples and s["name"] != "query":
            per_q.setdefault(s["qid"], []).append(s)

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    def tags(p):
        return [t for t, (_, pp) in samples.items() if pp == p]

    def layer_sum(tag, prefix, attr=None):
        ss = spans.outermost(per_q.get(tag, []), prefix)
        if attr:
            return sum(s["attrs"].get(attr, 0) for s in ss)
        return sum(s["end"] - s["start"] for s in ss)

    cold_t, warm_t = tags("cold"), tags("warm")
    m: dict[str, float] = {}
    m["executor.self_s"] = mean(
        sum(st[s["id"]] for s in per_q.get(t, [])
            if s["name"].startswith("executor.")) for t in warm_t)
    # served from the caches: no postings read and no Spark job (the
    # top-k docs fetch reads Arrow on every query; nothing caches docs)
    m["cache.warm_io_free_frac"] = mean(
        1.0 if (not any(s["name"] == "io.postings_read"
                        for s in per_q.get(t, []))
                and r.jobs.get(t, (0, 0, 0))[0] == 0) else 0.0
        for t in warm_t)

    def decoded_blocks(t):
        return sum(1 for s in per_q.get(t, [])
                   if s["name"] == "postings.decode_doc_ids")

    def values_decoded(t):  # doc ids and counts; positions are extra
        return sum(s["attrs"].get("values", 0)
                   for s in spans.outermost(per_q.get(t, []), "postings.")
                   if s["name"] != "postings.decode_positions")

    def arrow_calls(t):
        return len(spans.outermost(per_q.get(t, []), "io."))

    m["postings.decode_s"] = mean(layer_sum(t, "postings.") for t in cold_t)
    m["postings.values_decoded"] = mean(values_decoded(t) for t in cold_t)
    blocks = res["blocks"]
    tot = sum(sum(blocks.get(k, 0) for k in samples[t][0].keys)
              for t in cold_t)
    m["postings.blocks_decoded_frac"] = (
        sum(decoded_blocks(t) for t in cold_t) / tot if tot else 0.0)
    m["io.postings_read_s"] = mean(layer_sum(t, "io.postings_read")
                                   for t in cold_t)
    m["io.docs_fetch_s"] = mean(layer_sum(t, "io.docs_fetch")
                                for t in cold_t)
    m["io.arrow_calls"] = mean(arrow_calls(t) for t in cold_t)
    m["io.arrow_bytes"] = mean(layer_sum(t, "io.", "bytes") for t in cold_t)
    both = cold_t + warm_t
    for i, name in enumerate(("spark.jobs", "spark.stages", "spark.tasks")):
        m[name] = mean(r.jobs.get(t, (0, 0, 0))[i] for t in both)
    m["spark.action_s"] = mean(layer_sum(t, "spark.") for t in both)

    m["http.overhead_s"] = 0.0
    if res["http"] is not None:
        client_threads = res["http"][2]
        clients = [s for s in sp if s["name"] == "http.request"]
        t_lo = min(s["start"] for s in clients)
        t_hi = max(s["end"] for s in clients)
        server = [s for s in sp if s["parent"] is None and s["qid"] is None
                  and s["start"] >= t_lo and s["end"] <= t_hi
                  and s["thread"] not in client_threads]
        m["http.overhead_s"] = (
            sum(s["end"] - s["start"] for s in clients)
            - sum(s["end"] - s["start"] for s in server)) / len(clients)

    build_keys = ("conv_dim_s", "docs_s", "tokenize_s", "encode_write_s",
                  "driver_gap_s")
    for k in build_keys + ("task_cpu_s", "gc_s", "shuffle_write_bytes",
                           "shuffle_read_bytes", "spill_bytes"):
        m[f"build.{k}"] = 0.0
    for k in ("append.task_cpu_s", "refresh.s", "compact.task_cpu_s",
              "compact.bytes_rewritten"):
        m[k] = 0.0
    ing = res.get("ingest")
    if ing is not None:
        groups = eventlog.parse(event_log)
        walls = ing["walls"]
        b = eventlog.summarize(groups.get("build", []), walls["build"])
        for k in build_keys + ("gc_s", "shuffle_write_bytes",
                               "shuffle_read_bytes", "spill_bytes"):
            m[f"build.{k}"] = b[k]
        m["build.task_cpu_s"] = b["cpu_s"]
        appends = [eventlog.summarize(groups.get(g, []), w)
                   for g, w in walls.items() if g.startswith("append.")]
        m["append.task_cpu_s"] = mean(a["cpu_s"] for a in appends)
        m["refresh.s"] = mean(s["end"] - s["start"] for s in sp
                              if s["name"] == "refresh")
        c = eventlog.summarize(groups.get("compact", []), walls["compact"])
        m["compact.task_cpu_s"] = c["cpu_s"]
        m["compact.bytes_rewritten"] = c["bytes_written"]

    by_shape = {}
    for shape in gen.SELECTIVE_SHAPES + gen.BROAD_SHAPES:
        for p, ts in (("cold", cold_t), ("warm", warm_t)):
            xs = [queries[t]["end"] - queries[t]["start"] for t in ts
                  if samples[t][0].shape == shape]
            m[f"shape.{shape}.{p}_p50_s"] = (statistics.median(xs)
                                            if xs else 0.0)
        ts = [t for t in both if samples[t][0].shape == shape]
        cold = [t for t in ts if samples[t][1] == "cold"]
        if ts:
            by_shape[shape] = {
                "spark_jobs": mean(r.jobs.get(t, (0,))[0] for t in ts),
                "cold_values_decoded": mean(values_decoded(t) for t in cold),
                "cold_arrow_calls": mean(arrow_calls(t) for t in cold)}
    m["box.dram_control_s"] = statistics.median(control)
    m["trace.overhead_warm_p50_s"] = res["overhead"] or 0.0

    # each query's layer spans (executor self time + io + postings +
    # spark) must add up to the wall the runner timed, up to the
    # tolerance: the share left over is the benchmark's own glue
    wall = {tag: dt for p in ("cold", "warm")
            for _, dt, tag in r.samples.get(p, [])}
    m["trace.max_unattributed_frac"] = max(
        (wall[t] - sum(st[s["id"]] for s in per_q.get(t, []))) / wall[t]
        for t in both)
    return m, by_shape


# ------------------------------------------------------------------ main
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "resin_spark")):
        print(f"resin_spark not found under {ROOT}: run from a source "
              "checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    for d in (WORK, os.path.join(WORK, "tmp"), CACHE, OUT):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM Spark starts (its launcher too) keeps its temp files in
    # WORK and writes no hsperfdata file to the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    from perfbench import oracle, spans

    t_start = time.perf_counter()
    marks: dict[str, float] = {}

    def mark(name):
        marks[name] = round(time.perf_counter() - t_start, 3)

    trace = bool(args.trace)
    # the traced search_selective run also drives the write path, whose
    # build stages come from the event log
    with_ingest = trace and args.workload == "search_selective"
    event_dir = os.path.join(WORK, "events") if with_ingest else None
    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace}
    control = [dram_control()]
    ix = load_search_index()
    stream, setup_spec, pending, spark = None, None, [], None

    def draw():
        # the oracle answers the stream while Spark starts (or, in a
        # checkout's first run, right after the index build)
        nonlocal stream, setup_spec, pending
        stream = draw_stream(ix, args.workload, args.seed, trace)
        setup_spec = setup_query(ix, args.seed)
        pending = oracle.start(search_oracle_jobs(ix, stream + [setup_spec]),
                               WORK, ORACLE_PROCS, "search")
        oracle.check_tokenizer([ix["corpus"]])

    tracer = None
    try:
        if ix is not None:
            draw()
        spark = make_spark(trace, event_dir)
        mark("spark_started")
        if ix is None:
            build_search_index(spark)
            ix = load_search_index()
            mark("index_built")
            draw()
        want = oracle.finish(pending)
        mark("oracle_done")
        detail["stream"] = [s.to_json() for s in stream]
        detail["stream_distinct_key_postings"] = sum(
            ix["dfs"].get(k, 0) for k in {k for s in stream for k in s.keys})
        if trace:
            tracer = spans.Tracer()
            tracer.uninstall = spans.install(tracer)
        ingest = (run_ingest(spark, args.seed, tracer, detail, mark)
                  if with_ingest else None)
        res = run_search(spark, args.workload, ix, stream, setup_spec,
                         args.seconds, tracer, mark)
        res["ingest"] = ingest
        if tracer is not None:
            tracer.uninstall()
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        app_id = spark.sparkContext.applicationId
        mark("workload_done")
    finally:
        oracle.stop(pending)
        if spark is not None:
            stop_spark(spark)
    mark("spark_stopped")
    control.append(dram_control())

    # ---- oracle check (outside every timed region)
    results, errors = list(res["runner"].results), list(res["runner"].errors)
    if ingest is not None:
        want.update(oracle.expected_topk(ingest["oracle_jobs"], WORK,
                                         ORACLE_PROCS))
        results += ingest["runner"].results
        errors += ingest["runner"].errors
    mismatches = [qid for qid, got in results
                  if qid not in want or not oracle.same_topk(got, want[qid])]
    mark("checked")
    attempted = len(results) + len(errors)
    failed = len(mismatches) + len(errors)
    r = res["runner"]
    if trace:
        metrics, detail["per_shape"] = per_layer(
            res, tracer, event_dir and os.path.join(event_dir, app_id),
            control)
        units = per_layer_units()
        if set(metrics) != set(units):
            raise RuntimeError("per-layer metrics differ from BENCHMARK.json:"
                               f" {sorted(set(metrics) ^ set(units))}")
        if metrics["trace.max_unattributed_frac"] > TRACE_TOLERANCE:
            failed += 1
            detail["trace_check"] = "spans do not account for query wall"
        spans_path = os.path.join(
            OUT, f"spans-{args.workload}-{args.seed}.jsonl")
        with open(spans_path, "w") as f:
            for s in tracer.spans:
                f.write(json.dumps({k: s[k] for k in
                                    ("id", "name", "start", "end", "parent",
                                     "qid")}) + "\n")
        detail["spans_file"] = os.path.relpath(spans_path, ROOT)
        detail["trace_tolerance"] = TRACE_TOLERANCE
    else:
        metrics = end_to_end(res, rss_mb)
        units = e2e_units()
    detail.update({
        "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted if attempted else 1.0,
        "mismatched_qids": sorted(set(mismatches))[:20],
        "errors": errors[:20],
        "dram_control_s": control,
        "timeline_s": marks,
        "setup_runs_s": res["setup"],
        "samples": {p: len(r.secs(p)) for p in ("cold", "warm")},
        "shape_p50_s": {p: {sh: statistics.median(
            [dt for spec, dt, _ in r.samples.get(p, []) if spec.shape == sh])
            for sh in dict.fromkeys(spec.shape for spec, _, _ in
                                    r.samples.get(p, []))}
            for p in ("cold", "warm")},
        "cold_tail": tail(r.secs("cold")),
        "warm_tail": tail(r.secs("warm")),
    })
    if res["http"] is not None:
        lat, wall, _ = res["http"]
        detail.update({"http_requests": len(lat),
                       "http_p50_s": statistics.median(lat),
                       "http_tail": tail(lat)})
    out_metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in metrics.items()}
    line = {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": out_metrics}
    detail["result"] = line
    with open(os.path.join(OUT, f"{args.workload}-{args.seed}-"
                                f"trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print("detail " + json.dumps({k: v for k, v in detail.items()
                                  if k not in ("stream", "ingest_stream",
                                               "result")},
                                 default=str))
    print(json.dumps(line))
    return 0


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def e2e_units() -> dict:
    return {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}


def per_layer_units() -> dict:
    return {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
