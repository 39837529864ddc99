"""Benchmark of the engine's public entry points.

    python3 perfbench/run.py --workload hot|cold --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run:

1. generates a Zipf corpus from the seed (corpus.py) and stages it as a
   parquet table with pyarrow;
2. starts a fresh ``session.get_spark`` (``session_s``, detail only),
   times ``build_index(resume=False)`` over the staged table
   (``build_s``), then ``APPENDS`` calls of
   ``streaming.incremental.append_batch``, each of a further 5% of
   generated docs (``append_s`` is the median);
3. checks the index (docs_meta dl, lexicon df, stats.json) against the
   generator;
4. times ``plans/search.batch_score`` over an ``IndexCatalog``: one
   untimed 8-query call, ``BATCH_CALLS`` timed 8-query calls
   (``batch_p50_ms``) and one 64-query call, each followed by
   ``.collect()``; then stops Spark;
5. starts a ``plans/serve.py`` server process (server.py) ``SETUPS``
   times and times each until its first correct answer (``setup_s`` is
   the median); the last one stays up;
6. runs a fixed-rate open loop (loadgen.py) against ``POST /search`` for
   ``--seconds`` (``search_p50_ms``).

The workloads differ in their queries and in the /search rate
(``RATES``, set below each workload's measured capacity, see
capacity.py). hot: a pool of 2-3 head-term queries, repeated (after one
pass that fills the server's LRUs), and the same pool in the batch
calls. cold: every query has terms no earlier query used, 1-3 mid/tail
terms per search, one head and 1-2 tail terms per batch query.

Every answer is checked against an independent BM25 (bm25_oracle.py).
The last stdout line is the result JSON; the line before it holds detail
(tails with their percentile and sample count, weather, drift, figures
that carry no bound). With ``--trace 1`` the engine calls are wrapped
(layers.py), the Spark event log is on, the result holds the per-layer
metrics and all spans go to ``.perfbench_out/``. The exit code is
nonzero when any check fails.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_DOCS = 10_000
APPENDS = 2  # append_batch calls after the build
APPEND_DOCS = N_DOCS // 20  # docs per append_batch call
SOURCE_FILES = 8
SETUPS = 5  # server starts per run
TOPK = 10
HEAD_RANKS = 64  # head terms: the 64 most frequent ranks
TAIL_MIN_RANK = 500  # tail terms: rank >= this, df >= 1
RATES = {"hot": 300.0, "cold": 32.0}  # /search requests per second, see capacity.py
BATCH_CALLS = 4  # timed 8-query batch_score calls
BATCH_SMALL, BATCH_LARGE = 8, 64  # queries per batch_score call
WORKLOADS = tuple(RATES)

E2E_UNITS = {
    "setup_s": "s",
    "build_s": "s",
    "append_s": "s",
    "index_bytes_per_input_byte": "ratio",
    "search_p50_ms": "ms",
    "batch_p50_ms": "ms",
    "server_rss_mb": "MB",
}

_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr, with seconds since start."""
    print(f"perfbench {time.perf_counter() - _T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@contextlib.contextmanager
def span(tracer, name: str):
    s = tracer.open(name) if tracer is not None else None
    try:
        yield s
    finally:
        if s is not None:
            tracer.close(s)


def steal_frac(before, after) -> float:
    """Share of CPU time the host took, between two ``_cpu_stat()``s."""
    return (after[0] - before[0]) / max(1, after[1] - before[1])


# ---------------------------------------------------------------- Spark


def start_spark(work: str, trace: bool):
    from web_search_engine_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "evlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "evlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", master=f"local[{nproc()}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and so its Python
    workers) to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ----------------------------------------------------------- index side


def stage_source(corpus, path: str) -> None:
    """The corpus as SOURCE_FILES parquet files, written without Spark so
    the build job starts on a cold JVM."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(corpus.pandas(), preserve_index=False)
    os.makedirs(path)
    step = -(-table.num_rows // SOURCE_FILES)
    for k in range(SOURCE_FILES):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:02d}.parquet"))


def index_layout(index_dir: str) -> dict:
    import pyarrow.parquet as pq

    out = {"index.files": 0, "index.row_groups": 0, "total_bytes": 0}
    for root, _dirs, files in os.walk(index_dir):
        for f in files:
            size = os.path.getsize(os.path.join(root, f))
            out["total_bytes"] += size
            if not f.endswith(".parquet"):
                continue
            out["index.files"] += 1
            table = os.path.relpath(root, index_dir).split(os.sep)[0]
            key = f"index.{table}_bytes"
            out[key] = out.get(key, 0) + size
            if table == "blocks":
                out["index.row_groups"] += pq.ParquetFile(
                    os.path.join(root, f)
                ).metadata.num_row_groups
    return out


def check_index(index_dir: str, corpora: list):
    """Compare docs_meta dl, lexicon df and stats.json with the generator.
    -> (mismatch descriptions, Oracle over the engine's doc ids)."""
    import pyarrow.dataset as pads

    from bm25_oracle import Oracle

    bad = []
    meta = pads.dataset(os.path.join(index_dir, "docs_meta"), partitioning="hive")
    meta = meta.to_table(columns=["path", "doc_id", "dl"]).to_pydict()
    by_path = {p: (d, dl) for p, d, dl in zip(meta["path"], meta["doc_id"], meta["dl"])}
    n = sum(c.n_docs for c in corpora)
    ids = np.full(n, -1, dtype=np.int64)
    j = 0
    for c in corpora:
        for i in range(c.n_docs):
            got = by_path.get(c.doc_key(c.first_doc + i)[1])
            if got is None or got[1] != c.lens[i]:
                bad.append(f"docs_meta (doc_id, dl) of doc {c.first_doc + i}: {got}")
            else:
                ids[j] = got[0]
            j += 1
    if len(meta["path"]) != n or len(set(meta["doc_id"])) != n:
        bad.append(f"docs_meta holds {len(meta['path'])} rows, expected {n} distinct ids")
    oracle = Oracle(corpora, ids)
    lex = pads.dataset(os.path.join(index_dir, "lexicon")).to_table(
        columns=["term", "df"]).to_pydict()
    for term, df in zip(lex["term"], lex["df"]):
        if oracle.term_df(term) != df:
            bad.append(f"lexicon df of {term}: {df} != {oracle.term_df(term)}")
    if len(lex["term"]) != int((oracle.df > 0).sum()):
        bad.append(f"lexicon has {len(lex['term'])} terms, expected {(oracle.df > 0).sum()}")
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    if stats["n_docs"] != n or abs(stats["avgdl"] - oracle.avgdl) > 1e-9 * oracle.avgdl:
        bad.append(f"stats n_docs/avgdl {stats['n_docs']}/{stats['avgdl']}")
    return bad[:20] + ([f"... {len(bad) - 20} more"] if len(bad) > 20 else []), oracle


def build(args, work, tracer):
    """Stage, build in a fresh session, append, check.
    Returns the open Spark session and what was built."""
    from corpus import Corpus
    from scaling_bench import _cpu_stat
    from web_search_engine_spark.plans import build_index as bi
    from web_search_engine_spark.streaming import incremental as inc

    corpora = [Corpus(N_DOCS, args.seed)]
    src_dir = os.path.join(work, "src")
    index_dir = os.path.join(work, "index")
    stage_source(corpora[0], src_dir)
    log("source staged")

    weather0 = _cpu_stat()
    out = io.StringIO()
    t0 = time.perf_counter()
    with span(tracer, "build.job"), contextlib.redirect_stdout(out):
        spark = start_spark(work, tracer is not None)
        t1 = time.perf_counter()
        bi.build_index(spark, spark.read.parquet(src_dir), index_dir, resume=False)
    t2 = time.perf_counter()
    built = {
        "spark": spark, "index_dir": index_dir, "corpora": corpora,
        "build_s": t2 - t1, "session_s": t1 - t0,
        "timing_lines": out.getvalue(), "append_s": [],
    }
    log(f"build_index: {t2 - t1:.2f}s (session {t1 - t0:.2f}s)")
    for k in range(APPENDS):
        extra = Corpus(APPEND_DOCS, args.seed, first_doc=N_DOCS + k * APPEND_DOCS)
        batch_df = spark.createDataFrame(extra.pandas())
        t0 = time.perf_counter()
        inc.append_batch(spark, batch_df, index_dir, batch_id=k)
        built["append_s"].append(time.perf_counter() - t0)
        corpora.append(extra)
    log("appends: " + ", ".join(f"{s:.2f}s" for s in built["append_s"]))
    built["build_steal_frac"] = steal_frac(weather0, _cpu_stat())
    built["problems"], built["oracle"] = check_index(index_dir, corpora)
    built["layout"] = index_layout(index_dir)
    built["input_bytes"] = sum(c.text_bytes() for c in corpora)
    log("index checked")
    return built


# --------------------------------------------------------------- queries


class Queries:
    """The run's queries. Head terms are the HEAD_RANKS most frequent
    ranks, tail terms have rank >= TAIL_MIN_RANK and df >= 1. Which head
    ranks a query uses is fixed, so every seed asks for the same mix of
    long lists; the seed picks the corpus, the order of hot requests and
    the tail terms, which come in a shuffled order and are never handed
    out twice."""

    def __init__(self, oracle, seed: int):
        from corpus import WORDS

        self.rng = np.random.default_rng([seed, 7])
        self.head = [WORDS[r] for r in range(HEAD_RANKS)]
        tail = np.flatnonzero(oracle.df[TAIL_MIN_RANK:] > 0) + TAIL_MIN_RANK
        self._tail = iter([WORDS[r] for r in self.rng.permutation(tail)])
        self._batch_calls = 0
        # query i: ranks i, 16 + i and, for odd i, 32 + i; a quarter AND
        self.pool = [
            {"query": " ".join(self.head[r] for r in range(i, 48, 16)[:2 + i % 2]),
             "mode": "AND" if i % 4 == 3 else "OR", "topk": TOPK}
            for i in range(16)
        ]

    def tail(self, k: int) -> list[str]:
        try:
            return [next(self._tail) for _ in range(k)]
        except StopIteration:
            raise RuntimeError("corpus has too few distinct tail terms") from None

    def searches(self, workload: str, n: int) -> list[dict]:
        if workload == "hot":
            return [self.pool[i] for i in self.rng.integers(0, len(self.pool), n)]
        # 1, 2, 3, 1, ... unused tail terms; a quarter AND
        return [{"query": " ".join(self.tail(1 + i % 3)),
                 "mode": "AND" if i % 4 == 3 else "OR", "topk": TOPK} for i in range(n)]

    def batch(self, workload: str, size: int) -> list[tuple[str, str]]:
        """hot: the pool in order. cold: query i of call c joins head rank
        (8 i + c) mod 64, so each call spans the whole head, with one or
        two unused tail terms."""
        c = self._batch_calls
        self._batch_calls += 1
        if workload == "hot":
            texts = [self.pool[i % len(self.pool)]["query"] for i in range(size)]
        else:
            texts = [" ".join([self.head[(8 * i + c) % HEAD_RANKS], *self.tail(1 + i % 2)])
                     for i in range(size)]
        return [(f"q{i}", t) for i, t in enumerate(texts)]


# ---------------------------------------------------------------- batch


def run_batch(args, built, queries, tracer):
    """The batch_score calls; the session stays open."""
    from bm25_oracle import same_results
    from scaling_bench import _cpu_stat
    from web_search_engine_spark.plans import search
    from web_search_engine_spark.sources.catalog import IndexCatalog

    oracle = built["oracle"]
    catalog = IndexCatalog(built["spark"], built["index_dir"])

    def call(size):
        qs = queries.batch(args.workload, size)
        with span(tracer, f"batch.call{size}"):
            t0 = time.perf_counter()
            df = search.batch_score(catalog, qs, mode="OR", topk=TOPK)
            t1 = time.perf_counter()
            with span(tracer, "batch.execute"):
                rows = df.collect()
            t2 = time.perf_counter()
        got = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        bad = [q for qid, q in qs
               if not same_results(got.get(qid, []), oracle.search(q, "OR", TOPK, rounded=True))]
        return {"construct_s": t1 - t0, "s": t2 - t0, "bad": bad}

    first = call(BATCH_SMALL)  # the read path's first use in this session
    weather0 = _cpu_stat()
    calls = [call(BATCH_SMALL) for _ in range(BATCH_CALLS)]
    weather1 = _cpu_stat()
    large = call(BATCH_LARGE)
    done = [first, *calls, large]
    log("batch calls: " + ", ".join(f"{c['s']:.2f}s" for c in done))
    return {
        "ms": [c["s"] * 1000 for c in calls],
        "attempted": len(done),
        "failed": sum(1 for c in done if c["bad"]),
        "mismatches": [q for c in done for q in c["bad"]][:5],
        "detail": {
            "batch_first_s": first["s"],
            "batch_qps": BATCH_LARGE / large["s"],
            "batch_large_construct_s": large["construct_s"],
            "batch_steal_frac": steal_frac(weather0, weather1),
        },
    }


# ---------------------------------------------------------------- serve


def _rss_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(proc) -> None:
    proc.send_signal(signal.SIGTERM)
    try:
        proc.wait(timeout=120)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def start_server(work, index_dir, k, probe, want, trace_file):
    """Spawn server k and wait for a correct answer to ``probe``.
    -> (process, port, seconds to that answer, answer correct)."""
    from bm25_oracle import same_results
    from loadgen import post_once

    port_file = os.path.join(work, f"port{k}")
    cmd = [sys.executable, os.path.join(HERE, "server.py"),
           "--index", index_dir, "--port-file", port_file]
    if trace_file:
        cmd += ["--trace", trace_file]
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL)
    try:
        while not os.path.exists(port_file):
            if proc.poll() is not None or time.perf_counter() - t0 > 120:
                raise RuntimeError("search server did not start")
            time.sleep(0.002)
        with open(port_file) as f:
            port = int(f.read())
        status, body = post_once("127.0.0.1", port, probe)
        elapsed = time.perf_counter() - t0
    except BaseException:
        _stop(proc)
        raise
    ok = status == 200 and same_results(
        [(r["doc_id"], r["score"]) for r in body["results"]], want)
    return proc, port, elapsed, ok


def run_serve(args, work, built, queries, trace_file):
    from bm25_oracle import same_results
    from loadgen import post_once, run_open_loop
    from scaling_bench import _cpu_stat

    oracle = built["oracle"]
    reqs = queries.searches(args.workload, int(RATES[args.workload] * args.seconds))
    probe = queries.pool[0]  # head terms only: never one of the cold terms
    want = oracle.search(probe["query"], probe["mode"], TOPK, rounded=False)

    setups, failed = [], 0
    for k in range(SETUPS):
        last = k == SETUPS - 1
        proc, port, elapsed, ok = start_server(
            work, built["index_dir"], k, probe, want, trace_file if last else None)
        setups.append(elapsed)
        failed += not ok
        if not last:
            _stop(proc)
    log(f"servers answered after {', '.join(f'{s:.2f}s' for s in setups)}")
    try:
        if args.workload == "hot":
            for q in queries.pool:  # fill both LRUs before timing
                post_once("127.0.0.1", port, q)
        weather0 = _cpu_stat()
        t_measure = time.time()
        results = run_open_loop("127.0.0.1", port, reqs, RATES[args.workload], nproc())
        weather1 = _cpu_stat()
        rss_mb = _rss_peak_mb(proc.pid)
        log("open loop finished")
    finally:
        _stop(proc)

    mism = []
    for req, res in zip(reqs, results):
        ok = res["status"] == 200
        if ok:
            got = [(r["doc_id"], r["score"]) for r in res["body"]["results"]]
            ok = same_results(got, oracle.search(req["query"], req["mode"], TOPK, rounded=False))
            if not ok and len(mism) < 5:
                mism.append(req)
        failed += not ok
    lat = [r["latency_ms"] for r in results]
    q = max(1, len(lat) // 4)
    return {
        "setup_s": setups,
        "ms": lat,
        "attempted": len(reqs) + SETUPS,
        "failed": failed,
        "mismatches": mism,
        "rss_mb": rss_mb,
        "t_measure": t_measure,
        "http_overhead_ms": [
            r["service_ms"] - r["body"]["search_ms"] for r in results if r["body"]
        ],
        "detail": {
            "rate_per_s": RATES[args.workload],
            "max_conns": nproc(),
            "late_p50_ms": statistics.median([r["late_ms"] for r in results]),
            "late_max_ms": max(r["late_ms"] for r in results),
            "steal_frac": steal_frac(weather0, weather1),
            "p50_first_quarter_ms": statistics.median(lat[:q]),
            "p50_last_quarter_ms": statistics.median(lat[-q:]),
        },
    }


# --------------------------------------------------------------- traced


def layer_metrics(args, work, built, tracer, trace_file, served_res, batch_res):
    import layers
    from spans import attach, spark_spans

    spans = list(tracer.spans)
    sp = spark_spans(os.path.join(work, "evlog"), first_id=10**9)
    attach(sp, spans)
    spans += sp
    m = {name: 0.0 for name, _u, _b in layers.PER_LAYER}

    timings: dict[str, float] = {}
    for line in built["timing_lines"].splitlines():
        parts = line.split()
        if len(parts) == 3 and parts[0] == "BUILD_TIMING":
            timings[parts[1]] = timings.get(parts[1], 0.0) + float(parts[2])
    for label, metric in layers.BUILD_LABELS.items():
        m[metric] = timings.get(label, 0.0)
    (bld,) = layers.call_metrics(spans, "build_index")
    for key in ("jobs", "stages", "tasks"):
        m[f"build.{key}"] = bld[key]
    for k, _u in layers.SPARK_KEYS:
        m[f"spark.build.{k}"] = bld["spark"][k]
    apps = layers.call_metrics(spans, "append_batch")
    m["append.jobs"] = layers.mean([a["jobs"] for a in apps])
    m["append.docs_per_s"] = APPEND_DOCS / layers.mean([a["s"] for a in apps])
    m["append.lexicon_merge_s"] = layers.mean([
        sum(s["t1"] - s["t0"] for s in a["under"] if s["name"] == "append.merge_lexicon")
        for a in apps])
    m.update({k: v for k, v in built["layout"].items() if k in m})

    calls = layers.call_metrics(spans, f"batch.call{BATCH_SMALL}")[1:]  # the timed ones

    def dur(c, name):
        return sum(s["t1"] - s["t0"] for s in c["under"] if s["name"] == name)

    m["batch.construct_ms"] = layers.mean([dur(c, "batch_score") for c in calls]) * 1000
    m["batch.term_dfs_ms"] = layers.mean([dur(c, "batch.term_dfs") for c in calls]) * 1000
    m["batch.execute_ms"] = layers.mean([dur(c, "batch.execute") for c in calls]) * 1000
    for key in ("jobs", "stages", "tasks"):
        m[f"batch.{key}"] = layers.mean([c[key] for c in calls])
    m["batch.scan_bytes"] = layers.mean([c["input_bytes"] for c in calls])
    (large,) = layers.call_metrics(spans, f"batch.call{BATCH_LARGE}")
    for k, _u in layers.SPARK_KEYS:
        m[f"spark.batch64.{k}"] = large["spark"][k]

    with open(trace_file) as f:
        served = json.load(f)
    # requests of the measured window only, plus the engine open
    roots = {s["id"] for s in served
             if s["parent"] is None and s["t0"] >= served_res["t_measure"]}
    served = [s for s in served if s["req"] in roots or s["name"] == "engine.open"]
    for s in served:  # server span ids restart at 1: move them clear of ours
        for key in ("id", "parent", "req"):
            if s[key] is not None:
                s[key] += 2 * 10**9
    m.update(layers.serving_metrics(served))
    m["http.overhead_ms"] = statistics.median(served_res["http_overhead_ms"])
    spans += served
    m.update(layers.self_ms_by_name(spans))
    m["traced.search_p50_ms"] = statistics.median(served_res["ms"])
    m["traced.batch_p50_ms"] = statistics.median(batch_res["ms"])
    m["traced.build_s"] = built["build_s"]
    m["traced.append_s"] = statistics.median(built["append_s"])

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
        json.dump({"metrics": m, "spans": spans}, f)
    return m


# ----------------------------------------------------------------- main


def run(args, work) -> tuple[dict, dict]:
    from spans import Tracer, tail_percentile

    tracer = None
    if args.trace:
        import layers

        os.environ["WSE_BUILD_TIMINGS"] = "1"
        tracer = Tracer()
        layers.trace_driver(tracer)
    try:
        built = build(args, work, tracer)
        queries = Queries(built["oracle"], args.seed)
        batch_res = run_batch(args, built, queries, tracer)
    finally:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            stop_spark(active)
    trace_file = os.path.join(work, "server-trace.json") if args.trace else None
    served_res = run_serve(args, work, built, queries, trace_file)
    log("workload finished")

    tail = tail_percentile(served_res["ms"])
    attempted = served_res["attempted"] + batch_res["attempted"] + 1
    failed = served_res["failed"] + batch_res["failed"] + (1 if built["problems"] else 0)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "n_docs": sum(c.n_docs for c in built["corpora"]),
        "setup_s_each": served_res["setup_s"],
        "session_s": built["session_s"],
        "build_steal_frac": built["build_steal_frac"],
        "index_bytes": built["layout"]["total_bytes"], "input_bytes": built["input_bytes"],
        "append_s_each": built["append_s"],
        "searches": len(served_res["ms"]),
        "search_tail": (
            {"percentile": tail[0], "ms": tail[1], "n": tail[2]} if tail else None
        ),
        "batch_ms_each": batch_res["ms"],
        "error_frac": failed / attempted,
        "index_problems": built["problems"],
        "result_mismatches": served_res["mismatches"] + batch_res["mismatches"],
        **batch_res["detail"],
        **served_res["detail"],
    }
    if args.trace:
        import layers

        metrics = layer_metrics(args, work, built, tracer, trace_file, served_res, batch_res)
        units = {name: unit for name, unit, _b in layers.PER_LAYER}
    else:
        metrics = {
            "setup_s": statistics.median(served_res["setup_s"]),
            "build_s": built["build_s"],
            "append_s": statistics.median(built["append_s"]),
            "index_bytes_per_input_byte":
                built["layout"]["total_bytes"] / built["input_bytes"],
            "search_p50_ms": statistics.median(served_res["ms"]),
            "batch_p50_ms": statistics.median(batch_res["ms"]),
            "server_rss_mb": served_res["rss_mb"],
        }
        units = E2E_UNITS
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, detail


def make_work_dir(name: str) -> str:
    """A fresh work directory under the checkout, with the engine on
    sys.path and every temporary file of Spark and Python kept inside."""
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")  # wins over spark.local.dir
    # spark-submit's launcher JVM would otherwise write under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    return work


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM still stops the server and the JVM and removes the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "web_search_engine_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    work = make_work_dir(f"{args.workload}-{args.seed}")
    try:
        result, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log("done")
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
