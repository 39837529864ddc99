"""Which engine calls the traced run wraps, and the per-layer metrics
derived from the spans they record.

Wrapping happens from here, on module and class attributes, so the
engine code is unchanged; calls made through a wrapped attribute record
a span (spans.Tracer). ``PER_LAYER`` is the list BENCHMARK.json names;
every traced run reports every entry, 0 where the workload never enters
that layer.
"""

from __future__ import annotations

from collections import defaultdict

from spans import descendants, self_times

KERNELS = ("taat_or", "taat_and", "blockmax_taat_or", "intersect_and")
BUILD_LABELS = {
    "count_assign_ids": "build.count_assign_ids_s",
    "blocks_write": "build.blocks_write_s",
    "docs_meta_write": "build.docs_meta_write_s",
    "blocks+docs_meta_overlapped": "build.blocks_docs_meta_overlapped_s",
    "lexicon_merge": "build.lexicon_merge_s",
}
SPARK_KEYS = (
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("python_s", "s"), ("python_start_s", "s"), ("shuffle_write_bytes", "bytes"),
    ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("task_skew", "ratio"),
)
# span names whose mean self time per call is reported as self.<name>_ms
SELF_SPANS = (
    "build.job", "build_index", "build.assign_ids", "build.merge_lexicon",
    "append_batch", "append.merge_lexicon",
    "batch_score", "batch.term_dfs", "batch.execute",
    "spark.job", "spark.stage",
    "engine.open", "http.request", "engine.search", "engine.fetch_blocks",
    "dir.fetch", "dir.lookup", "search_blocks", "decode",
    *(f"kernel.{k}" for k in KERNELS), "topk",
)

PER_LAYER: list[tuple[str, str, str]] = [
    *((m, "s", "lower") for m in BUILD_LABELS.values()),
    ("build.jobs", "count", "lower"),
    ("build.stages", "count", "lower"),
    ("build.tasks", "count", "lower"),
    ("append.jobs", "count", "lower"),
    ("append.lexicon_merge_s", "s", "lower"),
    ("append.docs_per_s", "1/s", "higher"),
    *(
        (f"spark.{phase}.{k}", u, "lower")
        for phase in ("build", "batch64") for k, u in SPARK_KEYS
    ),
    ("index.files", "count", "lower"),
    ("index.row_groups", "count", "lower"),
    ("index.blocks_bytes", "bytes", "lower"),
    ("index.lexicon_bytes", "bytes", "lower"),
    ("index.docs_meta_bytes", "bytes", "lower"),
    ("engine.open_ms", "ms", "lower"),
    ("engine.dl_store_bytes", "bytes", "lower"),
    ("dir.lookup_us", "us", "lower"),
    ("dir.rg_read_per_term", "count", "lower"),
    ("dir.rg_useful_frac", "ratio", "higher"),
    ("dir.fetch_ms", "ms", "lower"),
    ("dir.bytes_read", "bytes", "lower"),
    ("cache.term_hit_frac", "ratio", "higher"),
    ("cache.flat_hit_frac", "ratio", "higher"),
    ("decode.ms", "ms", "lower"),
    ("decode.postings", "count", "lower"),
    *((f"kernel.{k}.calls", "count", "lower") for k in KERNELS),
    *((f"kernel.{k}.ms", "ms", "lower") for k in KERNELS),
    ("kernel.postings_scored", "count", "lower"),
    ("topk.ms", "ms", "lower"),
    ("topk.candidates", "count", "lower"),
    ("http.overhead_ms", "ms", "lower"),
    ("batch.construct_ms", "ms", "lower"),
    ("batch.term_dfs_ms", "ms", "lower"),
    ("batch.execute_ms", "ms", "lower"),
    ("batch.jobs", "count", "lower"),
    ("batch.stages", "count", "lower"),
    ("batch.tasks", "count", "lower"),
    ("batch.scan_bytes", "bytes", "lower"),
    *((f"self.{n}_ms", "ms", "lower") for n in SELF_SPANS),
    ("traced.search_p50_ms", "ms", "lower"),
    ("traced.batch_p50_ms", "ms", "lower"),
    ("traced.build_s", "s", "lower"),
    ("traced.append_s", "s", "lower"),
]


# ------------------------------------------------------------- wrapping


def _count_terms(span, args, kwargs, result):
    span["n_terms"] = len(args[1])


def _lookup_hook(span, args, kwargs, result):
    span["n_terms"] = len(args[1])
    span["terms"] = list(args[1])
    span["rgs"] = [[p, rg] for (p, rg) in result]


def _open_hook(span, args, kwargs, result):
    dl = args[0].dl
    arr = getattr(dl, "arr", None)
    span["dl_bytes"] = int(arr.nbytes if arr is not None else dl.ids.nbytes + dl.dls.nbytes)


def _search_blocks_hook(span, args, kwargs, result):
    block_rows, term_dfs, query = args[0], args[1], args[6]
    span["flat_lookups"] = len(
        {t for t in query.lower().split() if t in block_rows and term_dfs.get(t)}
    )


def _decode_hook(span, args, kwargs, result):
    span["postings"] = int(len(result[0]))


def _kernel_hook(span, args, kwargs, result):
    span["postings"] = int(sum(len(e[2]) for e in args[0]))


def _topk_hook(span, args, kwargs, result):
    span["candidates"] = int(len(args[0]))


def trace_serving(tracer) -> None:
    """Wrap the interactive path inside the server process."""
    import http.server

    from web_search_engine_spark.operators import wand
    from web_search_engine_spark.plans import search

    tracer.wrap(http.server.BaseHTTPRequestHandler, "handle_one_request", "http.request")
    tracer.wrap(search.SearchEngine, "__init__", "engine.open", _open_hook)
    tracer.wrap(search.SearchEngine, "search", "engine.search")
    tracer.wrap(search.SearchEngine, "_fetch_blocks", "engine.fetch_blocks", _count_terms)
    tracer.wrap(search._BlockDirectory, "fetch", "dir.fetch", _count_terms)
    tracer.wrap(search._BlockDirectory, "_row_groups_for", "dir.lookup", _lookup_hook)
    tracer.wrap(search, "search_blocks", "search_blocks", _search_blocks_hook)
    tracer.wrap(wand, "decode_term_postings_fast", "decode", _decode_hook)
    for k in KERNELS:
        tracer.wrap(wand, k, f"kernel.{k}", _kernel_hook)
    tracer.wrap(wand, "_topk_by_score", "topk", _topk_hook)


def trace_driver(tracer) -> None:
    """Wrap the build, append and batch entry points in the driver."""
    from web_search_engine_spark.plans import build_index as bi
    from web_search_engine_spark.plans import search
    from web_search_engine_spark.sources import catalog
    from web_search_engine_spark.streaming import incremental as inc

    tracer.wrap(bi, "build_index", "build_index")
    tracer.wrap(bi, "assign_doc_ids_counted", "build.assign_ids")
    tracer.wrap(bi, "merge_lexicon", "build.merge_lexicon")
    tracer.wrap(inc, "append_batch", "append_batch")
    tracer.wrap(inc, "assign_doc_ids_counted", "append.assign_ids")
    tracer.wrap(inc, "merge_lexicon", "append.merge_lexicon")
    tracer.wrap(search, "batch_score", "batch_score")
    tracer.wrap(catalog.IndexCatalog, "term_dfs", "batch.term_dfs")


def directory_usefulness(spans: list[dict]) -> None:
    """For each dir.lookup span, count the row groups it selected that
    hold one of its terms (``useful``) and their compressed bytes
    (``bytes``), from the parquet files themselves. Run after the
    measured window, so it adds nothing to the spans' times."""
    import pyarrow.parquet as pq

    from web_search_engine_spark.plans.search import _BLOCK_COLS

    cache: dict[tuple[str, int], tuple[set, int]] = {}
    for s in spans:
        if s["name"] != "dir.lookup":
            continue
        terms = set(s.pop("terms"))
        rgs = s.pop("rgs")
        useful = nbytes = 0
        for path, rg in rgs:
            key = (path, rg)
            if key not in cache:
                pf = pq.ParquetFile(path)
                held = set(pf.read_row_group(rg, columns=["term"]).column(0).to_pylist())
                md = pf.metadata.row_group(rg)
                size = sum(
                    md.column(i).total_compressed_size
                    for i in range(md.num_columns)
                    if md.column(i).path_in_schema in _BLOCK_COLS
                )
                cache[key] = (held, size)
            held, size = cache[key]
            useful += bool(held & terms)
            nbytes += size
        s["n_rgs"], s["useful"], s["bytes"] = len(rgs), useful, nbytes


# --------------------------------------------------------------- metrics


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _frac(num, den):
    return num / den if den else 0.0


def serving_metrics(spans: list[dict]) -> dict[str, float]:
    """Per-layer metrics of the interactive path from server spans."""
    by = defaultdict(list)
    for s in spans:
        by[s["name"]].append(s)
    dur = lambda name: [(s["t1"] - s["t0"]) for s in by[name]]  # noqa: E731
    out: dict[str, float] = {}
    opens = by["engine.open"]
    out["engine.open_ms"] = mean(dur("engine.open")) * 1000
    out["engine.dl_store_bytes"] = opens[-1]["dl_bytes"] if opens else 0
    looks = by["dir.lookup"]
    n_rgs = sum(s["n_rgs"] for s in looks)
    out["dir.lookup_us"] = mean(dur("dir.lookup")) * 1e6
    out["dir.rg_read_per_term"] = _frac(n_rgs, sum(s["n_terms"] for s in looks))
    out["dir.rg_useful_frac"] = _frac(sum(s["useful"] for s in looks), n_rgs)
    out["dir.fetch_ms"] = mean(dur("dir.fetch")) * 1000
    out["dir.bytes_read"] = mean([s["bytes"] for s in looks])
    asked = sum(s["n_terms"] for s in by["engine.fetch_blocks"])
    fetched = sum(s["n_terms"] for s in by["dir.fetch"])
    out["cache.term_hit_frac"] = _frac(asked - fetched, asked)
    lookups = sum(s["flat_lookups"] for s in by["search_blocks"])
    out["cache.flat_hit_frac"] = _frac(lookups - len(by["decode"]), lookups)
    out["decode.ms"] = mean(dur("decode")) * 1000
    out["decode.postings"] = mean([s["postings"] for s in by["decode"]])
    scored = 0
    for k in KERNELS:
        name = f"kernel.{k}"
        out[f"{name}.calls"] = len(by[name])
        out[f"{name}.ms"] = mean(dur(name)) * 1000
        scored += sum(s["postings"] for s in by[name])
    out["kernel.postings_scored"] = _frac(scored, len(by["search_blocks"]))
    out["topk.ms"] = mean(dur("topk")) * 1000
    out["topk.candidates"] = mean([s["candidates"] for s in by["topk"]])
    return out


def spark_totals(stage_spans: list[dict]) -> dict[str, float]:
    out = {}
    for k, _u in SPARK_KEYS:
        if k == "task_skew":
            skews = [s["skew"] for s in stage_spans if s.get("tasks", 0) >= 2]
            out[k] = max(skews) if skews else 0.0
        else:
            src = k.replace("executor_", "")
            out[k] = sum(s.get(src, 0.0) for s in stage_spans)
    return out


def call_metrics(spans: list[dict], root_name: str) -> list[dict]:
    """For each span named ``root_name``: its duration, and the Spark
    jobs, stages, tasks and stage totals under it."""
    rows = []
    for root in (s for s in spans if s["name"] == root_name):
        under = descendants(spans, root["id"])
        stages = [s for s in under if s["name"] == "spark.stage"]
        rows.append({
            "s": root["t1"] - root["t0"],
            "jobs": sum(1 for s in under if s["name"] == "spark.job"),
            "stages": len(stages),
            "tasks": sum(s.get("tasks", 0) for s in stages),
            "input_bytes": sum(s.get("input_bytes", 0) for s in stages),
            "spark": spark_totals(stages),
            "span": root,
            "under": under,
        })
    return rows


def self_ms_by_name(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    calls: dict[str, list] = defaultdict(list)
    for s in spans:
        calls[s["name"]].append(st[s["id"]])
    return {f"self.{n}_ms": mean(calls[n]) * 1000 for n in SELF_SPANS}

