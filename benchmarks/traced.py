"""Traced run (``--trace 1``): per-layer metrics, measured apart from the
untraced run that gives the end-to-end metrics.

The workload's op is re-expressed as sequential, materialized calls to the
program's public functions, each under a span (``spans.Tracer``): every
stage's output is written and read back, and the span pass runs after the
signatures -> candidates -> verify chain instead of beside it, so each
layer's self time stands alone. The same op also runs untraced in this
run; the difference is reported as ``trace.overhead_s``.

Every per-layer metric is measured on every workload. Layers the
workload's op does not call are measured on the workload's inputs all the
same, so a figure reads as "this layer on these inputs":

- crawl_mixed: the pipeline op untraced, then traced; the incremental
  layer ingests the corpus (half as base state, then two small batches);
  ``fuzzy_match`` runs a few needles against the corpus's URLs.
- fuzzy_lookup: the query op untraced, then traced; the dedup chain and
  the incremental layer run on a small seeded crawl corpus.

Kernel probes call the ``functions`` kernels directly, in this process
and outside Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np

import gen
import workloads as W
from spans import EventLog, Tracer

PER_LAYER = {
    "session.get_spark_s": "s", "session.first_job_s": "s",
    "dedup.documents.self_s": "s",
    "dedup.signatures.self_s": "s", "dedup.signatures.docs_per_s": "1/s",
    "dedup.candidates.self_s": "s", "dedup.candidates.pairs": "count",
    "dedup.candidates.shuffle_mb": "MB", "dedup.candidates.task_skew": "ratio",
    "dedup.verify.self_s": "s", "dedup.verify.pairs_in": "count",
    "dedup.verify.exact_ratio": "ratio", "dedup.verify.accept_ratio": "ratio",
    "dedup.span.self_s": "s", "dedup.span.pairs": "count",
    "dedup.canonical.self_s": "s",
    "dedup.chain_main_s": "s", "dedup.chain_span_s": "s",
    "components.self_s": "s", "components.edges_in": "count", "components.clusters": "count",
    "hashing.signature_mb_per_s": "MB/s",
    "wavefront.band_cells_per_s": "1/s", "wavefront.dp_cells_per_s": "1/s",
    "incremental.state_read_s": "s", "incremental.probe_s": "s", "incremental.verify_s": "s",
    "incremental.write_s": "s", "incremental.state_rows": "count",
    "fuzzy.self_s": "s", "fuzzy.rows_scanned": "count", "fuzzy.matches": "count",
    "pipeline.checkpoint_mb": "MB", "pipeline.spark_jobs": "count",
    "pipeline.spark_tasks": "count", "pipeline.driver_gap_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.spill_mb": "MB",
    "trace.overhead_s": "s",
}

SWEEP_DOCS = 300        # crawl corpus the fuzzy_lookup traced run sweeps
INC_BATCHES = 2         # traced incremental batches after the base state
QUERIES = 3             # fuzzy_lookup ops, once untraced and once traced
PROBE_NEEDLES = 3       # fuzzy_match needles against crawl_mixed's URLs
PROBE_REPEATS = 3


class Run:
    def __init__(self, ctx: W.Ctx, tracer: Tracer):
        self.ctx, self.tracer = ctx, tracer
        self.m: dict[str, float] = {}
        self.windows: list[tuple[float, float]] = []  # untraced ops, wall clock
        self.checks: list[bool] = []

    def untraced(self, fn):
        t0 = time.time()
        out = fn()
        self.windows.append((t0, time.time()))
        return out


# --------------------------------------------------------------------------
# dedup chain, re-expressed
# --------------------------------------------------------------------------

def dedup_op(run: Run, src_dir: str, crawl: gen.Crawl, op: str) -> tuple[float, str]:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from frizbee_spark.operators.components import assign_clusters
    from frizbee_spark.operators.dedup import (
        DEFAULT_DEDUP as d, compute_signatures, extract_text, normalize_text,
        span_extents, unified_candidate_pairs, verify_pairs, winnow_span_pairs, with_doc_id)
    from frizbee_spark.util import release_tracked
    import pyarrow.parquet as pq

    spark, tr = run.ctx.spark, run.tracer
    wd = os.path.join(run.ctx.work, "traced", op)
    shutil.rmtree(wd, ignore_errors=True)

    def mat(df, name):
        path = os.path.join(wd, name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path), W.parquet_rows(path)

    try:
        with tr.span("op", op) as root:
            with tr.span("dedup.documents", op) as s:
                src = spark.read.parquet(os.path.join(src_dir, "documents.parquet"))
                work = with_doc_id(normalize_text(extract_text(src), "extracted_text"), "url")
                docs, s["counts"]["docs"] = mat(
                    work.select("doc_id", "url", "warc_ts", "text", "norm_text"), "documents")
            with tr.span("dedup.signatures", op) as s:
                sigs, s["counts"]["docs"] = mat(compute_signatures(docs, d), "signatures")
            with tr.span("dedup.candidates", op) as s:
                cand, s["counts"]["pairs"] = mat(
                    unified_candidate_pairs(sigs, d, include_simhash=True), "candidates")
            with tr.span("dedup.verify", op) as s:
                ver, n = mat(verify_pairs(cand, docs, d, signatures=sigs), "verified")
                t = pq.read_table(os.path.join(wd, "verified"), columns=["exact", "verified"])
                accepted = int(np.sum(t["verified"].to_numpy()))
                s["counts"].update(pairs_in=n, exact=int(np.sum(t["exact"].to_numpy())),
                                   accepted=accepted)
            with tr.span("dedup.span", op) as s:
                sp, s["counts"]["pairs"] = mat(winnow_span_pairs(docs, d, keep_witness=True), "span_pairs")
                mat(span_extents(docs, d, span_pairs=sp), "span_report")
            with tr.span("components", op) as s:
                edges = ver.filter("verified").select("a", "b")
                clusters, _ = mat(assign_clusters(docs, edges), "clusters")
                ids = pq.read_table(os.path.join(wd, "clusters"), columns=["cluster_id"])
                s["counts"].update(edges_in=accepted,
                                   clusters=len(set(ids["cluster_id"].to_pylist())))
            with tr.span("dedup.canonical", op):
                w = Window.partitionBy("cluster_id").orderBy(F.asc("warc_ts"), F.asc("url"))
                mat(docs.join(clusters, "doc_id").withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1).drop("_rn", "norm_text"), "canonical")
    finally:
        release_tracked()
    ok, q = W.crawl_check(wd, crawl)
    run.checks.append(ok)
    W.emit({"series": "trace", "op": op, "check": q, "ok": ok})
    return root["dur"], wd


def dedup_metrics(run: Run, op: str, ev: EventLog) -> None:
    tr, m = run.tracer, run.m

    def one(name):
        return tr.find(name, op)[0]

    for name in ("dedup.documents", "dedup.signatures", "dedup.candidates", "dedup.verify",
                 "dedup.span", "dedup.canonical", "components"):
        m[f"{name}.self_s"] = tr.self_s(one(name))
    sig, cand, ver = one("dedup.signatures"), one("dedup.candidates"), one("dedup.verify")
    m["dedup.signatures.docs_per_s"] = sig["counts"]["docs"] / m["dedup.signatures.self_s"]
    m["dedup.candidates.pairs"] = cand["counts"]["pairs"]
    tasks = ev.by_description("dedup.candidates")
    m["dedup.candidates.shuffle_mb"] = sum(t["shuffle_write_mb"] for t in tasks)
    durs = [t["finish_ms"] - t["launch_ms"] for t in tasks if t["finish_ms"] > t["launch_ms"]]
    m["dedup.candidates.task_skew"] = max(durs) / statistics.median(durs) if durs else 1.0
    n_in = ver["counts"]["pairs_in"]
    m["dedup.verify.pairs_in"] = n_in
    m["dedup.verify.exact_ratio"] = ver["counts"]["exact"] / n_in if n_in else 0.0
    m["dedup.verify.accept_ratio"] = ver["counts"]["accepted"] / n_in if n_in else 0.0
    m["dedup.span.pairs"] = one("dedup.span")["counts"]["pairs"]
    m["dedup.chain_main_s"] = sig["dur"] + cand["dur"] + ver["dur"]
    m["dedup.chain_span_s"] = one("dedup.span")["dur"]
    comp = one("components")["counts"]
    m["components.edges_in"], m["components.clusters"] = comp["edges_in"], comp["clusters"]


# --------------------------------------------------------------------------
# incremental ingest, re-expressed per batch
# --------------------------------------------------------------------------

def incremental_phase(run: Run, crawl: gen.Crawl) -> None:
    from pyspark.sql import functions as F

    from frizbee_spark.operators.dedup import normalize_text, with_doc_id
    from frizbee_spark.streaming.incremental import (
        incremental_dedup_batch, make_batch_processor, verify_increment)
    from frizbee_spark.util import release_tracked

    ctx, tr, spark = run.ctx, run.tracer, run.ctx.spark
    state = os.path.join(ctx.work, "inc_state")
    n_base, size = crawl.n // 5, crawl.n // 20
    bounds = [(0, n_base)] + [(n_base + i * size, n_base + (i + 1) * size) for i in range(INC_BATCHES)]
    srcs = [crawl.slice(lo, hi).write(os.path.join(ctx.work, "inc_src", str(b)), ctx.seed)
            for b, (lo, hi) in enumerate(bounds)]

    def batch(b):
        return spark.read.parquet(os.path.join(srcs[b], "documents.parquet"))

    make_batch_processor(spark, state)(batch(0), 0)  # the base state, untraced
    for b in range(1, len(bounds)):
        op = f"inc{b}"
        held = []
        try:
            with tr.span("incremental.batch", op):
                with tr.span("incremental.state_read", op) as s:
                    existing = spark.read.parquet(*[os.path.join(state, "signatures", f"batch_id={i}")
                                                    for i in range(b)]).persist()
                    old_docs = spark.read.parquet(*[os.path.join(state, "docs", f"batch_id={i}")
                                                    for i in range(b)]).persist()
                    held += [existing, old_docs]
                    s["counts"]["state_rows"] = existing.count()
                    old_docs.count()
                with tr.span("incremental.probe", op) as s:
                    new_docs = with_doc_id(normalize_text(batch(b), "text"), "url") \
                        .select("doc_id", "url", "norm_text").persist()
                    new_sigs, cand, all_sigs = incremental_dedup_batch(new_docs, existing)
                    new_sigs, cand = new_sigs.persist(), cand.persist()
                    held += [new_docs, new_sigs, cand]
                    s["counts"]["pairs"] = cand.count()
                    new_sigs.count()
                with tr.span("incremental.verify", op) as s:
                    lookup = new_docs.select("doc_id", "norm_text").unionByName(
                        old_docs.select("doc_id", "norm_text"))
                    edges = verify_increment(cand, lookup, all_sigs).persist()
                    held.append(edges)
                    s["counts"]["edges"] = edges.count()
                with tr.span("incremental.write", op):
                    sub = f"batch_id={b}"
                    edges.write.mode("overwrite").parquet(os.path.join(state, "edges", sub))
                    new_sigs.write.mode("overwrite").parquet(os.path.join(state, "signatures", sub))
                    new_docs.select("doc_id", "norm_text").write.mode("overwrite") \
                        .parquet(os.path.join(state, "docs", sub))
        finally:
            for df in held:
                df.unpersist()
            release_tracked()

    # check: truth exact+near pairs among ingested rows, connected by edges
    ingested = crawl.prefix(bounds[-1][1])
    ids = dict(spark.createDataFrame([(u,) for u in ingested.urls], "url string")
               .select("url", F.xxhash64("url").alias("id")).collect())
    import pyarrow.parquet as pq

    edges = pq.read_table(os.path.join(state, "edges")).to_pydict()
    parent: dict[int, int] = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in zip(edges["a"], edges["b"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    pairs = ingested.dup_pairs()
    recall = sum(find(ids[a]) == find(ids[b]) for a, b in pairs) / len(pairs) if pairs else 1.0
    ok = recall >= W.RECALL_FLOOR
    run.checks.append(ok)
    W.emit({"series": "trace", "op": "incremental", "recall": recall, "ok": ok})

    batches = [s for s in tr.spans if s["name"] == "incremental.batch"]
    for key in ("state_read", "probe", "verify", "write"):
        run.m[f"incremental.{key}_s"] = statistics.median(
            tr.self_s(s) for s in tr.spans if s["name"] == f"incremental.{key}")
    run.m["incremental.state_rows"] = tr.find("incremental.state_read", batches[-1]["op"])[0]["counts"]["state_rows"]


# --------------------------------------------------------------------------
# fuzzy queries
# --------------------------------------------------------------------------

def traced_queries(run: Run, df, needles: list[gen.Needle], strings: list[str], prefix: str) -> list[float]:
    lens = np.fromiter((len(s.encode()) for s in strings), dtype=np.int64, count=len(strings))
    durs = []
    for i, nd in enumerate(needles):
        with run.tracer.span("fuzzy", f"{prefix}{i}") as s:
            rows = W.fuzzy_query(df, nd)
        s["counts"].update(rows_scanned=int(np.sum(lens >= len(nd.text.encode()) - nd.max_typos)),
                           matches=len(rows))
        durs.append(s["dur"])
        equal, returned, truth_ok = W.fuzzy_row_check(nd, rows, strings)
        run.checks.append(equal == returned and truth_ok)
    fz = run.tracer.find("fuzzy")
    run.m["fuzzy.self_s"] = statistics.median(run.tracer.self_s(s) for s in fz)
    run.m["fuzzy.rows_scanned"] = statistics.median(s["counts"]["rows_scanned"] for s in fz)
    run.m["fuzzy.matches"] = statistics.median(s["counts"]["matches"] for s in fz)
    return durs


# --------------------------------------------------------------------------
# kernel probes (in process, outside Spark)
# --------------------------------------------------------------------------

def _median_time(fn) -> float:
    ts = []
    for _ in range(PROBE_REPEATS):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def band_cells(n: int, w: int, r: int) -> int:
    i = np.arange(n)
    return int(np.maximum(np.minimum(w, i + r + 1) - np.maximum(0, i - r), 0).sum())


def kernel_probes(run: Run, texts: list[str], traced_wd: str, needles, strings) -> None:
    import pyarrow.parquet as pq

    from frizbee_spark.functions.hashing import compute_signature_arrays
    from frizbee_spark.functions.wavefront import sw_batch, sw_score_banded
    from frizbee_spark.operators.dedup import DEFAULT_DEDUP as d, SHORT_BAND_SEED

    blobs, total = [], 0
    for t in texts:
        if total > 2e6:
            break
        b = " ".join(t.split()).lower().encode()
        blobs.append(b)
        total += len(b)
    run.m["hashing.signature_mb_per_s"] = total / 1e6 / _median_time(lambda: compute_signature_arrays(
        blobs, d.shingle_k, d.num_perm, d.bands, d.band_rows,
        short_tier=(d.short_bands, d.short_band_rows, SHORT_BAND_SEED)))

    docs = pq.read_table(os.path.join(traced_wd, "documents"), columns=["doc_id", "norm_text"]).to_pydict()
    text_of = dict(zip(docs["doc_id"], docs["norm_text"]))
    cand = pq.read_table(os.path.join(traced_wd, "candidates")).to_pydict()
    pairs = [(text_of[a].encode(), text_of[b].encode()) for a, b in zip(cand["a"], cand["b"])
             if text_of[a] != text_of[b]]
    rng = gen._rng(run.ctx.seed, 50)
    pick = [pairs[i] for i in rng.choice(len(pairs), size=min(64, len(pairs)), replace=False)]
    if pick:
        a, b = [p[0] for p in pick], [p[1] for p in pick]
        cells = sum(band_cells(len(x), len(y), d.band_radius) for x, y in pick)
        run.m["wavefront.band_cells_per_s"] = cells / _median_time(
            lambda: sw_score_banded(a, b, band_radius=d.band_radius, assume_folded=True))
    else:
        run.m["wavefront.band_cells_per_s"] = 0.0

    hs = [s.encode() for s in strings[:500]]
    nbs = [n.text.encode() for n in needles[:4]]
    cells = sum(len(nb) * len(h) for nb in nbs for h in hs)
    run.m["wavefront.dp_cells_per_s"] = cells / _median_time(
        lambda: [sw_batch([nb] * len(hs), hs) for nb in nbs])


# --------------------------------------------------------------------------
# the two traced runs
# --------------------------------------------------------------------------

def crawl_trace(run: Run) -> None:
    ctx = run.ctx
    crawl, input_dir = W.crawl_inputs(ctx)
    wd = os.path.join(ctx.work, "pipe")
    W.pipeline_op(ctx, input_dir, wd)
    u_s = run.untraced(lambda: W.pipeline_op(ctx, input_dir, wd))
    ok, q = W.crawl_check(wd, crawl)
    run.checks.append(ok)
    W.emit({"series": "trace", "op": "untraced", "op_s": u_s, "check": q, "ok": ok})
    run.m["pipeline.checkpoint_mb"] = W.dir_mb(wd)
    t_s, traced_wd = dedup_op(run, input_dir, crawl, "t1")
    run.m["trace.overhead_s"] = t_s - u_s
    incremental_phase(run, crawl)
    needles = gen.needles(ctx.seed, crawl.urls, PROBE_NEEDLES, stream=9)
    df = W.haystack_df(ctx, crawl.urls).repartition(ctx.cores).cache()
    df.count()
    traced_queries(run, df, needles, crawl.urls, "fz")
    df.unpersist()
    kernel_probes(run, crawl.texts, traced_wd, needles, crawl.urls)


def fuzzy_trace(run: Run) -> None:
    ctx = run.ctx
    hay, warm, timed, df = W.fuzzy_inputs(ctx)
    for nd in warm:
        W.fuzzy_query(df, nd)
    needles = timed[:QUERIES]
    u = []
    for nd in needles:
        t0 = time.perf_counter()
        rows = run.untraced(lambda: W.fuzzy_query(df, nd))
        u.append(time.perf_counter() - t0)
        equal, returned, truth_ok = W.fuzzy_row_check(nd, rows, hay)
        run.checks.append(equal == returned and truth_ok)
    t = traced_queries(run, df, needles, hay, "q")
    df.unpersist()
    run.m["trace.overhead_s"] = statistics.median(t) - statistics.median(u)
    run.m["pipeline.checkpoint_mb"] = 0.0  # a query writes no checkpoint
    sweep = gen.crawl_corpus(ctx.seed, SWEEP_DOCS)
    src = sweep.write(os.path.join(ctx.work, "input", "sweep"), ctx.seed)
    _, traced_wd = dedup_op(run, src, sweep, "t1")
    incremental_phase(run, sweep)
    kernel_probes(run, sweep.texts, traced_wd, needles, hay)


def run(args, work: str, cores: int, start_spark, stop_spark) -> dict:
    ev_dir = os.path.join(work, "eventlog")
    spark, get_s, job_s = start_spark(work, cores, event_log=ev_dir)
    tracer = Tracer(spark)
    r = Run(W.Ctx(spark, work, args.seed, args.seconds, cores), tracer)
    r.m.update({"session.get_spark_s": get_s, "session.first_job_s": job_s})
    try:
        (crawl_trace if args.workload == "crawl_mixed" else fuzzy_trace)(r)
    finally:
        stop_spark(spark)  # also closes the event log
    ev = EventLog(ev_dir)
    dedup_metrics(r, "t1", ev)
    per_op = [ev.window(a, b) for a, b in r.windows]
    for key, name in (("spark_jobs", "pipeline.spark_jobs"), ("spark_tasks", "pipeline.spark_tasks"),
                      ("driver_gap_s", "pipeline.driver_gap_s"),
                      ("executor_cpu_s", "spark.executor_cpu_s"), ("gc_s", "spark.gc_s"),
                      ("spill_mb", "spark.spill_mb")):
        r.m[name] = statistics.median(w[key] for w in per_op)
    print(json.dumps({"series": "trace", "spans": tracer.spans}), flush=True)
    missing = set(PER_LAYER) - set(r.m)
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
    return {"attempted": len(r.checks), "failed": r.checks.count(False),
            "metrics": {k: {"value": float(r.m[k]), "unit": u} for k, u in PER_LAYER.items()}}
