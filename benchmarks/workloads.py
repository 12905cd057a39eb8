"""The two workloads and their correctness checks (untraced runs).

Both are closed loops with one client: the next op is submitted only
after the previous one returned, from one driver process, on
``local[<cores>]``. Op times exclude the checks, which run between ops.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import traceback

import numpy as np

import gen
import host

# crawl_mixed sizes, bounded by the time the whole benchmark may take. A
# warm 2000-doc op takes ~15-17 s on 4 vCPUs, about 9 s of it per-op
# fixed cost (stage jobs, checkpoint writes and read-backs); the rest is
# signatures, candidates, SW verify, the span pass and clustering. A
# session's first op costs ~20 s more whatever its size (JIT, Python
# worker start), and after a 100-doc warm-up op the next op was still
# 15-30% slower than the one after it; a warm-up op on the full corpus
# leaves the timed ops closer to steady.
CRAWL_DOCS = 2000
CRAWL_MIN_OPS = 2
RECALL_FLOOR = 0.99      # the north rule
PRECISION_FLOOR = 0.80   # boilerplate pages cluster without a truth pair

# fuzzy_lookup sizes. At 100k strings a matching query is ~1.5-2.5 s, a
# no-match query (no DP) ~1 s; at 8k strings job overhead dominated and
# the op time was noisy. A session's first query takes ~5 s, the next
# ones ~2 s, hence three warm-up queries; with five timed queries the
# median was one query's time. The table is cached in two partitions per
# core, so one slow task stalls a query less.
HAYSTACK = 80_000
LIMIT = 10
FUZZY_WARM = 3
FUZZY_MIN_OPS = 7
FUZZY_NEEDLES = 40       # more than a run times; the loop would cycle them
RECALL_SLICE = 300       # haystack rows the oracle scores per checked needle
RECALL_NEEDLES = 2

MAX_CONSECUTIVE_FAILURES = 3


def emit(rec: dict) -> None:
    print(json.dumps(rec), flush=True)


def dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs) / 1e6


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


class Ctx:
    """Per-run settings and the Spark session."""

    def __init__(self, spark, work: str, seed: int, seconds: float, cores: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.cores = seconds, cores


class OpLog:
    """Per-op time series with host diagnostics after each op."""

    def __init__(self, workload: str):
        self.workload = workload
        self.timed: list[float] = []
        self.attempted = 0
        self.failed = 0
        self._consecutive = 0

    def record(self, phase: str, i: int, op_s: float | None, ok: bool, ticks0, **extra) -> None:
        """``op_s`` is None for an op that raised: it has no time."""
        if phase == "timed":
            self.attempted += 1
            self.failed += 0 if ok else 1
            if op_s is not None:
                self.timed.append(op_s)
        self._consecutive = 0 if ok else self._consecutive + 1
        emit({"series": self.workload, "phase": phase, "op": i, "op_s": op_s, "ok": ok,
              "rss_mb": host.tree_rss_mb(), "shm_mb": host.shm_used_mb(),
              "steal_share": host.steal_share(ticks0, host.cpu_ticks()), **extra})

    def stuck(self) -> bool:
        return self._consecutive >= MAX_CONSECUTIVE_FAILURES


def timed_loop(ctx: Ctx, log: OpLog, min_ops: int, op) -> None:
    """Run ``op(i)`` until ``ctx.seconds`` of op time and ``min_ops`` ops
    have passed. ``op`` returns (op_s, ok, extra)."""
    spent, i = 0.0, 0
    while (spent < ctx.seconds or i < min_ops) and not log.stuck():
        ticks = host.cpu_ticks()
        try:
            op_s, ok, extra = op(i)
        except Exception:
            traceback.print_exc()
            op_s, ok, extra = None, False, {}
        log.record("timed", i, op_s, ok, ticks, **extra)
        spent += op_s or 0.0
        i += 1


def summary(log: OpLog, items_per_op: float) -> dict:
    if not log.timed:  # every op raised; the run reports failure
        return {"op_s_p50": 0.0, "items_per_s": 0.0, "op_count": 0}
    return {"op_s_p50": statistics.median(log.timed),
            "items_per_s": items_per_op * len(log.timed) / sum(log.timed),
            "op_count": len(log.timed)}


# --------------------------------------------------------------------------
# crawl_mixed
# --------------------------------------------------------------------------

def crawl_quality(workdir: str, crawl: gen.Crawl) -> dict:
    """Recall of truth exact+near pairs (co-clustered) and pair-counting
    precision of the predicted clusters, from the stage tables on disk."""
    import pyarrow.parquet as pq
    from collections import Counter

    cl = pq.read_table(os.path.join(workdir, "clusters")).to_pydict()
    docs = pq.read_table(os.path.join(workdir, "documents"), columns=["doc_id", "url"]).to_pydict()
    url_of = dict(zip(docs["doc_id"], docs["url"]))
    cluster = {url_of[d]: c for d, c in zip(cl["doc_id"], cl["cluster_id"])}
    covered = len(cluster) == crawl.n and all(u in cluster for u in crawl.urls)
    pairs = crawl.dup_pairs()
    hits = sum(cluster.get(a, a) == cluster.get(b, b) for a, b in pairs)
    truth = crawl.truth_cluster_of()
    sizes = Counter(cluster.values())
    joint = Counter((cluster[u], truth[u]) for u in cluster if u in truth)
    predicted = sum(c * (c - 1) // 2 for c in sizes.values())
    agreed = sum(c * (c - 1) // 2 for c in joint.values())
    return {"recall": hits / len(pairs) if pairs else 1.0,
            "precision": agreed / predicted if predicted else 1.0,
            "covered": covered, "clusters": len(sizes)}


def crawl_check(workdir: str, crawl: gen.Crawl) -> tuple[bool, dict]:
    q = crawl_quality(workdir, crawl)
    canonical = os.path.join(workdir, "canonical")
    q["canonical_ok"] = os.path.isdir(canonical) and parquet_rows(canonical) == q["clusters"]
    ok = (q["covered"] and q["canonical_ok"] and q["recall"] >= RECALL_FLOOR
          and q["precision"] >= PRECISION_FLOOR)
    return ok, q


def pipeline_op(ctx: Ctx, input_dir: str, workdir: str) -> float:
    from frizbee_spark.pipeline import NearDupPipeline, PipelineConfig

    shutil.rmtree(workdir, ignore_errors=True)
    t0 = time.perf_counter()
    NearDupPipeline(ctx.spark, PipelineConfig(workdir=workdir)).run(input_path=input_dir)
    return time.perf_counter() - t0


def crawl_inputs(ctx: Ctx) -> tuple[gen.Crawl, str]:
    """The seeded corpus, written once as every op's input."""
    crawl = gen.crawl_corpus(ctx.seed, CRAWL_DOCS)
    return crawl, crawl.write(os.path.join(ctx.work, "input", "crawl"), ctx.seed)


def run_crawl(ctx: Ctx) -> dict:
    crawl, input_dir = crawl_inputs(ctx)
    log = OpLog("crawl_mixed")
    workdir = os.path.join(ctx.work, "pipe")

    ticks = host.cpu_ticks()
    warm_s = pipeline_op(ctx, input_dir, workdir)
    log.record("warm", 0, warm_s, True, ticks, docs=CRAWL_DOCS)

    quality: list[dict] = []

    def op(i: int):
        op_s = pipeline_op(ctx, input_dir, workdir)
        ok, q = crawl_check(workdir, crawl)
        quality.append(q)
        return op_s, ok, {"docs": CRAWL_DOCS, **q}

    timed_loop(ctx, log, CRAWL_MIN_OPS, op)
    shutil.rmtree(workdir, ignore_errors=True)
    out = summary(log, float(CRAWL_DOCS))
    out["recall"] = min((q["recall"] for q in quality), default=0.0)
    out["precision"] = min((q["precision"] for q in quality), default=0.0)
    return {"log": log, "metrics": out}


# --------------------------------------------------------------------------
# fuzzy_lookup
# --------------------------------------------------------------------------

def oracle(needle: str, text: str) -> tuple[int, int]:
    from frizbee_spark.functions.oracle import smith_waterman, typos_from_score_matrix

    score, matrix, _ = smith_waterman(needle, text)
    return int(score), int(typos_from_score_matrix(matrix))


def haystack_df(ctx: Ctx, hay: list[str], ids=None):
    import pandas as pd

    ids = np.arange(len(hay), dtype=np.int64) if ids is None else np.asarray(ids, dtype=np.int64)
    return ctx.spark.createDataFrame(pd.DataFrame({"id": ids, "text": hay}))


def fuzzy_query(df, needle: gen.Needle, limit: int | None = LIMIT):
    from frizbee_spark.constants import MatchConfig
    from frizbee_spark.operators.fuzzy import fuzzy_match

    rows = fuzzy_match(df, needle.text, text_col="text", id_cols=["id"],
                       config=MatchConfig(max_typos=needle.max_typos), limit=limit).collect()
    return [(int(r["id"]), int(r["score"]), int(r["typos"])) for r in rows]


def fuzzy_row_check(needle: gen.Needle, rows, hay: list[str]) -> tuple[int, int, bool]:
    """(rows equal to the oracle, rows returned, truth ok). Every returned
    row must carry the oracle's score and typos within the budget; the
    needle's source row, when the oracle says it matches, must be returned
    unless ``LIMIT`` rows scoring at least as high were."""
    equal = 0
    for rid, score, typos in rows:
        if (score, typos) == oracle(needle.text, hay[rid]) and typos <= needle.max_typos:
            equal += 1
    truth_ok = True
    if needle.source >= 0 and len(hay[needle.source]) >= len(needle.text) - needle.max_typos:
        s_score, s_typos = oracle(needle.text, hay[needle.source])
        if s_typos <= needle.max_typos:
            ids = {r[0] for r in rows}
            truth_ok = needle.source in ids or (
                len(rows) == LIMIT and all(r[1] >= s_score for r in rows))
    return equal, len(rows), truth_ok


def slice_check(df, ids: list[int], nd: gen.Needle, hay: list[str]) -> tuple[int, int, int, int]:
    """Oracle-exhaustive check of one needle on a haystack slice ``df``
    holding rows ``ids``: (oracle matches, of them returned, returned,
    returned equal to the oracle)."""
    got = {r[0]: (r[1], r[2]) for r in fuzzy_query(df, nd, limit=None)}
    want = {}
    for i in ids:
        if len(hay[i]) >= len(nd.text) - nd.max_typos:
            s, t = oracle(nd.text, hay[i])
            if t <= nd.max_typos:
                want[i] = (s, t)
    return (len(want), sum(i in got for i in want), len(got),
            sum(want.get(i) == v for i, v in got.items()))


def fuzzy_inputs(ctx: Ctx):
    hay = gen.haystack(ctx.seed, HAYSTACK)
    counts = gen.CharCounts(hay)
    warm = gen.needles(ctx.seed, hay, FUZZY_WARM, stream=1, counts=counts)
    timed = gen.needles(ctx.seed, hay, FUZZY_NEEDLES, stream=2, counts=counts)
    df = haystack_df(ctx, hay).repartition(2 * ctx.cores).cache()
    df.count()
    return hay, warm, timed, df


def run_fuzzy(ctx: Ctx) -> dict:
    hay, warm, timed, df = fuzzy_inputs(ctx)
    log = OpLog("fuzzy_lookup")
    for i, nd in enumerate(warm):
        ticks = host.cpu_ticks()
        t0 = time.perf_counter()
        fuzzy_query(df, nd)
        log.record("warm", i, time.perf_counter() - t0, True, ticks, kind=nd.kind)

    results = []

    def op(i: int):
        nd = timed[i % len(timed)]
        t0 = time.perf_counter()
        rows = fuzzy_query(df, nd)
        op_s = time.perf_counter() - t0
        results.append((nd, rows))
        return op_s, True, {"kind": nd.kind, "max_typos": nd.max_typos, "rows": len(rows)}

    timed_loop(ctx, log, FUZZY_MIN_OPS, op)
    df.unpersist()

    failed_ops, equal, returned = set(), 0, 0
    for i, (nd, rows) in enumerate(results):
        e, r, truth_ok = fuzzy_row_check(nd, rows, hay)
        equal, returned = equal + e, returned + r
        if e != r or not truth_ok:
            failed_ops.add(i)
    # recall: the first RECALL_NEEDLES matching-kind needles, on a seeded
    # slice of the haystack that also holds their source rows
    checked = [i for i, (nd, _) in enumerate(results) if nd.kind != "none"][:RECALL_NEEDLES]
    ids = sorted(set(gen._rng(ctx.seed, 40).choice(len(hay), size=RECALL_SLICE, replace=False).tolist())
                 | {results[i][0].source for i in checked})
    slice_df = haystack_df(ctx, [hay[i] for i in ids], ids)
    matched = found = 0
    for i in checked:
        m, f, r, e = slice_check(slice_df, ids, results[i][0], hay)
        matched, found, equal, returned = matched + m, found + f, equal + e, returned + r
        if f != m or e != r:
            failed_ops.add(i)
    for i in sorted(failed_ops):
        emit({"series": "fuzzy_lookup", "check_failed": i, "needle": results[i][0].text})
    log.failed += len(failed_ops)
    out = summary(log, 1.0)
    out["recall"] = found / matched if matched else 1.0
    out["precision"] = equal / returned if returned else 1.0
    emit({"series": "fuzzy_lookup", "recall_slice": {"rows": len(ids), "matched": matched, "found": found}})
    return {"log": log, "metrics": out}
