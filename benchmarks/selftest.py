"""Determinism self-test of the input generators; needs no Spark.

    python3 benchmarks/selftest.py

The same seed must give the same bytes; another seed must give other bytes
with the same class shares (crawl classes, needle kinds and typo budgets).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
from collections import Counter

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
N_DOCS = 500
N_HAY = 2000


def crawl_digest(seed: int, out: str) -> tuple[str, Counter]:
    crawl = gen.crawl_corpus(seed, N_DOCS)
    crawl.write(out, seed)
    with open(os.path.join(out, "documents.parquet"), "rb") as f:
        h = hashlib.sha256(f.read())
    h.update(json.dumps(crawl.truth_pairs).encode())
    return h.hexdigest(), Counter(crawl.classes)


def fuzzy_digest(seed: int) -> tuple[str, list]:
    hay = gen.haystack(seed, N_HAY)
    nds = gen.needles(seed, hay, 30, counts=gen.CharCounts(hay))
    blob = json.dumps([hay, [vars(n) for n in nds]]).encode()
    return hashlib.sha256(blob).hexdigest(), [(n.kind, n.max_typos) for n in nds]


def main() -> int:
    work = os.path.join(os.path.dirname(HERE), ".bench_work", f"selftest-{os.getpid()}")
    try:
        a1, shares1 = crawl_digest(1, os.path.join(work, "a"))
        a2, _ = crawl_digest(1, os.path.join(work, "b"))
        b1, shares2 = crawl_digest(2, os.path.join(work, "c"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    f1, kinds1 = fuzzy_digest(1)
    f2, _ = fuzzy_digest(1)
    g1, kinds2 = fuzzy_digest(2)
    checks = {
        "crawl: same seed, same bytes": a1 == a2,
        "crawl: other seed, other bytes": a1 != b1,
        "crawl: other seed, same class shares": shares1 == shares2,
        "crawl: class shares as specified": [shares1[c] for c in gen.CLASSES] == gen.class_counts(N_DOCS),
        "fuzzy: same seed, same bytes": f1 == f2,
        "fuzzy: other seed, other bytes": f1 != g1,
        "fuzzy: other seed, same kinds and budgets": kinds1 == kinds2,
    }
    for name, ok in checks.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    return 0 if all(checks.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
