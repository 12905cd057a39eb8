"""Seeded input generators. Every input, and its truth, is a pure function
of the seed: the program under test only ever sees the files written here.

Crawl corpus (crawl_mixed, and the dedup/incremental sweep of traced runs):
the class mix of the repository's synthetic crawl -- 60% unique, 20% exact
copies, 12% near copies with 1-5 word edits, 5% long shared span, 3%
boilerplate -- with lognormal lengths around 2 KB. Class counts are fixed
shares of ``n`` and only their placement depends on the seed, so every
seed has exactly the same class shares.

Haystack and needles (fuzzy_lookup): URL and source-path strings, and
needles in frizbee's ``benches/match_list`` mix of full, partial and
no-match queries with typo budgets 0-2.
"""

from __future__ import annotations

import bisect
import os
from dataclasses import dataclass
from statistics import NormalDist

import numpy as np

VOCAB_SIZE = 5000
N_SITES = 500
N_TEMPLATES = 10
TEMPLATE_WORDS = 150
EPOCH_S = 1735689600  # 2025-01-01T00:00:00Z
CLASSES = ("unique", "exact", "near", "span", "boiler")
CLASS_SHARES = (0.60, 0.20, 0.12, 0.05, 0.03)
FORCED_UNIQUE = 16  # the first rows are the donor pool
SPAN_MIN_WORDS = 300  # ~2 KB shared block, long enough for the span pass


def _rng(seed: int, *key: int) -> np.random.Generator:
    return np.random.default_rng([seed, *key])


def _words(rng: np.random.Generator, n: int, min_len: int, max_len: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(letters, size=int(rng.integers(min_len, max_len + 1))))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def class_counts(n: int) -> list[int]:
    """Rows per class; the remainder of the rounding goes to 'unique'."""
    counts = [int(n * s) for s in CLASS_SHARES]
    counts[0] += n - sum(counts)
    return counts


@dataclass
class Crawl:
    urls: list[str]
    texts: list[str]
    classes: list[str]
    truth_pairs: list[tuple[str, str, str]]  # (donor_url, url, kind)

    @property
    def n(self) -> int:
        return len(self.urls)

    def dup_pairs(self) -> list[tuple[str, str]]:
        """Truth pairs a dedup must co-cluster: exact and near copies."""
        return [(a, b) for a, b, k in self.truth_pairs if k in ("exact", "near")]

    def truth_cluster_of(self) -> dict[str, str]:
        """url -> cluster id (smallest url) of the exact+near union-find."""
        parent = {u: u for u in self.urls}

        def find(x: str) -> str:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in self.dup_pairs():
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {u: find(u) for u in self.urls}

    def prefix(self, n: int) -> "Crawl":
        """The first ``n`` rows. Donors always precede their copies, so the
        truth restricted to the prefix is complete."""
        keep = set(self.urls[:n])
        return Crawl(self.urls[:n], self.texts[:n], self.classes[:n],
                     [p for p in self.truth_pairs if p[1] in keep])

    def slice(self, lo: int, hi: int) -> "Crawl":
        keep = set(self.urls[lo:hi])
        return Crawl(self.urls[lo:hi], self.texts[lo:hi], self.classes[lo:hi],
                     [p for p in self.truth_pairs if p[1] in keep])

    def documents_table(self, seed: int):
        import pyarrow as pa

        rng = _rng(seed, 9)
        n = self.n
        ts = EPOCH_S + rng.integers(0, 86400 * 90, size=n)
        lang = rng.choice(np.array(["en", "de", "fr"]), size=n, p=[0.90, 0.06, 0.04])
        return pa.table({
            "url": pa.array(self.urls, pa.string()),
            "warc_ts": pa.array(ts.astype("datetime64[s]"), pa.timestamp("s", tz="UTC")),
            "html": pa.array([b"<html><body>" + t.encode() + b"</body></html>"
                              for t in self.texts], pa.binary()),
            "text": pa.array(self.texts, pa.string()),
            "lang": pa.array(lang.tolist(), pa.string()),
        })

    def write(self, out_dir: str, seed: int) -> str:
        """documents.parquet in the layout ``NearDupPipeline.run`` reads."""
        import pyarrow.parquet as pq

        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(self.documents_table(seed),
                       os.path.join(out_dir, "documents.parquet"),
                       row_group_size=512)
        return out_dir


def crawl_corpus(seed: int, n: int) -> Crawl:
    vocab = np.array(_words(_rng(seed, 1), VOCAB_SIZE, 3, 9))
    templates = [_rng(seed, 2, t).integers(0, VOCAB_SIZE, size=TEMPLATE_WORDS)
                 for t in range(N_TEMPLATES)]

    counts = class_counts(n)
    forced = min(FORCED_UNIQUE, n)
    rest = np.repeat(np.arange(len(CLASSES)), [counts[0] - forced] + counts[1:])
    cls = np.concatenate([np.zeros(forced, dtype=np.int64), _rng(seed, 3).permutation(rest)])

    # Work per op grows with document length, and a lognormal's tail gives
    # one seed far more long documents than another. Unique bodies take the
    # lognormal's quantiles in a seeded order, and copies pick donors at
    # stratified length ranks, so every seed has about the same length mix.
    lognormal = NormalDist(np.log(2000.0), 0.7)
    lens = np.exp([lognormal.inv_cdf((i + 0.5) / counts[0]) for i in range(counts[0])])
    n_words_of = iter(np.maximum((np.clip(lens, 200, 20000) // 7).astype(np.int64), 24)
                      [_rng(seed, 4).permutation(counts[0])])
    ranks = {c: iter((_rng(seed, 8, i).permutation(k) + 0.5) / k)
             for i, (c, k) in enumerate(zip(CLASSES, counts)) if c in ("exact", "near", "span")}
    unique_words: dict[int, np.ndarray] = {}

    def words_of_unique(r: int) -> np.ndarray:
        w = unique_words.get(r)
        if w is None:
            w = _rng(seed, 5, r).integers(0, VOCAB_SIZE, size=int(next(n_words_of)))
            unique_words[r] = w
        return w

    def donor_of(c: str, pool: list[tuple[int, int]]) -> int:
        return pool[int(next(ranks[c]) * len(pool))][1]

    site_rng = _rng(seed, 6)
    sites = (site_rng.zipf(1.3, size=n) - 1) % N_SITES
    paths = site_rng.integers(0, 2**63, size=n, dtype=np.int64)
    urls = [f"https://site{int(s):04d}.example/{int(p):016x}" for s, p in zip(sites, paths)]

    donors_all: list[tuple[int, int]] = []   # (words, row) of unique rows so far
    donors_long: list[tuple[int, int]] = []  # ... of them with a span-sized body
    texts, classes, truth = [], [], []
    n_boiler = 0
    for r in range(n):
        c = CLASSES[cls[r]]
        rng = _rng(seed, 7, r)
        donor = None
        if c == "unique":
            w = words_of_unique(r)
        elif c in ("exact", "near"):
            donor = donor_of(c, donors_all)
            w = words_of_unique(donor).copy()
            if c == "near":
                for _ in range(int(rng.integers(1, 6))):
                    op, pos = int(rng.integers(0, 3)), int(rng.integers(0, len(w)))
                    if op == 0:
                        w[pos] = int(rng.integers(0, VOCAB_SIZE))
                    elif op == 1 and len(w) > 25:
                        w = np.delete(w, pos)
                    else:
                        w = np.insert(w, pos, int(rng.integers(0, VOCAB_SIZE)))
        elif c == "span":
            donor = donor_of(c, donors_long or donors_all)
            dw = words_of_unique(donor)
            span_nw = min(len(dw), max(SPAN_MIN_WORDS, len(dw) // 2))
            s0 = int(rng.integers(0, len(dw) - span_nw + 1))
            pre = rng.integers(0, VOCAB_SIZE, size=max(len(dw) // 3, 20))
            suf = rng.integers(0, VOCAB_SIZE, size=max(len(dw) // 3, 20))
            w = np.concatenate([pre, dw[s0:s0 + span_nw], suf])
        else:  # boilerplate: a shared template plus 20% random insertions;
            # templates are dealt in turn so every seed has the same family sizes
            base = templates[n_boiler % N_TEMPLATES]
            n_boiler += 1
            k = len(base) // 5
            w = np.insert(base, np.sort(rng.integers(0, len(base) + 1, size=k)),
                          rng.integers(0, VOCAB_SIZE, size=k))
        if c == "unique":
            bisect.insort(donors_all, (len(w), r))
            if len(w) >= SPAN_MIN_WORDS:
                bisect.insort(donors_long, (len(w), r))
        texts.append(" ".join(vocab[w]))
        classes.append(c)
        if donor is not None:
            truth.append((urls[donor], urls[r], c))
    return Crawl(urls, texts, classes, truth)


# --------------------------------------------------------------------------
# fuzzy_lookup: haystack of URL / path strings, needles with truth
# --------------------------------------------------------------------------

# One cycle of (kind, typo budget): frizbee's full/partial/no-match mix at
# 5/3/2 with budgets 0-2. Every seed walks the same cycle, so the first m
# ops of any run have the same kinds and budgets; only their text differs.
NEEDLE_CYCLE = (("full", 0), ("partial", 1), ("full", 1), ("none", 0), ("full", 2),
                ("partial", 2), ("full", 0), ("partial", 1), ("full", 1), ("none", 2))
_EXTS = ("rs", "py", "ts", "tsx", "md", "json", "toml", "go", "html")
_ROOTS = ("src", "lib", "tests", "docs", "crates", "packages", "app", "scripts")
_NO_MATCH_CHARS = "qxzjkvw0123456789"
NEEDLE_DRAWS = 7


@dataclass
class Needle:
    text: str
    kind: str
    max_typos: int
    source: int  # haystack row the needle was cut from; -1 for 'none'


def haystack(seed: int, n: int) -> list[str]:
    rng = _rng(seed, 20)
    segs = _words(_rng(seed, 21), 600, 3, 10)
    hosts = _words(_rng(seed, 22), 60, 4, 9)
    seg_idx = rng.integers(0, len(segs), size=(n, 5))
    depth = rng.integers(1, 5, size=n)
    form = rng.random(n)
    camel = rng.random(n) < 0.3
    ext = rng.integers(0, len(_EXTS), size=n)
    root = rng.integers(0, len(_ROOTS), size=n)
    host = rng.integers(0, len(hosts), size=n)
    num = rng.integers(0, 100000, size=n)
    out = []
    for i in range(n):
        parts = [segs[j] for j in seg_idx[i, :depth[i]]]
        leaf = segs[seg_idx[i, 4]]
        if camel[i]:
            leaf = leaf.capitalize() + parts[-1].capitalize()
        if form[i] < 0.6:
            out.append(f"{_ROOTS[root[i]]}/{'/'.join(parts)}/{leaf}.{_EXTS[ext[i]]}")
        else:
            out.append(f"https://{hosts[host[i]]}.example/{'/'.join(parts)}/{leaf}?id={num[i]}")
    return out


class CharCounts:
    """Per-string case-folded character counts of a haystack, for the
    generator's own estimate of how many strings a needle keeps busy: a
    string missing more of the needle's characters than its typo budget
    cannot match it."""

    def __init__(self, hay: list[str]):
        lens = np.fromiter((len(h) for h in hay), dtype=np.int64, count=len(hay))
        flat = np.frombuffer("".join(hay).lower().encode("ascii"), dtype=np.uint8)
        rows = np.repeat(np.arange(len(hay)), lens)
        self.lens = lens
        self.cols = {int(c): np.bincount(rows[flat == c], minlength=len(hay)).astype(np.int32)
                     for c in np.unique(flat)}

    def candidates(self, text: str, budget: int) -> int:
        missing = np.zeros(len(self.lens), dtype=np.int32)
        for c, k in zip(*np.unique(np.frombuffer(text.lower().encode(), np.uint8), return_counts=True)):
            have = self.cols.get(int(c))
            missing += k if have is None else np.maximum(k - have, 0)
        return int(np.count_nonzero((missing <= budget) & (self.lens >= len(text) - budget)))


def _needle(rng: np.random.Generator, hay: list[str], kind: str, budget: int) -> Needle:
    if kind == "none":
        text = "".join(rng.choice(list(_NO_MATCH_CHARS), size=int(rng.integers(5, 10))))
        return Needle(text, kind, budget, -1)
    src = int(rng.integers(0, len(hay)))
    h = hay[src].lower()
    ln = min(int(rng.integers(6, 13)), len(h))
    chars = [h[p] for p in np.sort(rng.choice(len(h), size=ln, replace=False))]
    if kind == "partial":
        for p in rng.choice(ln, size=budget, replace=False):
            chars[p] = _NO_MATCH_CHARS[int(rng.integers(0, len(_NO_MATCH_CHARS)))]
    return Needle("".join(chars), kind, budget, src)


def needles(seed: int, hay: list[str], count: int, stream: int = 0,
            counts: CharCounts | None = None) -> list[Needle]:
    """``count`` needles along ``NEEDLE_CYCLE``; ``stream`` separates e.g.
    warm-up from timed needles. A full needle is an ordered pick of a
    haystack string's characters, the abbreviation a user types; a
    partial one has as many of those characters replaced as its budget.

    With ``counts``, each needle is the median, by strings it may match,
    of ``NEEDLE_DRAWS`` draws: a query's time follows that number, and the
    median keeps one seed's queries about as heavy as another's."""
    rng = _rng(seed, 30, stream)
    out = []
    for q in range(count):
        kind, budget = NEEDLE_CYCLE[q % len(NEEDLE_CYCLE)]
        draws = [_needle(rng, hay, kind, budget) for _ in range(NEEDLE_DRAWS if counts else 1)]
        if counts:
            draws.sort(key=lambda nd: counts.candidates(nd.text, nd.max_typos))
        out.append(draws[len(draws) // 2])
    return out
