"""Expected outputs for every perfbench request kind, and the checker.

Graph results are compared against closed-form numpy computations over
the generated cube (the way GraphConformanceSpec pins its graphs). The
corpus kinds are recomputed exactly in Python: shingles, MinHash
signatures and LSH band keys follow graft.pipeline.Dedup bit for bit, so
the candidate sets and therefore the outputs are exact. PageRank is
replayed in the same integer units as graft.pipeline.LinkGraph. The
approximate IVF top-k is held to per-row exactness plus a recall floor.
Stream results are hashed the same way as the harness hashes them.
"""

import hashlib
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

import gen

TOL = 1e-9


def _close(a, b, tol=TOL):
    return abs(a - b) <= tol * max(1.0, abs(b))


# ---------------------------------------------------------------- graph

def graph_values(p, values, gaps):
    """Output values of graph `p`, as gen.graph_doc builds it."""
    x0, x1, y0, y1 = p["bbox"]
    box = lambda a: a[..., y0:y1, x0:x1]
    band = lambda b: box(values[gen.BANDS.index(b)])
    win = lambda a: a[p["win"][0]:p["win"][1]] if "win" in p else a
    k = p["kind"]
    if k == "evi":
        b, r, n = (win(band(x)) for x in ("B02", "B04", "B08"))
        v = (n - r) / (((1 + n) + r * 6) + b * -7.5) * 2.5
        return getattr(np, p["red"])(v, axis=0)
    if k == "ndvi":
        r, n = win(band("B04")), win(band("B08"))
        return getattr(np, p["red"])((n - r) / (n + r), axis=0)
    if k == "monthly":
        a = band(p["band"])
        return np.stack([getattr(np, p["red"])(a[2 * m:2 * m + 2], axis=0) for m in range(12)])
    if k == "scale":
        return np.clip(win(band(p["band"])), 0, p["in_max"]) / p["in_max"] * 255.0
    if k == "mask":
        a = win(band(p["band"]))
        return np.where(a > p["thr"], 0.0, a)
    if k == "gapfill":
        a = box(gaps[0]).copy()
        for iy in range(a.shape[1]):
            for ix in range(a.shape[2]):
                s = a[:, iy, ix]
                ok = np.flatnonzero(~np.isnan(s))
                for i in np.flatnonzero(np.isnan(s)):
                    lo, hi = ok[ok < i].max(), ok[ok > i].min()
                    s[i] = s[lo] + (s[hi] - s[lo]) * (i - lo) / (hi - lo)
        return a
    if k == "quantile":
        a = win(band(p["band"]))
        q25, q75 = np.quantile(a, [0.25, 0.75], axis=0)
        return q75 - q25 + np.median(a, axis=0)
    if k == "temporal_mean":
        return win(band(p["band"])).mean(axis=0)
    raise ValueError(k)


def check_graph(state, key, digest):
    v = graph_values(state["params"][key], state["values"], state["gaps"]).ravel()
    want = {"n": v.size, "sum": v.sum(), "sumsq": (v * v).sum(), "min": v.min(), "max": v.max()}
    if digest["n"] != want["n"]:
        return f"{key}: {digest['n']} values, expected {want['n']}"
    for f in ("sum", "sumsq", "min", "max"):
        if not _close(digest[f], want[f]):
            return f"{key}: {f} {digest[f]!r}, expected {want[f]!r}"
    return ""


# --------------------------------------------------------------- corpus

MINHASH_P = 2305843009213693951
K, ROWS_PER_BAND, SHINGLE, THRESHOLD = 32, 4, 3, 0.5


def _md5_28(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:7], 16)


_A = [_md5_28(f"graft-minhash-a-{i}") | 1 for i in range(K)]
_B = [_md5_28(f"graft-minhash-b-{i}") for i in range(K)]


def shingles(text):
    toks = text.lower().strip().split()
    return {" ".join(toks[i:i + SHINGLE]) for i in range(len(toks) - SHINGLE + 1)}


class Corpus:
    """Shingle sets, MinHash band keys and exact Jaccard, memoized."""

    def __init__(self, state):
        self.state = state
        self.text = dict(state["docs"])
        for sd in state["shards"]:
            self.text.update(sd)
        self._sh, self._bands = {}, {}

    def sh(self, d):
        if d not in self._sh:
            self._sh[d] = shingles(self.text[d])
        return self._sh[d]

    def bands(self, d):
        if d not in self._bands:
            hs = [_md5_28(s) for s in self.sh(d)]
            sig = [min((a * h + b) % MINHASH_P for h in hs) for a, b in zip(_A, _B)]
            self._bands[d] = {(i, ",".join(map(str, sig[i * ROWS_PER_BAND:(i + 1) * ROWS_PER_BAND])))
                              for i in range(K // ROWS_PER_BAND)}
        return self._bands[d]

    def jaccard(self, a, b):
        sa, sb = self.sh(a), self.sh(b)
        n = len(sa & sb)
        return n / (len(sa) + len(sb) - n)

    def lsh_pairs(self, left, right):
        """(l, r) with l != r sharing a band bucket."""
        buckets = defaultdict(list)
        for r in right:
            for bk in self.bands(r):
                buckets[bk].append(r)
        return {(l, r) for l in left for bk in self.bands(l) for r in buckets.get(bk, ()) if l != r}

    def corpus_ids(self, ext):
        return list(self.state["docs"]) + [d for d, _ in self.state["shards"][ext]]

    def group(self, g):
        return [d for d in self.state["docs"] if d % gen.N_GROUPS == g]

    def shard(self, j):
        return [d for d, _ in self.state["shards"][j]]

    def verified(self, pairs):
        return {p: j for p in pairs if (j := self.jaccard(*p)) >= THRESHOLD}


def _pairs_match(key, got_rows, want):
    got = {}
    for a, b, j in got_rows:
        if (a, b) in got:
            return f"{key}: duplicate pair ({a}, {b})"
        got[(a, b)] = j
    if set(got) != set(want):
        extra, miss = set(got) - set(want), set(want) - set(got)
        return f"{key}: {len(extra)} unexpected pairs {sorted(extra)[:3]}, {len(miss)} missing {sorted(miss)[:3]}"
    for p, j in got.items():
        if not _close(j, want[p], 1e-12):
            return f"{key}: jaccard {p} = {j}, expected {want[p]}"
    return ""


def _round6(x):
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def pagerank_lines(state, g, iters):
    src, dst, grp = state["edges"]
    s, d = src[grp == g].tolist(), dst[grp == g].tolist()
    nodes = sorted(set(s) | set(d))
    n, unit = len(nodes), 10**12
    deg = defaultdict(int)
    for a in s:
        deg[a] += 1
    rank = {v: unit // n for v in nodes}
    for _ in range(iters):
        inflow = defaultdict(int)
        for a, b in zip(s, d):
            inflow[b] += rank[a] * 85 // (100 * deg[a])
        rank = {v: unit * 15 // (100 * n) + inflow[v] for v in nodes}
    return [f"{v},{rank[v]}" for v in nodes]


def sha_lines(lines):
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update((line + "\n").encode())
    return h.hexdigest()


class CorpusChecker:
    def __init__(self, state):
        self.c = Corpus(state)
        self.state = state
        self.ivf_hits = self.ivf_total = 0

    def check(self, req, digest):
        kind, a, key, c = req["kind"], req["args"], req["key"], self.c
        if kind == "probe":
            # the probe reports the generation (extension shard) it probed:
            # the one of the latest index write before it
            if digest["ext"] != a["ext"]:
                return f"{key}: probed index generation {digest['ext']}, expected {a['ext']}"
            new, corpus = c.shard(a["shard"]), c.corpus_ids(a["ext"])
            want = c.verified(c.lsh_pairs(new, corpus))
            return _pairs_match(key, digest["rows"], want)
        if kind == "near_dups":
            docs = c.group(a["grp"])
            want = c.verified({p for p in c.lsh_pairs(docs, docs) if p[0] < p[1]})
            return _pairs_match(key, digest["rows"], want)
        if kind == "index_write":
            ids = c.corpus_ids(a["shard"])
            want = {"bands": len(ids) * K // ROWS_PER_BAND, "docs": len(ids),
                    "shingles": sum(len(c.sh(d)) for d in ids)}
            got = {k: digest.get(k) for k in want}
            return "" if got == want else f"{key}: index {got}, expected {want}"
        if kind == "pagerank":
            lines = pagerank_lines(self.state, a["grp"], a["iters"])
            ok = digest["n"] == len(lines) and digest["sha"] == sha_lines(lines)
            return "" if ok else f"{key}: ranks differ from the integer replay"
        if kind == "ivf_topk":
            return self._ivf(key, a["grp"], digest["rows"])
        return f"{key}: unknown kind"

    def _ivf(self, key, grp, rows):
        vec, qv, qsrc = self.state["vec"].astype(np.float64), self.state["qv"].astype(np.float64), self.state["qsrc"]
        by_q = defaultdict(list)
        for q, nb, cos, rk in rows:
            by_q[q].append((rk, nb, cos))
        qids = range(grp * gen.Q_PER_GROUP, (grp + 1) * gen.Q_PER_GROUP)
        if set(by_q) - {1000000 + i for i in qids}:
            return f"{key}: rows for queries outside group {grp}"
        for i in qids:
            got = sorted(by_q.get(1000000 + i, []))
            if not 1 <= len(got) <= 5 or [g[0] for g in got] != list(range(1, len(got) + 1)):
                return f"{key}: query {1000000 + i} has ranks {[g[0] for g in got]}"
            q = qv[i]
            for rk, nb, cos in got:
                v = vec[nb]
                want = _round6(float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v))))
                if abs(cos - want) > 1.5e-6:
                    return f"{key}: cos({1000000 + i}, {nb}) = {cos}, expected {want}"
            if any(got[j][2] < got[j + 1][2] for j in range(len(got) - 1)):
                return f"{key}: query {1000000 + i} not ordered by cos"
            self.ivf_total += 1
            self.ivf_hits += got[0][1] == qsrc[i]
        return ""

    def finish(self):
        """Run-level check: the planted source is the top hit for >= 90% of queries."""
        if self.ivf_total and self.ivf_hits < 0.9 * self.ivf_total:
            return f"ivf_topk: planted source ranked first for {self.ivf_hits}/{self.ivf_total} queries"
        return ""


# --------------------------------------------------------------- stream

def sessionize_lines(ev):
    """Per user: session count and longest session (30 min gap), as rows."""
    per = defaultdict(list)
    for u, s in zip(ev["user_id"].tolist(), ev["ts"].tolist()):
        per[u].append(s)
    out = []
    for u, xs in per.items():
        xs.sort()
        lens, cur = [], 1
        for a, b in zip(xs, xs[1:]):
            if b - a > 1800 * 10**6:
                lens.append(cur)
                cur = 1
            else:
                cur += 1
        lens.append(cur)
        out.append(f"{u},{len(lens)},{max(lens)}")
    return out


class Checker:
    """Dispatches by request kind; `check` returns '' or a failure message."""

    def __init__(self, state):
        self.state = state
        self.corpus = CorpusChecker(state) if "docs" in state else None
        self._stream = {}

    def check(self, req, digest):
        if digest is None:
            return "no output"
        if req["kind"] == "sessionize":
            k = req["args"]["file"]
            if k not in self._stream:
                lines = sessionize_lines(self.state["files"][k])
                self._stream[k] = (len(lines), sha_lines(lines))
            ok = (digest["n"], digest["sha"]) == self._stream[k]
            return "" if ok else f"{req['key']}: {digest['n']} rows differ from the expected {self._stream[k][0]}"
        if req["kind"] in gen.GRAPH_KINDS:
            return check_graph(self.state, req["key"], digest)
        return self.corpus.check(req, digest)

    def finish(self):
        return self.corpus.finish() if self.corpus else ""


