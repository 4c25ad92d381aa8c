"""Engine-independent reference results for the benchmark's correctness gate.

Nothing here imports the engine or Spark: every oracle re-derives its answer
from the raw input rows (pyarrow/numpy/pure Python), so a wrong plan in the
engine cannot also be wrong here in the same way. Semantics mirror the
engine's documented contracts:

- vertex ids of the transcript graph are Spark ``xxhash64`` (seed 42) of the
  entity string, so :func:`xxh64` re-implements XXH64 with Spark's per-column
  chaining (``hashInt`` / ``hashLong`` / ``hashUnsafeBytes``);
- PageRank is the power iteration of ``algorithms.pagerank`` (L1 stop test);
- CC is union-find (component = min vertex id);
- LP is synchronous weighted voting with the min-label tie-break;
- triangles are counted by forward intersection over a degree ordering;
- dedup clusters replay MinHash-LSH (xxhash64 family), exact n-gram Jaccard
  verification and transitive closure.
"""

from __future__ import annotations

import hashlib
import struct
from collections import defaultdict

import numpy as np

M64 = (1 << 64) - 1
P1 = 11400714785074694791
P2 = 14029467366897019727
P3 = 1609587929392839161
P4 = 9650029242287828579
P5 = 2870177450012600261
SPARK_HASH_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * P2) & M64
    return (_rotl(acc, 31) * P1) & M64


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * P1 + P4) & M64


def _avalanche(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & M64
    h ^= h >> 29
    h = (h * P3) & M64
    h ^= h >> 32
    return h


def xxh64(data: bytes, seed: int) -> int:
    """Reference XXH64 of ``data`` (unsigned 64-bit result)."""
    seed &= M64
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & M64
        v2 = (seed + P2) & M64
        v3 = seed
        v4 = (seed - P1) & M64
        while i <= n - 32:
            a, b, c, d = struct.unpack_from("<4Q", data, i)
            v1, v2, v3, v4 = _round(v1, a), _round(v2, b), _round(v3, c), _round(v4, d)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & M64
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + P5) & M64
    h = (h + n) & M64
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * P1 + P4) & M64
        i += 8
    if i + 4 <= n:
        h ^= (struct.unpack_from("<I", data, i)[0] * P1) & M64
        h = (_rotl(h, 23) * P2 + P3) & M64
        i += 4
    while i < n:
        h ^= (data[i] * P5) & M64
        h = (_rotl(h, 11) * P1) & M64
        i += 1
    return _avalanche(h)


def _signed(h: int) -> int:
    return h - (1 << 64) if h >= 1 << 63 else h


def spark_xxhash64(*values) -> int:
    """Spark SQL ``xxhash64(v1, v2, ...)``: the running hash seeds the next
    column. ``int`` values are hashed as 4-byte ints when they fit (Spark's
    IntegerType literal), ``np.int64`` as longs, ``str`` as UTF-8 bytes."""
    h = SPARK_HASH_SEED
    for v in values:
        if isinstance(v, str):
            h = xxh64(v.encode("utf-8"), h)
        elif isinstance(v, (np.integer,)):
            h = xxh64(struct.pack("<q", int(v)), h)
        elif isinstance(v, int) and -(1 << 31) <= v < (1 << 31):
            h = xxh64(struct.pack("<i", v), h)
        else:
            h = xxh64(struct.pack("<q", int(v)), h)
    return _signed(h)


# ---------------------------------------------------------------- edges


def transcript_edges(conv_id, turn_idx, role, tool) -> dict[tuple[int, int], float]:
    """``symmetrize(induce_edges(transcripts))`` from the raw turn columns:
    consecutive-turn entity links plus conversation-participant links,
    counted, self-loops dropped, then both directions with summed weight."""
    order = sorted(range(len(conv_id)), key=lambda k: (conv_id[k], turn_idx[k]))
    ent_hash: dict[str, int] = {}

    def vid(s: str) -> int:
        h = ent_hash.get(s)
        if h is None:
            h = ent_hash[s] = spark_xxhash64(s)
        return h

    directed: dict[tuple[int, int], float] = defaultdict(float)
    prev_conv, prev_ent = None, None
    for k in order:
        ent = role[k] if tool[k] is None else f"{role[k]}/{tool[k]}"
        c = conv_id[k]
        e = vid(ent)
        if c == prev_conv:
            p = vid(prev_ent)
            if p != e:
                directed[(p, e)] += 1.0
        cv = vid("conv:" + c)
        if cv != e:
            directed[(cv, e)] += 1.0
        prev_conv, prev_ent = c, ent
    return symmetrize(directed)


def copurchase_pairs(orderkey: np.ndarray, partkey: np.ndarray) -> dict[tuple[int, int], float]:
    """``symmetrize(entry.copurchase_edges)``: every ordered part pair
    x < y co-occurring in one order, with multiplicity, both directions."""
    order = np.lexsort((partkey, orderkey))
    ok, pk = orderkey[order], partkey[order]
    bounds = np.flatnonzero(np.diff(ok)) + 1
    canon: dict[tuple[int, int], float] = defaultdict(float)
    for items in np.split(pk, bounds):
        vals = items.tolist()
        for a in vals:
            for b in vals:
                if a < b:
                    canon[(a, b)] += 1.0
    return symmetrize(canon)


def symmetrize(directed: dict[tuple[int, int], float]) -> dict[tuple[int, int], float]:
    out: dict[tuple[int, int], float] = defaultdict(float)
    for (s, d), w in directed.items():
        if s != d:
            out[(s, d)] += w
            out[(d, s)] += w
    return dict(out)


class EdgeArrays:
    """A symmetric edge table as sorted numpy columns plus a dense index."""

    def __init__(self, edges: dict[tuple[int, int], float]):
        keys = sorted(edges)
        self.src = np.array([k[0] for k in keys], dtype=np.int64)
        self.dst = np.array([k[1] for k in keys], dtype=np.int64)
        self.w = np.array([edges[k] for k in keys], dtype=np.float64)
        self.ids = np.unique(np.concatenate([self.src, self.dst]))
        self.si = np.searchsorted(self.ids, self.src)
        self.di = np.searchsorted(self.ids, self.dst)
        self.n = len(self.ids)
        self.m = len(self.src)

    def fingerprint(self) -> str:
        h = hashlib.sha256()
        for a in (self.src, self.dst, self.w):
            h.update(a.tobytes())
        return h.hexdigest()[:16]

    def shape(self, n_parts: int) -> dict:
        """|V|, |E|, max degree and the hub count under the engine's
        documented ``hub_keys`` threshold (edge share > 1/(4·n_parts))."""
        deg = np.bincount(self.si, minlength=self.n)
        thr = max(1000, self.m // (4 * n_parts))
        return {
            "vertices": int(self.n),
            "edges": int(self.m),
            "max_degree": int(deg.max()) if self.n else 0,
            "hubs": int((deg > thr).sum()),
        }


# ---------------------------------------------------------------- algorithms


def pagerank(g: EdgeArrays, *, alpha=0.85, tol=1e-6, max_iter=100) -> tuple[dict[int, float], int]:
    """Power iteration with the engine's stop rule; returns (ranks, supersteps)."""
    n = g.n
    out_w = np.bincount(g.si, weights=g.w, minlength=n)
    nw = g.w / out_w[g.si]
    dangling = out_w == 0
    r = np.full(n, 1.0 / n)
    steps = 0
    for _ in range(max_iter):
        contrib = np.bincount(g.di, weights=nw * r[g.si], minlength=n)
        dm = r[dangling].sum()
        new = (1 - alpha) / n + alpha * (contrib + dm / n)
        delta = np.abs(new - r).sum()
        r = new
        steps += 1
        if tol > 0 and delta < tol:
            break
    return dict(zip(g.ids.tolist(), r.tolist())), steps


def connected_components(g: EdgeArrays) -> dict[int, int]:
    parent = list(range(g.n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(g.si.tolist(), g.di.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # dense index order == id order
    ids = g.ids.tolist()
    return {ids[i]: ids[find(i)] for i in range(g.n)}


def label_propagation(g: EdgeArrays, iters: int) -> dict[int, int]:
    """Synchronous LP; ``label_propagation`` symmetrizes its (already
    symmetric) input with combine='sum', doubling every weight — a uniform
    scale that leaves each argmax unchanged."""
    adj: dict[int, list[tuple[int, float]]] = defaultdict(list)
    for s, d, w in zip(g.src.tolist(), g.dst.tolist(), g.w.tolist()):
        adj[d].append((s, 2.0 * w))
    labels = {v: v for v in adj}
    for _ in range(iters):
        new = {}
        for v, nbrs in adj.items():
            votes: dict[int, float] = defaultdict(float)
            for u, w in nbrs:
                votes[labels[u]] += w
            new[v] = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = new
    return labels


def triangle_count(g: EdgeArrays) -> int:
    """Forward intersection: orient each edge low→high by (degree, id)."""
    deg = np.bincount(g.si, minlength=g.n)
    rank = np.lexsort((g.ids, deg))  # position of each vertex in (deg, id) order
    pos = np.empty(g.n, dtype=np.int64)
    pos[rank] = np.arange(g.n)
    fwd: list[set[int]] = [set() for _ in range(g.n)]
    for a, b in zip(g.si.tolist(), g.di.tolist()):
        if pos[a] < pos[b]:
            fwd[a].add(b)
    total = 0
    for a in range(g.n):
        na = fwd[a]
        for b in na:
            total += len(na & fwd[b])
    return total


# ---------------------------------------------------------------- dedup


def _shingles(text: str, n: int) -> list[str]:
    toks = text.strip().split()
    if len(toks) < n:
        return []
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def dedup_clusters(doc_ids, texts, *, k=8, bands=4, n=3, threshold=0.8) -> tuple[dict[int, int], dict]:
    """``pipeline.dedup.dedup_clusters(hash_family='xxhash64')`` replayed:
    exact-text stars, LSH candidates among exact survivors, exact Jaccard
    verification, min-id transitive closure. Also returns the candidate and
    verified pair counts (the layer's useful-work ratio)."""
    keep: dict[str, int] = {}
    for i, t in zip(doc_ids, texts):
        d = hashlib.md5(t.encode("utf-8")).hexdigest()
        keep[d] = min(keep.get(d, i), i)
    edges = [(keep[hashlib.md5(t.encode("utf-8")).hexdigest()], i) for i, t in zip(doc_ids, texts)]
    edges = [(a, b) for a, b in edges if a != b]
    survivors = set(keep.values())
    sh = {i: set(_shingles(t, n)) for i, t in zip(doc_ids, texts) if i in survivors}
    rows = k // bands
    buckets: dict[tuple[int, int], list[int]] = defaultdict(list)
    for i, s in sh.items():
        if not s:
            continue  # zero shingles: no signature row in the engine either
        sig = [min(spark_xxhash64(j, x) for x in s) for j in range(k)]
        for b in range(bands):
            key = spark_xxhash64(*[np.int64(v) for v in sig[b * rows : (b + 1) * rows]])
            buckets[(b, key)].append(i)
    cand = set()
    for members in buckets.values():
        for a in members:
            for b in members:
                if a < b:
                    cand.add((a, b))
    verified = [
        (a, b)
        for a, b in cand
        if len(sh[a] & sh[b]) / (len(sh[a]) + len(sh[b]) - len(sh[a] & sh[b])) >= threshold
    ]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges + verified:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = {i: (find(i) if i in parent else i) for i in doc_ids}
    return clusters, {"lsh_candidates": len(cand), "verified_pairs": len(verified)}


# ---------------------------------------------------------------- entry point

PAGERANK_TOL = 1e-6
PAGERANK_FIXED_ITERS = 10  # copurchase's in-memory run: no convergence test
LP_ITERS = 5


def _digest(*columns) -> str:
    h = hashlib.sha256()
    for col in columns:
        h.update(col.tobytes() if isinstance(col, np.ndarray) else repr(list(col)).encode())
    return h.hexdigest()[:16]


def load_inputs(workload: str, input_dir: str) -> tuple[str, dict]:
    """(content fingerprint, raw columns) of one workload's input files.
    The fingerprint covers row content in a canonical order, not file bytes,
    so it is the same for the same seed however Spark split the files."""
    import pyarrow.parquet as pq

    if workload == "copurchase":
        li = pq.read_table(f"{input_dir}/sf/lineitem.parquet").sort_by(
            [("l_orderkey", "ascending"), ("l_partkey", "ascending")]
        ).to_pydict()
        docs = pq.read_table(f"{input_dir}/documents.parquet").sort_by("doc_id").to_pydict()
        data = {
            "orderkey": np.array(li["l_orderkey"], dtype=np.int64),
            "partkey": np.array(li["l_partkey"], dtype=np.int64),
            "doc_id": docs["doc_id"],
            "text": docs["text"],
        }
        return _digest(data["orderkey"], data["partkey"], data["doc_id"], data["text"]), data
    t = pq.read_table(f"{input_dir}/transcripts.parquet").to_pydict()
    order = sorted(range(len(t["conv_id"])), key=lambda k: (t["conv_id"][k], t["turn_idx"][k]))
    data = {c: [t[c][k] for k in order] for c in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    return _digest(*[[str(v) for v in data[c]] for c in data]), data


def reference(workload: str, data: dict, n_parts: int) -> dict:
    """Input shape and every expected result of one workload's inputs."""
    out: dict = {}
    if workload == "copurchase":
        out["rows"] = len(data["orderkey"])
        g = EdgeArrays(copurchase_pairs(data["orderkey"], data["partkey"]))
    else:
        out["rows"] = len(data["conv_id"])
        g = EdgeArrays(transcript_edges(data["conv_id"], data["turn_idx"], data["role"], data["tool"]))
    out.update(g.shape(n_parts))
    out["edge_fp"] = g.fingerprint()
    converged, steps = pagerank(g, tol=PAGERANK_TOL)
    out["pagerank_converged"] = sorted(converged.items())
    out["supersteps_converged"] = steps
    out["triangles"] = triangle_count(g)
    if workload == "transcript_graph":
        out["cc"] = sorted(connected_components(g).items())
        out["lp"] = sorted(label_propagation(g, LP_ITERS).items())
    else:
        fixed, _ = pagerank(g, tol=0.0, max_iter=PAGERANK_FIXED_ITERS)
        out["pagerank_fixed"] = sorted(fixed.items())
        clusters, counts = dedup_clusters(data["doc_id"], data["text"])
        out["dedup"] = sorted(clusters.items())
        out.update(counts)
    return out


def main(argv: list[str]) -> None:
    """``oracles.py WORKLOAD SEED INPUT_DIR CACHE_DIR N_PARTS`` prints the
    path of the reference JSON, computing it only when no reference for
    (workload, seed, input fingerprint) is cached yet."""
    import json
    import os

    workload, seed, input_dir, cache_dir, n_parts = argv
    fp, data = load_inputs(workload, input_dir)
    path = os.path.join(cache_dir, f"{workload}-seed{seed}-{fp}.json")
    if not os.path.exists(path):
        ref = {"workload": workload, "seed": int(seed), "input_fp": fp}
        ref.update(reference(workload, data, int(n_parts)))
        os.makedirs(cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(ref, f)
        os.replace(path + ".tmp", path)
    print(path)


if __name__ == "__main__":
    import sys

    main(sys.argv[1:])
