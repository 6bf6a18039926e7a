"""Independent answers for every benchmark request.

Cypher requests are answered by DuckDB running each template's SQL twin
over the same parquet files.  Graph-algorithm calls are answered by
numpy / networkx implementations of each algorithm's documented
contract, computed from the input edge list.  Nothing here reads an
answer the engine produced.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

from datagen import TABLES
from workloads import TEMPLATES_BY_NAME, AlgoCall, CypherRequest

# Rounded Cypher outputs (round(x, 2)) may differ from DuckDB's rounding
# by one unit in the last place when the exact value sits on a .005
# boundary; every other float must agree to 1e-9 relative.
_ABS_TOL = 0.0101
_REL_TOL = 1e-9


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(a - b) <= max(_ABS_TOL, _REL_TOL * abs(b))
    return a == b


def _sort_key(row):
    return tuple((0, round(v)) if isinstance(v, float) else (1, str(v))
                 for v in row)


def rows_match(got: list, want: list, ordered: bool) -> bool:
    """Row lists equal up to float tolerance (and order unless
    ``ordered``)."""
    got = [tuple(r) for r in got]
    want = [tuple(r) for r in want]
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    return all(len(g) == len(w) and all(map(_close, g, w))
               for g, w in zip(got, want))


class CypherReference:
    """DuckDB over the benchmark's parquet tables."""

    def __init__(self, data_dir: str):
        import duckdb
        self._con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._memo: dict = {}

    def answer(self, req: CypherRequest) -> list:
        if req not in self._memo:
            sql = TEMPLATES_BY_NAME[req.template].sql.format(
                **dict(req.literals))
            self._memo[req] = self._con.execute(sql).fetchall()
        return self._memo[req]

    def check(self, req: CypherRequest, rows: list) -> bool:
        return rows_match(rows, self.answer(req),
                          TEMPLATES_BY_NAME[req.template].ordered)

    def close(self) -> None:
        self._con.close()


# --------------------------------------------------------------------------
# graph algorithms
# --------------------------------------------------------------------------

def orient(src: np.ndarray, dst: np.ndarray):
    """The directed view of an undirected pair list: a pair flips when
    ``(7 src + 13 dst) % 3 == 0`` (the Spark side uses the same rule)."""
    flip = (src * 7 + dst * 13) % 3 == 0
    return np.where(flip, dst, src), np.where(flip, src, dst)


def sp_weight(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Edge weight of the weighted-shortest-path input: 1..5."""
    return ((src + dst) % 5 + 1).astype(np.float64)


def _undirected(src, dst):
    """Distinct (u, v) with u < v, self-loops dropped."""
    u, v = np.minimum(src, dst), np.maximum(src, dst)
    keep = u < v
    pairs = np.unique(np.stack([u[keep], v[keep]], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def pagerank(src, dst, iterations: int, damping: float = 0.85) -> dict:
    """Power iteration with uniform teleport and dangling mass spread
    uniformly; parallel edges count (out-degree with multiplicity)."""
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[:len(src)], inv[len(src):]
    n = len(nodes)
    deg = np.bincount(s, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    dangling = deg == 0
    for _ in range(iterations):
        contrib = np.bincount(d, weights=rank[s] / deg[s], minlength=n)
        m = rank[dangling].sum()
        rank = (1.0 - damping) / n + damping * (contrib + m / n)
    return dict(zip(nodes.tolist(), rank.tolist()))


def k_core(src, dst, k: int) -> dict:
    """Peel nodes of degree < k until none is left; node -> core degree."""
    u, v = _undirected(src, dst)
    while True:
        nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
        deg = np.bincount(inv, minlength=len(nodes))
        ok = deg[inv[:len(u)]] >= k
        ok &= deg[inv[len(u):]] >= k
        if ok.all():
            return {int(x): int(c) for x, c in zip(nodes, deg) if c >= k}
        u, v = u[ok], v[ok]


def label_propagation(src, dst, iterations: int) -> dict:
    """Synchronous LPA: each node takes its neighbours' most frequent
    label, ties to the smallest label; labels start as node ids."""
    u, v = _undirected(src, dst)
    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a = np.concatenate([inv[:len(u)], inv[len(u):]])   # node
    b = np.concatenate([inv[len(u):], inv[:len(u)]])   # neighbour
    labels = nodes.copy()
    for _ in range(iterations):
        lbl = labels[b]
        o = np.lexsort((lbl, a))
        na, nl = a[o], lbl[o]
        start = np.flatnonzero(np.r_[True, (na[1:] != na[:-1])
                                     | (nl[1:] != nl[:-1])])
        cnt = np.diff(np.r_[start, len(na)])
        ga, gl = na[start], nl[start]
        o2 = np.lexsort((gl, -cnt, ga))
        first = np.r_[True, ga[o2][1:] != ga[o2][:-1]]
        new = labels.copy()
        new[ga[o2][first]] = gl[o2][first]
        labels = new
    return dict(zip(nodes.tolist(), labels.tolist()))


def strongly_connected_components(src, dst) -> dict:
    """networkx SCCs of the directed graph; component = min member id."""
    import networkx as nx
    g = nx.DiGraph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    out = {}
    for comp in nx.strongly_connected_components(g):
        m = min(comp)
        out.update(dict.fromkeys(comp, m))
    return out


def weighted_shortest_paths(src, dst, w, source: int,
                            max_iters: int) -> dict:
    """Costs of the cheapest paths of at most ``max_iters`` edges from
    ``source`` (what the frontier Bellman-Ford holds after ``max_iters``
    rounds): ``max_iters`` synchronous relaxations of every edge."""
    nodes, inv = np.unique(np.concatenate([src, dst, [source]]),
                           return_inverse=True)
    s, d = inv[:len(src)], inv[len(src):len(src) + len(dst)]
    dist = np.full(len(nodes), np.inf)
    dist[inv[-1]] = 0.0
    for _ in range(max_iters):
        new = dist.copy()
        np.minimum.at(new, d, dist[s] + w)
        if np.array_equal(new, dist):
            break
        dist = new
    reached = np.isfinite(dist)
    return dict(zip(nodes[reached].tolist(), dist[reached].tolist()))


def _coin_head(c: int, rnd: int) -> bool:
    return hashlib.md5(f"{c}|{rnd}".encode()).hexdigest()[0] < "8"


def louvain(src, dst, rounds: int) -> dict:
    """Deterministic star-contraction modularity merging as documented
    for ``graph_algos.louvain``: per round every TAIL community (md5
    coin) moves to its best HEAD neighbour by the integer gain
    4m e(A,B) - 2 tot(A) tot(B), ties to the smaller head id; communities
    are then labelled by their minimum member id."""
    u, v = _undirected(src, dst)
    two_m = 2 * len(u)
    ew: dict = {}
    for a, b in zip(u.tolist(), v.tolist()):
        ew[(a, b)] = 1
        ew[(b, a)] = 1
    tot: dict = {}
    for a, _ in ew:
        tot[a] = tot.get(a, 0) + 1
    mapping = {x: x for x in tot}
    for r in range(1, rounds + 1):
        heads = {c: _coin_head(c, r) for c in tot}
        best: dict = {}
        any_pos = False
        for (a, b), w in ew.items():
            score = 2 * two_m * w - 2 * tot[a] * tot[b]
            if score <= 0:
                continue
            any_pos = True
            if heads[a] or not heads[b]:
                continue
            key = (-score, b)
            if a not in best or key < best[a]:
                best[a] = key
        if not best:
            if not any_pos:
                break
            continue
        move = {a: b for a, (_, b) in best.items()}
        new_tot: dict = {}
        for c, t in tot.items():
            c2 = move.get(c, c)
            new_tot[c2] = new_tot.get(c2, 0) + t
        tot = new_tot
        new_ew: dict = {}
        for (a, b), w in ew.items():
            a2, b2 = move.get(a, a), move.get(b, b)
            if a2 != b2:
                new_ew[(a2, b2)] = new_ew.get((a2, b2), 0) + w
        ew = new_ew
        mapping = {x: move.get(c, c) for x, c in mapping.items()}
    canon: dict = {}
    for x, c in mapping.items():
        canon[c] = min(canon.get(c, x), x)
    return {x: canon[c] for x, c in mapping.items()}


class GraphReference:
    """Reference answers over one undirected pair list (numpy arrays)."""

    def __init__(self, src: np.ndarray, dst: np.ndarray):
        self.src, self.dst = src, dst
        self.dsrc, self.ddst = orient(src, dst)
        self._memo: dict = {}

    def answer(self, call: AlgoCall) -> dict:
        if call not in self._memo:
            self._memo[call] = self._compute(call)
        return self._memo[call]

    def _compute(self, call: AlgoCall) -> dict:
        kw = call.kwargs
        s, d = (self.dsrc, self.ddst) if call.graph == "directed" \
            else (self.src, self.dst)
        if call.algo == "pagerank":
            return pagerank(s, d, kw["iterations"])
        if call.algo == "k_core":
            return k_core(s, d, kw["k"])
        if call.algo == "label_propagation":
            return label_propagation(s, d, kw["iterations"])
        if call.algo == "strongly_connected_components":
            return strongly_connected_components(s, d)
        if call.algo == "louvain":
            return louvain(s, d, kw["rounds"])
        if call.algo == "weighted_shortest_paths":
            return weighted_shortest_paths(s, d, sp_weight(s, d),
                                           kw["source"], kw["max_iters"])
        raise ValueError(f"no reference for {call.algo}")

    def check(self, call: AlgoCall, rows: list) -> bool:
        """``rows`` are the engine's (node, value) pairs."""
        want = self.answer(call)
        got = dict(rows)
        if len(got) != len(rows) or got.keys() != want.keys():
            return False
        if call.algo in ("pagerank", "weighted_shortest_paths"):
            return all(abs(got[k] - want[k]) <= 1e-9 * max(1.0, abs(want[k]))
                       for k in want)
        return got == want
