"""Independent reference results, computed from the generated edge arrays
with numpy (never with Spark or graphina_spark).

- PageRank: power iteration for a fixed number of steps, uniform start and
  teleport, dangling mass spread uniformly, out-weight = out-degree.
- Connected components: min-label propagation with pointer jumping; the
  label is the smallest vertex id of the component.
- Label propagation: synchronous rounds over both edge directions, each
  vertex takes its most frequent neighbour label, ties to the smaller label;
  vertices without neighbours keep their label.
- Triangles: per-node count on the simple undirected graph, by wedge
  listing over a degree-ordered orientation and a sorted edge-key lookup.
"""

from __future__ import annotations

import numpy as np


def pagerank(vid: np.ndarray, src: np.ndarray, dst: np.ndarray, k: int, d: float) -> np.ndarray:
    n = len(vid)
    s = np.searchsorted(vid, src)
    t = np.searchsorted(vid, dst)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(k):
        share = np.divide(r, outdeg, out=np.zeros(n), where=~dangling)
        gathered = np.bincount(t, weights=share[s], minlength=n)
        r = (1.0 - d) / n + d * r[dangling].sum() / n + d * gathered
    return r


def components(vid: np.ndarray, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    s = np.searchsorted(vid, src)
    t = np.searchsorted(vid, dst)
    lab = np.arange(len(vid))
    while True:
        new = lab.copy()
        np.minimum.at(new, s, lab[t])
        np.minimum.at(new, t, lab[s])
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, lab):
            return vid[lab]
        lab = new


def label_propagation(vid: np.ndarray, src: np.ndarray, dst: np.ndarray, rounds: int) -> np.ndarray:
    n = len(vid)
    s = np.searchsorted(vid, src)
    t = np.searchsorted(vid, dst)
    frm = np.concatenate([s, t])
    to = np.concatenate([t, s])
    lab = np.arange(n, dtype=np.int64)  # compact index; same order as ids
    for _ in range(rounds):
        keys, cnt = np.unique(to * n + lab[frm], return_counts=True)
        v, label = keys // n, keys % n
        order = np.lexsort((label, -cnt, v))
        v, label = v[order], label[order]
        first = np.ones(len(v), dtype=bool)
        first[1:] = v[1:] != v[:-1]
        new = lab.copy()
        new[v[first]] = label[first]
        lab = new
    return vid[lab]


def triangles(vid: np.ndarray, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Orient each simple undirected edge from lower to higher (degree, id)
    rank, list every wedge u->v->w and keep those whose edge u->w exists."""
    n = len(vid)
    a = np.searchsorted(vid, np.minimum(src, dst))
    b = np.searchsorted(vid, np.maximum(src, dst))
    keep = a != b
    key = np.unique(a[keep] * n + b[keep])
    a, b = key // n, key % n
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    fwd = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    s, t = np.where(fwd, a, b), np.where(fwd, b, a)
    order = np.lexsort((t, s))
    s, t = s[order], t[order]
    edge_keys = s * n + t  # sorted
    start = np.searchsorted(s, np.arange(n + 1))
    outdeg = np.diff(start)
    # wedges: for every oriented edge (u, v), every out-neighbour w of v
    reps = outdeg[t]
    u = np.repeat(s, reps)
    v = np.repeat(t, reps)
    first = np.repeat(start[t], reps)
    offset = np.arange(len(u)) - np.repeat(np.cumsum(reps) - reps, reps)
    w = t[first + offset]
    pos = np.searchsorted(edge_keys, u * n + w)
    pos = np.minimum(pos, len(edge_keys) - 1)
    closed = edge_keys[pos] == u * n + w
    return np.bincount(
        np.concatenate([u[closed], v[closed], w[closed]]), minlength=n
    ).astype(np.int64)
