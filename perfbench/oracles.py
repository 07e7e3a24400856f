"""Independent NumPy oracles for the benchmark's output checks.

Each function recomputes an operator's answer from the raw edge arrays
with plain NumPy (no Spark, no engine code), so a check fails when the
engine is wrong, not when both sides share a bug. They run outside the
timed region.
"""

from __future__ import annotations

import numpy as np

DAMPING = 0.85
EPS = 1e-4


def pagerank(src, dst, n, iters, init=None, d=DAMPING):
    """``iters`` synchronous power iterations, dangling mass redistributed.

    Returns ``(ranks, residuals)`` where ``residuals[k]`` is the global L1
    change of iteration ``k + 1``.
    """
    out = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out == 0
    w = d / np.where(dangling, 1.0, out)[src]
    r = np.full(n, 1.0 / n) if init is None else np.asarray(init, np.float64).copy()
    residuals = []
    for _ in range(iters):
        base = (1.0 - d) / n + d * float(r[dangling].sum()) / n
        new = np.bincount(dst, weights=w * r[src], minlength=n) + base
        residuals.append(float(np.abs(new - r).sum()))
        r = new
    return r, residuals


def check_pagerank(ranks, src, dst, n, iters, init=None, rounded=None):
    """Problems found in an engine rank vector (empty list = pass).

    The oracle replays the engine's iteration count from the same start
    vector; it must match within 1e-6 per vertex, sum to 1, and that
    count must be where the L1 residual first drops to ``EPS``.
    """
    want, res = pagerank(src, dst, n, iters, init)
    if rounded is not None:
        want = np.round(want, rounded)
    bad = []
    if len(ranks) != n:
        bad.append(f"{len(ranks)} ranks for n={n}")
        return bad
    if not np.allclose(ranks, want, rtol=0.0, atol=1e-6):
        bad.append(f"max |rank - oracle| = {np.abs(ranks - want).max():.3g}")
    # each value rounded to ``rounded`` places is off by up to half a unit
    slack = 1e-9 + (n * 0.5 * 10.0 ** -rounded if rounded is not None else 0.0)
    if abs(float(ranks.sum()) - 1.0) > slack:
        bad.append(f"sum(rank) = {ranks.sum():.9f}")
    if res[-1] > EPS * (1 + 1e-9) or (len(res) > 1 and res[-2] <= EPS * (1 - 1e-9)):
        bad.append(f"stopped at iteration {iters}, oracle residuals end {res[-2:]}")
    return bad


def components(src, dst):
    """``(ids, component)``: every endpoint labelled with the min id of its
    component over the non-loop edges (label propagation + pointer jumps)."""
    ids = np.unique(np.concatenate([src, dst]))
    s, t = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    keep = s != t
    s, t = s[keep], t[keep]
    lab = np.arange(len(ids))
    while True:
        m = np.minimum(lab[s], lab[t])
        new = lab.copy()
        np.minimum.at(new, s, m)
        np.minimum.at(new, t, m)
        new = new[new]
        if np.array_equal(new, lab):
            return ids, ids[lab]
        lab = new


def label_propagation(src, dst, max_iter):
    """``(ids, label)`` after synchronous undirected LPA: each round every
    vertex takes its neighbours' most frequent label (ties to the minimum),
    parallel edges voting once each; stops after a round with no change."""
    ids = np.unique(np.concatenate([src, dst]))
    s, t = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    keep = s != t
    s, t = np.concatenate([s[keep], t[keep]]), np.concatenate([t[keep], s[keep]])
    lab = ids.copy()
    for _ in range(max_iter):
        msg = lab[s]
        o = np.lexsort((msg, t))
        tt, mm = t[o], msg[o]
        starts = np.flatnonzero(np.r_[True, (np.diff(tt) != 0) | (np.diff(mm) != 0)])
        cnt = np.diff(np.r_[starts, len(tt)])
        pt, pm = tt[starts], mm[starts]
        o2 = np.lexsort((pm, -cnt, pt))
        first = o2[np.r_[True, np.diff(pt[o2]) != 0]]
        new = lab.copy()
        new[pt[first]] = pm[first]
        if np.array_equal(new, lab):
            break
        lab = new
    return ids, lab


def simple_adjacency(src, dst, n):
    """Dense symmetric 0/1 adjacency of the simple undirected graph."""
    a = np.zeros((n, n), dtype=np.float64)
    keep = src != dst
    a[src[keep], dst[keep]] = 1.0
    a[dst[keep], src[keep]] = 1.0
    return a


def triangle_count(adj):
    """trace(A^3) / 6, exact in float64 for counts below 2^53."""
    return int(round(float((adj * (adj @ adj)).sum()) / 6.0))


def k_truss(adj, k):
    """Sorted ``(a, b)`` pairs (a < b) of the k-truss by repeated peeling."""
    a = adj.copy()
    while True:
        weak = (a > 0) & ((a @ a) < k - 2)
        if not weak.any():
            break
        a[weak] = 0.0
    i, j = np.nonzero(np.triu(a, 1))
    return np.stack([i, j], axis=1).astype(np.int64)
