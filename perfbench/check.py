"""Output checks, written in plain numpy so they share no code with the engine.

Skyline: with all dimensions minimised, ``p`` dominates ``q`` when ``p <= q`` in
every dimension and ``p < q`` in at least one.  A result R is the skyline of P
exactly when no row of R is dominated by another row of R and every row of
P \\ R is dominated by some row of R.

Corpus: a query's output is reduced to its row count and an order-insensitive
digest, canonicalised like the repo's oracle gate (columns sorted by name,
rows sorted as text, floats rounded to 9 places).
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os

import numpy as np

_Q_CHUNK = 256
_S_CHUNK = 1024
_CELLS = 16


def dominated_by(Q: np.ndarray, S: np.ndarray, domain: float = 10000.0) -> np.ndarray:
    """Bool mask over the rows of ``Q``: dominated by some row of ``S``.

    Values must be integral (the generator's domain), so for ``s <= q`` the
    strict part of dominance is exactly ``sum(s) < sum(q)``.  ``Q`` is walked
    in spatially compact chunks; each chunk is compared only with the rows of
    ``S`` below the chunk's upper corner, in ascending-sum order, dropping
    rows of the chunk as soon as a dominator is found."""
    Q = np.asarray(Q, dtype=np.int32)
    S = np.asarray(S, dtype=np.int32)
    out = np.zeros(len(Q), dtype=bool)
    if len(Q) == 0 or len(S) == 0:
        return out
    d = Q.shape[1]
    qs = Q.sum(axis=1, dtype=np.int64)
    ss = S.sum(axis=1, dtype=np.int64)
    order = np.argsort(ss, kind="stable")
    S, ss = S[order], ss[order]
    w = int(domain) // _CELLS + 1
    q_order = np.lexsort([qs] + [Q[:, j] // w for j in reversed(range(d - 1))])
    for a in range(0, len(Q), _Q_CHUNK):
        sel = q_order[a:a + _Q_CHUNK]
        Qc, qsum = Q[sel], qs[sel]
        kmax = int(np.searchsorted(ss, qsum.max(), side="left"))
        cand = np.flatnonzero((S[:kmax] <= Qc.max(axis=0)).all(axis=1))
        alive = np.arange(len(sel))
        for k in range(0, len(cand), _S_CHUNK):
            if alive.size == 0:
                break
            idx = cand[k:k + _S_CHUNK]
            C, cs = S[idx], ss[idx]
            Qa = Qc[alive]
            m = cs[None, :] < qsum[alive][:, None]
            for j in range(d):
                m &= C[None, :, j] <= Qa[:, j][:, None]
            hit = m.any(axis=1)
            out[sel[alive[hit]]] = True
            alive = alive[~hit]
    return out


def skyline_problems(P: np.ndarray, result_ids: np.ndarray) -> list[str]:
    """Empty when ``result_ids`` (row ids into ``P``) is exactly the skyline of
    ``P``; otherwise one line per violated condition."""
    ids = np.asarray(result_ids, dtype=np.int64)
    problems = []
    if len(np.unique(ids)) != len(ids):
        problems.append(f"{len(ids) - len(np.unique(ids))} duplicate result ids")
    if len(ids) and (ids.min() < 0 or ids.max() >= len(P)):
        return problems + ["result ids outside the input"]
    in_r = np.zeros(len(P), dtype=bool)
    in_r[ids] = True
    R, rest = P[in_r], P[~in_r]
    n_dom = int(dominated_by(R, R).sum())
    if n_dom:
        problems.append(f"{n_dom} result rows are dominated by another result row")
    n_missing = int((~dominated_by(rest, R)).sum())
    if n_missing:
        problems.append(f"{n_missing} rows outside the result are dominated by no result row")
    return problems


def check_skyline_cached(cache_dir: str, key: str, P: np.ndarray, result_ids) -> list[str]:
    """:func:`skyline_problems`, remembering a verified skyline per input key
    so that a repeat of the same (seed, shape) compares id sets instead."""
    ids = np.sort(np.asarray(result_ids, dtype=np.int64))
    path = os.path.join(cache_dir, f"{key}.npy")
    if os.path.exists(path):
        want = np.load(path)
        if len(want) == len(ids) and np.array_equal(want, ids):
            return []
        return [f"result ids differ from the verified skyline ({len(ids)} vs {len(want)} rows)"]
    problems = skyline_problems(P, ids)
    if not problems:
        os.makedirs(cache_dir, exist_ok=True)
        tmp = path + f".{os.getpid()}.tmp.npy"
        np.save(tmp, ids)
        os.replace(tmp, path)
    return problems


def canon_value(v) -> str:
    if hasattr(v, "item") and type(v).__module__ == "numpy":
        v = v.item()
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return f"decimal:{v}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def table_digest(cols: list[str], rows) -> str:
    """Order-insensitive sha256 of a result table."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()
