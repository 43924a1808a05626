"""Seeded inputs owned by the benchmark.

The point formulas reimplement the reference producer's uniform and
anti-correlated distributions (all dimensions minimised, integer domain
[0, 10000]): an anti-correlated point is a random direction scaled onto the
hyperplane ``sum(v) ~ d * domain / 2``, with a thickness that depends on d.
They are written here, not imported from the engine, so that no change to
the program can alter what the benchmark feeds it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOMAIN = 10000.0
EPSILON = {2: 0.0005, 3: 0.05, 4: 0.9}
_DIST_CODE = {"uniform": 0, "anti_correlated": 1}


def points(n: int, d: int, dist: str, seed: int, domain: float = DOMAIN) -> np.ndarray:
    """(n, d) float64 array of integral values in [0, domain]."""
    rng = np.random.default_rng([seed, _DIST_CODE[dist], d, n])
    if dist == "uniform":
        raw = np.floor(rng.random((n, d)) * (domain + 1))
    else:
        mean = domain / 2.0 * d
        slack = EPSILON[d] * domain * d
        target = rng.random(n) * (2 * slack) + (mean - slack)
        unit = rng.random((n, d))
        total = unit.sum(axis=1)
        scale = np.divide(target, total, out=np.ones(n), where=total != 0)
        raw = np.floor(unit * scale[:, None])
    return np.clip(raw, 0.0, domain)


def dim_names(d: int) -> list[str]:
    return [f"v{i}" for i in range(d)]


def write_points_parquet(path: str, pts: np.ndarray) -> None:
    """``id bigint, v0..v{d-1} double``, one file, written atomically."""
    cols = {"id": pa.array(np.arange(len(pts), dtype=np.int64))}
    for i, name in enumerate(dim_names(pts.shape[1])):
        cols[name] = pa.array(pts[:, i])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(pa.table(cols), tmp, compression="snappy")
    os.replace(tmp, path)


def wire_lines(pts: np.ndarray) -> list[str]:
    """CSV wire records ``"ID,v1,v2,..."`` (the reference's data format)."""
    ints = pts.astype(np.int64)
    return [
        ",".join([str(i), *map(str, row)])
        for i, row in enumerate(ints.tolist())
    ]


def write_lines(dir_path: str, name: str, lines: list[str]) -> str:
    """Write one text file into a watched directory, atomically (write to a
    hidden temp name, then rename), so a file source never sees it half
    written."""
    os.makedirs(dir_path, exist_ok=True)
    final = os.path.join(dir_path, name)
    tmp = os.path.join(dir_path, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.replace(tmp, final)
    return final
