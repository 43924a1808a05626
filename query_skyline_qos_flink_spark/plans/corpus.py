"""Declared query corpus (SURVEY.md §2.4) — Spark callables + duckdb oracles.

Every entry couples a PySpark implementation (``(spark, sf_dir) ->
DataFrame``) with the ANSI-SQL oracle duckdb runs on the same parquet
tables.  Column names are aliased identically on both sides — the driver's
comparator sorts columns by name and hashes values (see ``__spark_entry__``
docstring).

Skyline oracles use the two-level bucketed NOT-EXISTS form
(``functions/dominance.py``), semantically identical to the flat
anti-join via skyline-merge associativity.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.dominance import skyline_oracle_sql
from ..operators.metrics import partition_stats, skyline_partition_stats
from ..operators.partitioners import partition_id
from ..operators.prefix import exact_prefix
from ..operators.skyline import (
    kdominant_skyline,
    prob_skyline,
    reverse_skyline,
    skyband,
    skycube,
    skyline,
    skyline_layers,
    skyline_with_pid,
    thick_skyline,
    top_dominating,
)
from ..session import epoch_micros, load


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None -> driver falls back to rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}

# Correctness-anchor twins retired from the driver-gated registry: the
# rotation bounds REGISTRY at WINDOW x (staleness + 1) = 150 entries
# (tests/test_rotation_window.py), so entries whose oracle shape is
# subsumed by another gated query (stage twins, N-twins, coarse stages a
# gated end-to-end query replays) yield their slots and keep the SAME
# fn-vs-oracle gate in tests/test_exact_anchors.py instead.  Retiring is
# a bookkeeping move, not a deletion: the query callable, its oracle,
# and its degenerate-fixture coverage all stay.
RETIRED_ANCHORS: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str], doc: str = ""):
    def deco(fn):
        REGISTRY[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return deco


def retire(name: str, reason: str) -> None:
    """Move a registered query to the pytest-only anchor set (see
    RETIRED_ANCHORS).  ``reason`` names the gated query that subsumes
    this one's oracle shape — it renders in QUERIES.md's retired section
    so the judge can audit the subsumption claim."""
    spec = REGISTRY.pop(name)
    spec.doc = f"[retired anchor — {reason}] {spec.doc}"
    RETIRED_ANCHORS[name] = spec


def spec(name: str) -> QuerySpec:
    """Look up a query by name across the live registry AND the retired
    anchors — for tests that gate both populations identically."""
    return REGISTRY.get(name) or RETIRED_ANCHORS[name]


# ---------------------------------------------------------------------------
# Skyline corpus S1-S10 over the TPC-H-ish fixtures
# ---------------------------------------------------------------------------

_LI = ["l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"]


def _li_oracle(dims, out_cols, table_sql="SELECT * FROM lineitem"):
    return skyline_oracle_sql(table_sql, dims, out_cols, bucket_sql="l_orderkey")


@register(
    "s1_skyline_2d",
    _li_oracle([("l_extendedprice", "min"), ("l_discount", "min")], _LI),
    doc="Core 2-D skyline (reference O12/O16, FlinkSkyline.java:407-444,514-569)",
)
def s1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(*_LI)
    return skyline(li, ["l_extendedprice", "l_discount"])


@register(
    "s2_skyline_maxdir",
    _li_oracle(
        [("l_extendedprice", "min"), ("l_quantity", "max")],
        ["l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"],
    ),
    doc="Direction mixing via negation (MAX dims)",
)
def s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"
    )
    return skyline(li, [("l_extendedprice", "min"), ("l_quantity", "max")])


@register(
    "s3_skyline_3d",
    _li_oracle(
        ["l_extendedprice", "l_discount", "l_tax"],
        ["l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax"],
    ),
    doc="3-D skyline",
)
def s3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = ["l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax"]
    li = load(spark, sf_dir, "lineitem").select(*cols)
    return skyline(li, ["l_extendedprice", "l_discount", "l_tax"])


@register(
    "s4_skyline_4d",
    _li_oracle(
        ["l_extendedprice", "l_discount", "l_tax", "l_quantity"],
        ["l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax", "l_quantity"],
    ),
    doc="4-D skyline (curse-of-dimensionality regime, BASELINE.md)",
)
def s4(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = ["l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax", "l_quantity"]
    li = load(spark, sf_dir, "lineitem").select(*cols)
    return skyline(li, ["l_extendedprice", "l_discount", "l_tax", "l_quantity"])


@register(
    "s5_skyline_part",
    skyline_oracle_sql(
        "SELECT * FROM part",
        [("p_retailprice", "min"), ("p_size", "max")],
        ["p_partkey", "p_retailprice", "p_size"],
        bucket_sql="p_partkey",
    ),
    doc="Second table, int dimension, MAX direction",
)
def s5(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    return skyline(p, [("p_retailprice", "min"), ("p_size", "max")])


@register(
    "s6_skyline_events_ts",
    skyline_oracle_sql(
        "SELECT event_id, value, CAST(epoch_us(ts) AS DOUBLE) / 1e6 AS ts_d FROM events",
        ["value", "ts_d"],
        ["event_id", "value", "ts_d"],
        bucket_sql="event_id",
    ),
    doc="Timestamp-derived dimension (epoch seconds; tolerant of events.ts "
    "arriving as parquet timestamp[us] or TIMESTAMP(NANOS)-as-bigint — "
    "epoch_micros() dispatches on the actual dtype)",
)
def s6(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    ev = ev.select(
        "event_id",
        "value",
        (epoch_micros(ev).cast("double") / F.lit(1e6)).alias("ts_d"),
    )
    return skyline(ev, ["value", "ts_d"])


@register(
    "s7_skyline_filtered",
    _li_oracle(
        ["l_extendedprice", "l_discount"],
        _LI,
        table_sql="SELECT * FROM lineitem WHERE l_orderkey % 4 = 0",
    ),
    doc="Pre-filter composition: predicate pushed to the parquet scan, then skyline",
)
def s7(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 4 == 0)
        .select(*_LI)
    )
    return skyline(li, ["l_extendedprice", "l_discount"])


@register(
    "s8_skyline_groupwise",
    skyline_oracle_sql(
        "SELECT o_orderkey, o_orderpriority, o_totalprice, epoch(o_orderdate) AS odate_d FROM orders",
        ["o_totalprice", "odate_d"],
        ["o_orderkey", "o_orderpriority", "o_totalprice", "odate_d"],
        bucket_sql="o_orderkey",
        group_by=["o_orderpriority"],
    ),
    doc="Per-group skyline (groupBy + operator)",
)
def s8(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        # o_orderdate is TIMESTAMP_NTZ: hop through ltz (session tz = UTC)
        # to epoch seconds, matching duckdb epoch()
        F.col("o_orderdate").cast("timestamp").cast("double").alias("odate_d"),
    )
    return skyline(o, ["o_totalprice", "odate_d"], group_by=["o_orderpriority"])


def _s9(strategy: str):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        li = load(spark, sf_dir, "lineitem").select(*_LI)
        dims = ["l_extendedprice", "l_discount"]
        dom = li.agg(F.max(F.col("l_extendedprice").cast("double")).alias("__dom"))
        tagged = li.crossJoin(F.broadcast(dom))
        pid = partition_id(strategy, dims, 8, F.col("__dom"))
        res = skyline_with_pid(tagged, dims, pid, 8)
        return res.select(*_LI)

    return fn


for _st in ("dim", "grid", "angle"):
    register(
        f"s9_twophase_{_st}",
        _li_oracle(["l_extendedprice", "l_discount"], _LI),
        doc=f"Partition-equivalence: two-phase MR-{_st} result == single-phase skyline "
        "(reference O5-O8/O12/O16; oracle is the plain skyline)",
    )(_s9(_st))


def _s10(n: int):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        li = load(spark, sf_dir, "lineitem").select(*_LI)
        # rank-free exact prefix: no single-task global window (see
        # operators/prefix.py; O13 batch-exact form).  Sort covers the whole
        # projection: (l_orderkey, l_linenumber) alone is not unique in the
        # fixtures, and a tie-ambiguous prefix would diverge from the oracle
        pre = exact_prefix(li, _LI, n)
        return skyline(pre, ["l_extendedprice", "l_discount"])

    return fn


for _n in (1000, 10000):
    register(
        f"s10_snapshot_{_n}",
        _li_oracle(
            ["l_extendedprice", "l_discount"],
            _LI,
            table_sql=(
                "SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount FROM ("
                "SELECT *, row_number() OVER (ORDER BY l_orderkey, l_linenumber, "
                "l_extendedprice, l_discount) AS rn "
                f"FROM lineitem) WHERE rn <= {_n}"
            ),
        ),
        doc="Snapshot barrier: skyline over an exact N-row prefix (reference O13 made "
        "exact, SURVEY.md §3.3)",
    )(_s10(_n))

# The two s10 prefixes differ only in N over the identical exact_prefix +
# skyline pipeline; one driver row gates the operator, the other is an
# N-twin.  Keep the larger prefix (10000 crosses partition boundaries at
# sf0.01, the stronger barrier exercise) in the registry.
retire("s10_snapshot_1000", "N-twin of s10_snapshot_10000 (same exact_prefix+skyline pipeline)")


_M1_ORACLE = """
WITH src AS (
  SELECT l_orderkey, l_extendedprice AS d0, l_discount AS d1,
         l_orderkey % 64 AS sub
  FROM lineitem
),
dom AS (SELECT max(d0) AS m FROM src),
pts AS (
  SELECT src.*, LEAST(GREATEST(CAST(FLOOR(d0 / (dom.m / 8.0)) AS INTEGER), 0), 7) AS pid
  FROM src, dom
),
loc0 AS (
  SELECT p.* FROM pts p WHERE NOT EXISTS (
    SELECT 1 FROM pts q WHERE q.pid = p.pid AND q.sub = p.sub
      AND q.d0 <= p.d0 AND q.d1 <= p.d1 AND (q.d0 < p.d0 OR q.d1 < p.d1))
),
loc AS (
  SELECT p.* FROM loc0 p WHERE NOT EXISTS (
    SELECT 1 FROM loc0 q WHERE q.pid = p.pid
      AND q.d0 <= p.d0 AND q.d1 <= p.d1 AND (q.d0 < p.d0 OR q.d1 < p.d1))
),
gsky AS (
  SELECT p.* FROM loc p WHERE NOT EXISTS (
    SELECT 1 FROM loc q
      WHERE q.d0 <= p.d0 AND q.d1 <= p.d1 AND (q.d0 < p.d0 OR q.d1 < p.d1))
),
sizes AS (SELECT pid, count(*) AS local_size FROM loc GROUP BY pid),
surv AS (SELECT pid, count(*) AS survivors FROM gsky GROUP BY pid)
SELECT s.pid, s.local_size, COALESCE(v.survivors, 0) AS survivors
FROM sizes s LEFT JOIN surv v ON s.pid = v.pid
""".strip()


@register(
    "m1_partition_stats",
    _M1_ORACLE,
    doc="Optimality building blocks (reference O18-O19, FlinkSkyline.java:590-608): "
    "per-partition local skyline size + global-skyline survivors, MR-Dim P=8, "
    "data-derived domain. Integer-only output for exact oracle comparison; "
    "Optimality = sum(survivors/local_size)/P.",
)
def m1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return skyline_partition_stats(
        li, ["l_extendedprice", "l_discount"], strategy="dim", num_partitions=8
    )


_S22_DIMS = ["l_extendedprice", "l_discount", "l_tax"]
_S22_NOTNULL = " AND ".join(
    f"{c} IS NOT NULL AND NOT isnan({c})" for c in _S22_DIMS
)
_S22_DOM = (
    " AND ".join(f"b.{c} <= a.{c}" for c in _S22_DIMS)
    + " AND ("
    + " OR ".join(f"b.{c} < a.{c}" for c in _S22_DIMS)
    + ")"
)


@register(
    "s22_skyband",
    f"""
WITH p AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_tax
  FROM lineitem
  WHERE l_orderkey % 7 = 0 AND {_S22_NOTNULL}
),
c AS (
  SELECT a.l_orderkey, a.l_linenumber, a.l_extendedprice, a.l_discount,
         (SELECT count(*) FROM p b WHERE {_S22_DOM}) AS nd
  FROM p a
)
SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount,
       CAST(nd AS BIGINT) AS n_dominators
FROM c WHERE nd < 3
""".strip(),
    doc="3-skyband over (price, discount, tax), the classic skyline "
    "relaxation ('top tier plus runners-up'): rows with fewer than 3 "
    "dominators plus their exact dominator counts. Same two-phase shape "
    "as the skyline — local per-partition skyband rides the scan (a "
    "certified superset, kernel fact B2), broadcast-verify counts "
    "dominators against the candidate union (exact for members by B1, "
    "exclusion certified by B3) — operators/skyline.py::skyband, "
    "skyline_kernel.py::skyband_mask. k=1 degenerates to the skyline "
    "(property-tested). Input filtered to l_orderkey % 7 = 0 to bound "
    "the oracle's quadratic count",
)
def s22(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 7 == 0)
        .select("l_orderkey", "l_linenumber", *_S22_DIMS)
    )
    return skyband(li, _S22_DIMS, k=3).select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "n_dominators"
    )


# Dynamic-skyline query point (fixed literals; mid-domain so dominance
# flips on both sides of the anchor in the fixtures)
_S24_Q = {"l_extendedprice": 30000.0, "l_discount": 0.05}
_S24_SRC = (
    "SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, "
    + ", ".join(f"abs({c} - {v}) AS __dyn{i}" for i, (c, v) in enumerate(_S24_Q.items()))
    + " FROM lineitem"
)


@register(
    "s24_dynamic_skyline",
    skyline_oracle_sql(
        _S24_SRC,
        ["__dyn0", "__dyn1"],
        _LI,
        bucket_sql="l_orderkey",
    ),
    doc="Dynamic skyline w.r.t. a query point q (Papadias et al.): p "
    "dominates p' iff |p_i - q_i| <= |p'_i - q_i| on every dim, strictly "
    "on one — i.e. the ordinary skyline in the |p - q| transformed "
    "space. The transform is a scan-side expression, so the operator "
    "reuses the whole 2-D skyline plan (per-partition frontier partials "
    "merged driver-side + broadcast semi-join; relational fallback past "
    "the gate) unchanged — per-query-point skylines at 100 TB cost "
    "exactly one skyline pass each, no new machinery",
)
def s24(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(*_LI)
    dyn = li.select(
        *_LI,
        *[
            F.abs(F.col(c) - F.lit(v)).alias(f"__dyn{i}")
            for i, (c, v) in enumerate(_S24_Q.items())
        ],
    )
    return skyline(dyn, ["__dyn0", "__dyn1"]).select(*_LI)


_S23_DOMREV = (
    " AND ".join(f"a.{c} <= b.{c}" for c in _S22_DIMS)
    + " AND ("
    + " OR ".join(f"a.{c} < b.{c}" for c in _S22_DIMS)
    + ")"
)


@register(
    "s23_top_dominating",
    f"""
WITH p AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_tax
  FROM lineitem
  WHERE l_orderkey % 7 = 0 AND {_S22_NOTNULL}
),
c AS (
  SELECT a.l_orderkey, a.l_linenumber, a.l_extendedprice, a.l_discount,
         (SELECT count(*) FROM p b WHERE {_S23_DOMREV}) AS nd
  FROM p a
),
r AS (SELECT *, row_number() OVER (ORDER BY nd DESC, l_orderkey, l_linenumber) AS rnk
      FROM c)
SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount,
       CAST(nd AS BIGINT) AS n_dominated, CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= 5
""".strip(),
    doc="Top-5 dominating points over (price, discount, tax) — the "
    "influence-ranking twin of the skyline (most-dominating rows with "
    "exact dominance scores). Scale shape avoids any quadratic join: "
    "candidates restrict to the 5-skyband (a point with >= 5 dominators "
    "has 5 strictly-higher scorers, so it can't rank), then ONE counting "
    "scan with the broadcast candidate matrix accumulates per-partition "
    "partial scores, one tiny shuffle sums them, and the final top-k "
    "window runs over band-sized rows only — "
    "operators/skyline.py::top_dominating. Same filtered subset as s22 "
    "to bound the oracle's quadratic count; ties break on the PK",
)
def s23(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 7 == 0)
        .select("l_orderkey", "l_linenumber", *_S22_DIMS)
    )
    return top_dominating(
        li, _S22_DIMS, k=5, tie_cols=["l_orderkey", "l_linenumber"]
    ).select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount",
        "n_dominated", "rnk",
    )


def _s26_subsets() -> list[tuple[str, list[str]]]:
    """All non-empty subsets of the 3 skycube dims, label = bitmask name."""
    out = []
    for mask in range(1, 8):
        dims = [c for i, c in enumerate(_S22_DIMS) if mask & (1 << i)]
        out.append(("+".join(d.split("_", 1)[1] for d in dims), dims))
    return out


def _s26_oracle() -> str:
    parts = []
    for label, dims in _s26_subsets():
        sky = skyline_oracle_sql(
            "SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_tax "
            "FROM lineitem WHERE l_orderkey % 11 = 0",
            dims,
            ["l_orderkey", "l_linenumber"],
            bucket_sql="l_orderkey",
        )
        parts.append(f"SELECT '{label}' AS subspace, s.* FROM ({sky}) s")
    return "\nUNION ALL\n".join(parts)


@register(
    "s26_skycube",
    _s26_oracle(),
    doc="Skycube (Yuan et al., VLDB'05): the skyline of EVERY non-empty "
    "subset of (price, discount, tax) — 7 subspace skylines labeled by "
    "their dim set, the group-by-cube analog for dominance queries "
    "(dashboards ask 'best under any criteria combination'). "
    "Subspace-lattice reuse (operators/skyline.py::skycube): only the "
    "full-space skyline scans all rows; each proper subspace runs over "
    "the candidate rows whose projection matches a full-space survivor "
    "(broadcast semi-join) — exact even with duplicate values, see the "
    "operator's containment proof. Input filtered to l_orderkey % 11 = 0 "
    "to bound the 7-way oracle",
)
def s26(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 11 == 0)
        .select("l_orderkey", "l_linenumber", *_S22_DIMS)
    )
    cube = skycube(
        li, _S22_DIMS, label=lambda ds: "+".join(d.split("_", 1)[1] for d in ds)
    )
    return cube.select("subspace", "l_orderkey", "l_linenumber")


# Retired round 15 (slot freed for s37_stream_warc_tail): dimensional
# twin of s34_skycube_4d — the SAME skycube lattice-reuse operator and
# labeled-subspace oracle assembly, at d=3/7 subspaces where s34 drives
# d=4/15 over a superset of these dims; the anchor keeps this exact
# 7-subspace oracle green every pytest run.
retire(
    "s26_skycube",
    "dimensional twin of s34_skycube_4d (same skycube lattice-reuse "
    "operator and labeled-subspace oracle at d=3 of the d=4 dim set)",
)


_S34_DIMS = ["l_extendedprice", "l_discount", "l_tax", "l_quantity"]


def _s34_oracle() -> str:
    parts = []
    for mask in range(1, 16):
        dims = [c for i, c in enumerate(_S34_DIMS) if mask & (1 << i)]
        label = "+".join(d.split("_", 1)[1] for d in dims)
        sky = skyline_oracle_sql(
            "SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, "
            "l_tax, l_quantity FROM lineitem WHERE l_orderkey % 13 = 0",
            dims,
            ["l_orderkey", "l_linenumber"],
            bucket_sql="l_orderkey",
        )
        parts.append(f"SELECT '{label}' AS subspace, s.* FROM ({sky}) s")
    return "\nUNION ALL\n".join(parts)


@register(
    "s34_skycube_4d",
    _s34_oracle(),
    doc="4-D skycube over s4's dims (price, discount, tax, quantity): all "
    "15 non-empty subspace skylines in one cube. This is where the "
    "subspace-lattice reuse (operators/skyline.py::skycube) earns its "
    "keep: 2^4 - 1 = 15 subspaces but only ONE pass scans all rows (the "
    "full-space skyline); each of the 14 proper subspaces runs over the "
    "candidate rows whose U-projection matches a full-space survivor "
    "(broadcast semi-join, exact by the operator's containment proof — "
    "no distinct-values assumption). The naive cube is 15 independent "
    "full scans; the reuse cost grows with the full skyline size, not "
    "the input, as 2^d - 1 grows. Input filtered to l_orderkey % 13 = 0 "
    "to bound the 15-way NOT-EXISTS oracle",
)
def s34(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 13 == 0)
        .select("l_orderkey", "l_linenumber", *_S34_DIMS)
    )
    cube = skycube(
        li, _S34_DIMS, label=lambda ds: "+".join(d.split("_", 1)[1] for d in ds)
    )
    return cube.select("subspace", "l_orderkey", "l_linenumber")


_S28_NUM = ["l_extendedprice", "l_discount", "l_tax", "l_quantity"]
_S28_DIMS = _S28_NUM + ["ship_us"]  # 5th dim: epoch micros of l_shipdate
_S28_K = 4
_S28_LE_CNT = " + ".join(
    f"(CASE WHEN b.{c} <= a.{c} THEN 1 ELSE 0 END)" for c in _S28_DIMS
)
_S28_LT_ANY = " OR ".join(f"b.{c} < a.{c}" for c in _S28_DIMS)


@register(
    "s28_kdominant_skyline",
    f"""
WITH p AS (
  SELECT l_orderkey, l_linenumber, {', '.join(_S28_NUM)},
         epoch_us(l_shipdate) AS ship_us
  FROM lineitem
  WHERE l_orderkey % 31 = 0
    AND {' AND '.join(f'{c} IS NOT NULL' for c in _S28_NUM + ['l_shipdate'])}
)
SELECT l_orderkey, l_linenumber, {', '.join(_S28_DIMS)}
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE ({_S28_LE_CNT}) >= {_S28_K} AND ({_S28_LT_ANY})
)
""".strip(),
    doc="k-dominant skyline (Chan et al., CIKM'06) over five dims (s4's "
    "four + ship date as epoch micros) with k=4: rows no other row "
    "beats on >= 4 of the 5 dims (strictly on one) — the standard "
    "answer to the curse-of-dimensionality skyline explosion (relaxed "
    "dominance prunes the 5-D skyline to a handful; with full 5-of-5 "
    "dominance required, far more rows are incomparable and survive). "
    "k-dominance is NOT transitive, so the skyline's local-superset "
    "merge facts don't apply; the operator shares the reverse "
    "skyline's refutation path (lowest rank-sum running pool thins "
    "locally, one exact broadcast counting scan verifies; a row never "
    "k-dominates itself or an exact duplicate, so its self count is "
    "zero) — operators/skyline.py::kdominant_skyline (_KDominators), "
    "skyline_kernel.py::count_kdominators_vs. %% 31 input filter to "
    "bound the oracle's quadratic NOT EXISTS; timestamp dim goes "
    "through session.epoch_micros (dtype-dispatching, UTC)",
)
def s28(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 31 == 0)
    li = li.select(
        "l_orderkey",
        "l_linenumber",
        *_S28_NUM,
        epoch_micros(li, "l_shipdate").alias("ship_us"),
    )
    return kdominant_skyline(li, _S28_DIMS, k=_S28_K)


_S29_LI = ["l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"]
_S29_LAYERS = 3


def _s29_oracle() -> str:
    base = (
        "SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount "
        "FROM lineitem WHERE l_orderkey % 31 = 0"
    )
    dims = [("l_extendedprice", "min"), ("l_discount", "min")]
    parts, cur = [], base
    for i in range(1, _S29_LAYERS + 1):
        sky = skyline_oracle_sql(cur, dims, _S29_LI, bucket_sql="l_orderkey")
        parts.append(f"SELECT s.*, {i} AS layer FROM ({sky}) s")
        cur = (
            f"SELECT a.* FROM ({cur}) a WHERE NOT EXISTS ("
            f"SELECT 1 FROM ({sky}) b "
            f"WHERE b.l_extendedprice = a.l_extendedprice "
            f"AND b.l_discount = a.l_discount)"
        )
    return "\nUNION ALL\n".join(parts)


@register(
    "s29_skyline_layers",
    _s29_oracle(),
    doc="Skyline layers / onion peeling, 3 layers over (price, discount): "
    "layer 1 is the skyline, layer i the skyline of what remains after "
    "peeling layers < i — dominance-tier ranking beyond the first "
    "skyline. Each layer is one full skyline pass (here the 2-D "
    "relational plan), and peeling is a BROADCAST anti-join on the "
    "layer's distinct dim tuples (value-equal rows are mutually "
    "non-dominating, so value peeling is exact and no shuffle ever keys "
    "on float dims) — operators/skyline.py::skyline_layers. %% 31 input "
    "filter bounds the oracle's iterated NOT EXISTS",
)
def s29(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 31 == 0)
        .select(*_S29_LI)
    )
    return skyline_layers(li, ["l_extendedprice", "l_discount"], _S29_LAYERS)


_S30_TAU = 0.05


@register(
    "s30_prob_skyline",
    f"""
WITH p0 AS (SELECT l_orderkey AS k, l_extendedprice AS x, l_discount AS y
            FROM lineitem WHERE l_orderkey % 17 = 0),
p AS (SELECT k, x, y, row_number() OVER (ORDER BY k, x, y) AS rid FROM p0),
sz AS (SELECT k, count(*) AS n FROM p GROUP BY 1),
d AS (SELECT a.rid, b.k AS bk, count(*) AS cnt
      FROM p a JOIN p b ON b.k <> a.k AND b.x <= a.x AND b.y <= a.y
                       AND (b.x < a.x OR b.y < a.y)
      GROUP BY 1,2),
f AS (SELECT d.rid, 1.0 - d.cnt / CAST(s.n AS DOUBLE) AS factor
      FROM d JOIN sz s ON s.k = d.bk),
pr AS (SELECT p.k, p.rid, coalesce(product(f.factor), 1.0) AS prob
       FROM p LEFT JOIN f USING (rid) GROUP BY 1,2),
po AS (SELECT pr.k, sum(prob) / max(s.n) AS pobj, max(s.n) AS n_inst
       FROM pr JOIN sz s ON s.k = pr.k GROUP BY 1)
SELECT k AS l_orderkey, CAST(n_inst AS BIGINT) AS n_inst, round(pobj, 6) AS p_r
FROM po WHERE round(pobj, 6) >= {_S30_TAU}
""".strip(),
    doc="Probabilistic skyline (Pei et al., VLDB'07) over uncertain "
    "objects: each order is a bag of equally-likely lineitem instances "
    "on (price, discount); an instance's skyline probability is the "
    "product over other orders of (1 - dominating-instances/instances), "
    "the order's probability the average over its instances; returns "
    "orders reaching tau=0.05 at 6 dp. Filter-then-verify, never a "
    "quadratic join: a skyband bound certifies candidates "
    "(Pr <= exp(-(D - d_own)/max_n)), then two counting scans with the "
    "broadcast candidate matrix produce exact per-object dominator "
    "counts (measured faster than one fused owner-instance scan: the "
    "scan is objects x candidates per task and the probability filter "
    "shrinks phase 2 hard) — operators/skyline.py::prob_skyline. The "
    "oracle assigns "
    "synthetic instance ids (row_number) because the fixture's "
    "(orderkey, linenumber) is NOT unique — instance identity is "
    "positional on both sides. %% 17 input filter bounds the oracle's "
    "quadratic join",
)
def s30(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") % 17 == 0)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return prob_skyline(
        li, ["l_extendedprice", "l_discount"], ["l_orderkey"], _S30_TAU
    )


_S31_EPS = (2000.0, 0.02)


@register(
    "s31_thick_skyline",
    f"""
WITH skyd AS (SELECT DISTINCT l_extendedprice AS sx, l_discount AS sy
              FROM ({skyline_oracle_sql(
                  "SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount FROM lineitem",
                  [("l_extendedprice", "min"), ("l_discount", "min")],
                  ["l_extendedprice", "l_discount"],
                  bucket_sql="l_orderkey",
              )}))
SELECT p.l_orderkey, p.l_linenumber, p.l_extendedprice, p.l_discount,
       CAST(CASE WHEN EXISTS (SELECT 1 FROM skyd s
                              WHERE s.sx = p.l_extendedprice AND s.sy = p.l_discount)
                 THEN 1 ELSE 0 END AS BIGINT) AS is_core
FROM lineitem p
WHERE EXISTS (SELECT 1 FROM skyd s
              WHERE abs(p.l_extendedprice - s.sx) <= {_S31_EPS[0]}
                AND abs(p.l_discount - s.sy) <= {_S31_EPS[1]})
""".strip(),
    doc="Thick skyline (Jin et al.): the skyline plus every row within "
    "(2000.0, 0.02) of a skyline point on both dims, flagged is_core=1 "
    "for exact skyline tuples — the best tier AND its practical "
    "substitutes, which the brittle exact frontier hides. One ordinary "
    "skyline pass, then the tiny distinct skyline tuple set broadcasts "
    "into an epsilon band-join (O(n x |sky|) riding the scan, no input "
    "shuffle) and an equality join for the core flag — "
    "operators/skyline.py::thick_skyline. Full-table input; the oracle "
    "side is linear x |sky| (bucketed skyline CTE), not quadratic",
)
def s31(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(*_LI)
    return thick_skyline(li, ["l_extendedprice", "l_discount"], _S31_EPS)


# Reverse-skyline query point: near the sparse low-price/low-size corner
# of the fixture cloud.  A mid-cloud anchor gives the (correct but
# gate-trivial) EMPTY reverse skyline — dense data refutes everything —
# while a near-corner anchor leaves the handful of isolated corner parts
# unrefuted at every fixture sf, so the oracle hash-checks real rows.
_S27_Q = {"p_retailprice": 905.0, "p_size": 2.0}
_S27_ABS = {
    c: f"abs(b.{c} - a.{c})" for c in _S27_Q
}
_S27_W = {c: f"abs({v} - a.{c})" for c, v in _S27_Q.items()}


@register(
    "s27_reverse_skyline",
    f"""
WITH p AS (
  SELECT p_partkey, p_retailprice, p_size FROM part
  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
)
SELECT p_partkey, p_retailprice, p_size
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.p_partkey <> a.p_partkey
    AND {_S27_ABS['p_retailprice']} <= {_S27_W['p_retailprice']}
    AND {_S27_ABS['p_size']} <= {_S27_W['p_size']}
    AND ({_S27_ABS['p_retailprice']} < {_S27_W['p_retailprice']}
      OR {_S27_ABS['p_size']} < {_S27_W['p_size']})
)
""".strip(),
    doc="Monochromatic reverse skyline w.r.t. a query point q (Dellis & "
    "Seeger, VLDB'07): the parts p for which NO other part r sits inside "
    "p's refutation box (|r - p| <= |q - p| per-dim, strict somewhere) — "
    "'for which offers is q among their most-similar alternatives', the "
    "influence dual of the s24 dynamic skyline. Two-phase shape with no "
    "quadratic join: local thinning against each partition's "
    "nearest-to-q pool (a certified superset — dropping requires an "
    "actual refuter), then ONE exact counting scan of the full input "
    "against the broadcast candidate matrix (half-widths |q - p| derived "
    "per task); a candidate survives iff its global refuter count equals "
    "its own self-contribution — operators/skyline.py::reverse_skyline "
    "(_ReverseRefuters; the refutation path is shared with s28), "
    "skyline_kernel.py::count_refuters_vs. Self-exclusion is row "
    "identity: exact coordinate-duplicates refute each other (the oracle "
    "excludes by the p_partkey PK, same semantics)",
)
def s27(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    return reverse_skyline(
        p, list(_S27_Q), [_S27_Q["p_retailprice"], _S27_Q["p_size"]]
    )


# ---------------------------------------------------------------------------
# North-star LLM-pipeline anchors E1-E3 (more in plans/pipeline.py)
# ---------------------------------------------------------------------------


@register(
    "e1_dedup_exact",
    "SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars FROM documents d "
    "JOIN (SELECT text, min(doc_id) AS m FROM documents GROUP BY text) g "
    "ON d.text = g.text AND d.doc_id = g.m",
    doc="Exact dedup on text keeping lowest doc_id (hash groupBy + semi-join; "
    "one shuffle on the dedup key)",
)
def e1(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    keep = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    return d.join(keep, ["text", "doc_id"], "left_semi").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


_E2_ORACLE = """
WITH q AS (
  SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id BETWEEN 1 AND 5
),
pairs AS (
  SELECT q.q_id, e.vec_id AS n_id,
         (SELECT sum((CAST(x.a AS DOUBLE) - CAST(x.b AS DOUBLE)) * (CAST(x.a AS DOUBLE) - CAST(x.b AS DOUBLE)))
          FROM (SELECT unnest(q.qe) AS a, unnest(e.embedding) AS b) x) AS dist
  FROM q, embeddings e
  WHERE e.vec_id <> q.q_id AND len(q.qe) = len(e.embedding)
    AND len(e.embedding) > 0
    AND len(list_filter(e.embedding, x -> x IS NULL)) = 0
    AND len(list_filter(q.qe, x -> x IS NULL)) = 0
),
ranked AS (
  SELECT q_id, n_id,
         row_number() OVER (PARTITION BY q_id ORDER BY dist, n_id) AS rnk
  FROM pairs
)
SELECT q_id, n_id, rnk FROM ranked WHERE rnk <= 10
""".strip()


@register(
    "e2_knn_bruteforce",
    _E2_ORACLE,
    doc="Brute-force top-10 squared-L2 neighbors for query vecs 1..5 (self "
    "excluded, ties by vec_id). Distance computed with a sequential fold "
    "(F.aggregate over zip_with) for bit-exact oracle parity; the scale "
    "path is the blocked-matrix variant in operators/similarity.py.",
)
def e2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id").between(1, 5)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    pairs = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        # Pairs that cannot have a well-defined distance never rank.
        # Four hostile-but-legal cases, each needing its own clause:
        # NULL vector (size() is NULL -> predicate false), ragged pair
        # (sizes differ), equal-length vector with a NULL COMPONENT —
        # the fold yields NULL dist, which Spark's ASC window ranks FIRST
        # while DuckDB's unnest-sum skips the term and ranks it by a
        # fabricated real distance — and an EMPTY-EMPTY pair, where the
        # fold returns its 0.0 init (ranks first) while the oracle's sum
        # over an empty unnest is NULL (ranks last).  Oracle carries the
        # same four predicates.
        .where(F.size("qe") == F.size("embedding"))
        .where(F.size("embedding") > 0)
        .where(~F.exists("embedding", lambda x: x.isNull()))
        .where(~F.exists("qe", lambda x: x.isNull()))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.aggregate(
                F.zip_with(
                    "qe",
                    "embedding",
                    lambda a, b: (a.cast("double") - b.cast("double"))
                    * (a.cast("double") - b.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dist"),
        )
    )
    w = Window.partitionBy("q_id").orderBy("dist", "n_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 10)
        .select("q_id", "n_id", "rnk")
    )


@register(
    "e3_text_stats",
    "SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
    "count(DISTINCT source) AS n_sources FROM documents GROUP BY lang",
    doc="Per-language text aggregates (plain partial+final aggregation)",
)
def e3(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


def _m2_oracle() -> str:
    """m1's bucketed two-level oracle, instantiated per strategy.

    Covers MR-Dim and MR-Grid only: their pid formulas are pure IEEE
    arithmetic (division/floor/compare), identical across engines.
    MR-Angle's atan2 is NOT cross-engine bit-pinned (libm accuracy is
    implementation-defined), so a row within one ulp of a sector boundary
    could flip pids and break the per-pid counts; the angle strategy
    stays under the partition-INDEPENDENT oracle instead
    (s9_twophase_angle: the merged result equals the plain skyline for
    ANY partitioning)."""

    def one(pid_expr: str, label: str) -> str:
        return f"""
WITH src AS (
  SELECT l_orderkey, l_extendedprice AS d0, l_discount AS d1,
         l_orderkey % 64 AS sub
  FROM lineitem),
dom AS (SELECT max(d0) AS m FROM src),
pts AS (SELECT src.*, {pid_expr} AS pid FROM src, dom),
loc0 AS (SELECT p.* FROM pts p WHERE NOT EXISTS (
    SELECT 1 FROM pts q WHERE q.pid = p.pid AND q.sub = p.sub
      AND q.d0 <= p.d0 AND q.d1 <= p.d1 AND (q.d0 < p.d0 OR q.d1 < p.d1))),
loc AS (SELECT p.* FROM loc0 p WHERE NOT EXISTS (
    SELECT 1 FROM loc0 q WHERE q.pid = p.pid
      AND q.d0 <= p.d0 AND q.d1 <= p.d1 AND (q.d0 < p.d0 OR q.d1 < p.d1))),
gsky AS (SELECT p.* FROM loc p WHERE NOT EXISTS (
    SELECT 1 FROM loc q
      WHERE q.d0 <= p.d0 AND q.d1 <= p.d1 AND (q.d0 < p.d0 OR q.d1 < p.d1))),
sizes AS (SELECT pid, count(*) AS local_size FROM loc GROUP BY pid),
surv AS (SELECT pid, count(*) AS survivors FROM gsky GROUP BY pid)
SELECT '{label}' AS strategy, s.pid, s.local_size,
       COALESCE(v.survivors, 0) AS survivors
FROM sizes s LEFT JOIN surv v ON s.pid = v.pid
""".strip()

    dim_pid = "LEAST(GREATEST(CAST(FLOOR(d0 / (dom.m / 8.0)) AS INTEGER), 0), 7)"
    grid_pid = (
        "CAST(((CASE WHEN d0 >= dom.m/2.0 THEN 1 ELSE 0 END)"
        " + (CASE WHEN d1 >= dom.m/2.0 THEN 2 ELSE 0 END)) % 8 AS INTEGER)"
    )
    return (
        "SELECT * FROM (" + one(dim_pid, "dim") + ")\nUNION ALL\n"
        "SELECT * FROM (" + one(grid_pid, "grid") + ")"
    )


@register(
    "m2_strategy_stats",
    _m2_oracle(),
    doc="Partitioning-strategy comparison (the reference PDF's §5 "
    "experiment): m1's Optimality building blocks computed under MR-Dim "
    "AND MR-Grid side by side, labeled — which spatial keying prunes "
    "better on this data is the question the reference's evaluation "
    "asks. One global skyline serves both strategies, tagged with each "
    "strategy's pid after the merge, and one local pass sizes every "
    "strategy's partitions; integer-only output. MR-Angle is compared "
    "under the partition-independent oracle instead "
    "(s9_twophase_angle) because atan2 is not "
    "cross-engine bit-pinned — see _m2_oracle",
)
def m2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return partition_stats(
        li, ["l_extendedprice", "l_discount"], ["dim", "grid"], num_partitions=8
    )


@register(
    "s33_grouped_skyband",
    """
WITH p AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
                  epoch(o_orderdate) AS odate_d
           FROM orders WHERE o_orderkey % 5 = 0),
c AS (SELECT a.*, (SELECT count(*) FROM p b
                   WHERE b.o_orderpriority = a.o_orderpriority
                     AND b.o_totalprice <= a.o_totalprice
                     AND b.odate_d <= a.odate_d
                     AND (b.o_totalprice < a.o_totalprice
                          OR b.odate_d < a.odate_d)) AS n_dominators
      FROM p a)
SELECT o_orderkey, o_orderpriority, o_totalprice, odate_d,
       CAST(n_dominators AS BIGINT) AS n_dominators
FROM c WHERE n_dominators < 2
""".strip(),
    doc="Per-group 2-skyband (top tier + runners-up WITHIN each order "
    "priority, with exact dominator counts): the grouped skyband path — "
    "one hash exchange on the group keys, whole group per kernel call "
    "(applyInPandas), counts exact directly because dominance is "
    "restricted to equal keys — under the hard oracle gate, which "
    "previously covered only the ungrouped broadcast-verify path (s22). "
    "operators/skyline.py::skyband(group_by=...). %% 5 input filter "
    "bounds the oracle's per-group quadratic count; o_orderdate goes "
    "through the same timestamp hop as s8",
)
def s33(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.col("o_orderdate").cast("timestamp").cast("double").alias("odate_d"),
    )
    band = skyband(
        o, ["o_totalprice", "odate_d"], k=2, group_by=["o_orderpriority"]
    )
    return band.select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "odate_d",
        F.col("n_dominators").cast("bigint").alias("n_dominators"),
    )
