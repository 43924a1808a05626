"""Structured-Streaming skyline — the reference topology, Spark-native.

Reference dataflow (``/root/reference/java/org.main/FlinkSkyline.java``):
data keyBy spatial pid (O5-O8) -> CoProcess with a broadcast query/control
stream (O9-O11) -> per-partition incremental BNL + record-ID barrier
(O12-O13) -> per-query global merge + metrics (O15-O21).

Spark translation:
* Spark has no two-input CoProcessFunction; the idiomatic substitute is a
  UNION of the data and trigger streams tagged by row shape into ONE
  stateful operator (SURVEY.md §7 M3).  Triggers are fanned out to every
  partition with ``explode(sequence(0, P-1))`` (the reference's O9
  broadcast flatMap).
* Keyed state via ``applyInPandasWithState``: each spatial partition keeps
  {max_seen record id, its local skyline, pending queries}.  State is
  CUMULATIVE across queries — the reference never clears the local skyline
  (``FlinkSkyline.java:388-392``), each query answers "skyline of
  everything ingested so far".
* Record-ID barrier (O13): a trigger with ``required_count`` fires when
  ``max_seen >= required_count`` (ref semantics: a superset snapshot, NOT
  an exact prefix — the batch engine's S10 gives the exact version);
  otherwise it parks in state and is re-checked every micro-batch.  A
  partition that never saw data answers immediately with an empty partial
  (the ref's ``maxId == -1`` path, ``FlinkSkyline.java:351``).
* The global phase (O15-O21) is :func:`finalize_results` — a plain batch
  groupBy over the emitted partials (a micro-batch boundary is a natural
  barrier, so no arrival-countdown state is needed in ``availableNow``
  replays; for continuous mode, run it inside ``foreachBatch``).

Production note: at cluster scale the per-key state should move to
``transformWithStateInPandas`` value-state handles (Spark 4.x) to avoid
re-serializing the whole skyline tuple each batch; the operator body is
identical.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.partitioners import partition_id
from ..operators.skyline_kernel import skyline_mask

OUTPUT_SCHEMA = (
    "query_id string, pid int, id bigint, values array<double>, "
    "local_size bigint, max_seen bigint, local_cpu_ms double, "
    "start_wall double, emit_wall double"
)
STATE_SCHEMA = (
    "max_seen bigint, ids array<bigint>, pts array<array<double>>, "
    "pending_q array<string>, pending_req array<bigint>, cpu_ms double, "
    "start_wall double"
)


def _apply_batch(pid: int, state_tuple, pdfs: Iterator[pd.DataFrame], d: int | None = None):
    """Shared operator body for both state backends: union-tagged CoProcess
    — data rows have ``values``; trigger rows have ``query_id``.  Batch
    order: ingest data, then evaluate triggers — snapshot-at-batch
    semantics (SURVEY.md §3.3).  Returns (new_state_tuple, out_frames)."""
    if state_tuple is not None:
        max_seen, ids, pts, pend_q, pend_req, cpu_ms, start_wall = state_tuple
        ids = list(ids)
        pts = [list(p) for p in pts]
        pend = list(zip(pend_q, pend_req))
    else:
        max_seen, ids, pts, pend, cpu_ms, start_wall = -1, [], [], [], 0.0, -1.0

    # Drain ALL Arrow chunks of the micro-batch before evaluating any
    # trigger: chunk packing is an implementation detail, and a trigger
    # evaluated mid-batch could see max_seen == -1 (fire an empty partial)
    # while the partition's data sits in a later chunk of the same batch —
    # snapshot-at-batch semantics require batch-level, not chunk-level,
    # evaluation (SURVEY.md §3.3).
    out_frames = []
    for pdf in pdfs:
        data = pdf[pdf["values"].notna()]
        trig = pdf[pdf["query_id"].notna()]
        if len(data):
            if start_wall < 0:
                # O20 minStart analog: wall clock when this partition first
                # starts processing data (FlinkSkyline.java:394 records the
                # map task's start; first-ingest is the stateful-operator
                # equivalent — before it, the partition has no map work)
                start_wall = time.time()
            t0 = time.perf_counter()
            # rows whose arity disagrees with the topology's declared
            # dimensionality (or, failing that, the state's) are malformed:
            # drop them (DROPMALFORMED parity) instead of poisoning the
            # query with a ragged concatenate.  build_skyline_stream also
            # filters size(values)==d plan-side; this guards direct callers.
            dim = d if d is not None else (len(pts[0]) if pts else None)
            arity = data["values"].map(len)
            data = data[arity == dim] if dim is not None else data
            if len(data):
                batch_ids = data["id"].to_numpy(dtype=np.int64)
                batch_pts = np.array(
                    [np.asarray(v, dtype=np.float64) for v in data["values"]]
                )
                max_seen = max(max_seen, int(batch_ids.max()))
                # incremental BNL over (current skyline + batch), keeping ids
                all_ids = np.concatenate([np.asarray(ids, dtype=np.int64), batch_ids])
                all_pts = (
                    np.concatenate([np.asarray(pts, dtype=np.float64), batch_pts])
                    if pts
                    else batch_pts
                )
                mask = skyline_mask(all_pts)
                ids = all_ids[mask].tolist()
                pts = all_pts[mask].tolist()
            cpu_ms += (time.perf_counter() - t0) * 1000.0
        for r in trig.itertuples():
            pend.append((r.query_id, int(r.required_count)))

    fired, still = [], []
    for qid, req in pend:
        # barrier: enough records ingested, immediate trigger (req<=0),
        # or a partition that never saw data (ref maxId==-1 path)
        if req <= 0 or max_seen >= req or max_seen == -1:
            fired.append((qid, req))
        else:
            still.append((qid, req))
    pend = still
    emit_wall = time.time()  # O20 lastArrival analog: partial emission time
    for qid, _req in fired:
        if ids:
            out_frames.append(
                pd.DataFrame(
                    {
                        "query_id": qid,
                        "pid": pid,
                        "id": ids,
                        "values": [list(p) for p in pts],
                        "local_size": len(ids),
                        "max_seen": max_seen,
                        "local_cpu_ms": cpu_ms,
                        "start_wall": np.nan if start_wall < 0 else start_wall,
                        "emit_wall": emit_wall,
                    }
                )
            )
        else:  # empty partial so the global latch still completes
            out_frames.append(
                pd.DataFrame(
                    {
                        "query_id": [qid],
                        "pid": [pid],
                        "id": [None],
                        "values": [None],
                        "local_size": [0],
                        "max_seen": [max_seen],
                        "local_cpu_ms": [cpu_ms],
                        "start_wall": [np.nan if start_wall < 0 else start_wall],
                        "emit_wall": [emit_wall],
                    }
                )
            )

    new_state = (
        max_seen,
        ids,
        [list(p) for p in pts],
        [q for q, _ in pend],
        [r for _, r in pend],
        cpu_ms,
        start_wall,
    )
    return new_state, out_frames


def _make_stateful_update(d: int | None = None):
    """applyInPandasWithState backend (Spark >= 3.4)."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        new_state, out_frames = _apply_batch(
            int(key[0]), state.get if state.exists else None, pdfs, d=d
        )
        state.update(new_state)
        for f in out_frames:
            yield f

    return fn


def build_skyline_stream(
    data: DataFrame,
    triggers: DataFrame,
    d: int,
    num_partitions: int = 8,
    strategy: str = "dim",
    domain: float = 10000.0,
) -> DataFrame:
    """Wire the union-tagged stateful topology (applyInPandasWithState).

    ``data``: streaming (id bigint, values array<double>) — wire.parse_service_tuples.
    ``triggers``: streaming (query_id string, required_count bigint).
    Returns the stream of per-partition query partials (OUTPUT_SCHEMA).
    """
    dim_cols = [F.element_at("values", i + 1) for i in range(d)]
    pid = partition_id(strategy, dim_cols, num_partitions, domain)
    # arity guard: a lone '7,5' line in a d=3 stream must be dropped like
    # any other malformed record, not poison the stateful operator
    data = data.where(F.size("values") == d)
    tagged_data = data.select(
        pid.alias("pid"),
        "id",
        "values",
        F.lit(None).cast("string").alias("query_id"),
        F.lit(None).cast("bigint").alias("required_count"),
    )
    fanned = triggers.select(
        F.explode(F.sequence(F.lit(0), F.lit(num_partitions - 1))).alias("pid"),
        F.lit(None).cast("bigint").alias("id"),
        F.lit(None).cast("array<double>").alias("values"),
        "query_id",
        "required_count",
    )
    unioned = tagged_data.unionByName(fanned)
    return unioned.groupBy("pid").applyInPandasWithState(
        _make_stateful_update(d),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def finalize_results(
    partials: pd.DataFrame,
    num_partitions: int = 8,
    emit_points: bool = False,
    replay: bool = True,
    per_pid_breakdown: bool = False,
) -> pd.DataFrame:
    """Global phase (reference O15-O21) over collected partials: per-query
    global skyline merge, Optimality, and the metrics record — including
    ``query_latency_ms`` (always 0 in the reference's CSVs because it is
    computed but never serialized; we emit the real value = total time).

    ``emit_points`` mirrors the reference's skyline-point emission flag
    (``FlinkSkyline.java:610-623``): adds a ``skyline_points`` column with
    each survivor as ``[id, v0, v1, ...]``, sorted by id.

    ``per_pid_breakdown`` adds a ``pid_breakdown`` column carrying the
    Optimality metric's integer ingredients per reporting partition —
    ``[[pid, local_size, survivors], ...]`` sorted by pid (reference
    O18-O19, ``FlinkSkyline.java:590-608``): ``optimality ==
    round(sum(survivors/local_size)/num_partitions, 4)`` by construction.
    The integer form is what the s36_stream_metrics driver row hash-gates
    (floats would be at the mercy of summation order across engines).

    ``replay=False`` enables the reference's continuous-mode O20 latency
    decomposition (``FlinkSkyline.java:574-588``): ``mapWall = lastArrival
    − minStart`` from the partials' wall clocks, ``ingestion = mapWall −
    maxLocalCpu`` (clamped ≥ 0), ``total = mapWall + global``.  In
    ``availableNow`` replays the wall span measures file backfill, not
    ingestion — there ``ingestion_time_ms`` stays 0 and ``total`` is the
    CPU-only ``local + global`` (documented in SURVEY.md §3.3)."""
    rows = []
    for qid, g in partials.groupby("query_id"):
        t0 = time.perf_counter()
        pts_rows = g[g["id"].notna()]
        points: list[list[float]] = []
        breakdown: list[list[int]] = []
        if len(pts_rows):
            pts = np.array([np.asarray(v, dtype=np.float64) for v in pts_rows["values"]])
            mask = skyline_mask(pts)
            surv = pts_rows.loc[mask]
            sky_size = int(mask.sum())
            if emit_points:
                points = sorted(
                    [int(i), *list(v)] for i, v in zip(surv["id"], surv["values"])
                )
            ratios = 0.0
            for pid, pg in pts_rows.groupby("pid"):
                local_size = int(pg["local_size"].iloc[0])
                if local_size > 0:
                    n_surv = int(len(surv[surv["pid"] == pid]))
                    ratios += n_surv / local_size
                    breakdown.append([int(pid), local_size, n_surv])
            optimality = ratios / num_partitions
        else:
            sky_size, optimality = 0, 0.0
        per_pid = g.drop_duplicates("pid")
        # producer ids are 0-based global monotone (FIXTURES.md §2), so the
        # ingested-record count at snapshot time is the max seen id + 1
        record_count = int(per_pid["max_seen"].max() + 1)
        local_ms = float(per_pid["local_cpu_ms"].max())
        global_ms = (time.perf_counter() - t0) * 1000.0
        ingestion_ms = 0.0  # replay mode: wall span is backfill, not ingest
        total_ms = local_ms + global_ms
        if not replay and "emit_wall" in per_pid.columns:
            starts = per_pid["start_wall"].dropna()
            # partitions that never saw data contribute no map span; a query
            # where NO partition saw data has no meaningful decomposition
            if len(starts):
                map_wall_ms = max(
                    0.0, (per_pid["emit_wall"].max() - starts.min()) * 1000.0
                )
                ingestion_ms = max(0.0, map_wall_ms - local_ms)
                total_ms = map_wall_ms + global_ms
        rows.append(
            {
                "query_id": qid,
                "record_count": record_count,
                "skyline_size": sky_size,
                "optimality": round(optimality, 4),
                "ingestion_time_ms": ingestion_ms,
                "local_processing_time_ms": local_ms,
                "global_processing_time_ms": global_ms,
                "total_processing_time_ms": total_ms,
                "query_latency_ms": total_ms,
                **({"skyline_points": points} if emit_points else {}),
                **({"pid_breakdown": breakdown} if per_pid_breakdown else {}),
            }
        )
    return pd.DataFrame(rows)
