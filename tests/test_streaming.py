"""Streaming-layer tests: wire codecs, stateful skyline with trigger
barriers (file source, availableNow replay, memory sink), finalize metrics.

Mirrors the reference's harness shape (Kafka topics replaced by file
streams; SURVEY.md §7 M3 'rate-source harness replaces Kafka in CI').
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from query_skyline_qos_flink_spark.operators.skyline_kernel import skyline_mask_brute
from query_skyline_qos_flink_spark.sources import wire
from query_skyline_qos_flink_spark.streaming.skyline_stream import (
    build_skyline_stream,
    finalize_results,
)


def test_parse_service_tuples_drops_malformed(spark):
    lines = ["1,10.5,20.0", "2,1,2", "", "abc,1,2", "3,xx,2", "4", "5,7.0"]
    df = spark.createDataFrame([(x,) for x in lines], "value string")
    out = wire.parse_service_tuples(df).toPandas().sort_values("id")
    assert out["id"].tolist() == [1, 2, 5]
    assert list(out["values"].tolist()[0]) == [10.5, 20.0]


def test_parse_query_triggers_defaults(spark):
    df = spark.createDataFrame([("q1,1000",), ("q2",), ("",)], "value string")
    out = wire.parse_query_triggers(df).toPandas().sort_values("query_id")
    assert out.values.tolist() == [["q1", 1000], ["q2", 0]]


def test_roundtrip_encode_parse(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2], "values": [[1.0, 2.0], [3.5, 4.5]]})
    )
    back = wire.parse_service_tuples(wire.encode_service_tuples(df)).toPandas()
    assert sorted(back["id"]) == [1, 2]


def test_result_json_includes_fixed_latency(spark):
    pdf = pd.DataFrame(
        [
            {
                "query_id": "q1",
                "record_count": 10,
                "skyline_size": 3,
                "optimality": 0.5,
                "ingestion_time_ms": 0.0,
                "local_processing_time_ms": 1.0,
                "global_processing_time_ms": 2.0,
                "total_processing_time_ms": 3.0,
                "query_latency_ms": 3.0,
            }
        ]
    )
    out = wire.result_json(spark.createDataFrame(pdf)).collect()[0][0]
    rec = json.loads(out)
    assert rec["query_latency_ms"] == 3.0  # the reference drops this field; we don't
    assert rec["skyline_size"] == 3


@pytest.fixture()
def stream_dirs(tmp_path):
    d = tmp_path / "data"
    q = tmp_path / "queries"
    c = tmp_path / "ckpt"
    d.mkdir(), q.mkdir()
    return str(d), str(q), str(c)


def _run_stream(spark, data_dir, query_dir, ckpt, d=2, P=4, sink="skyline_results",
                out_dir: str | None = None):
    data = wire.parse_service_tuples(spark.readStream.schema("value string").text(data_dir))
    trig = wire.parse_query_triggers(spark.readStream.schema("value string").text(query_dir))
    out = build_skyline_stream(data, trig, d=d, num_partitions=P, strategy="dim", domain=100.0)
    if out_dir:  # durable sink: supports checkpoint recovery across runs
        writer = out.writeStream.format("json").option("path", out_dir)
    else:
        writer = out.writeStream.format("memory").queryName(sink)
    q = (
        writer.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if out_dir:
        from query_skyline_qos_flink_spark.streaming.skyline_stream import OUTPUT_SCHEMA

        return spark.read.schema(OUTPUT_SCHEMA).json(out_dir)
    return spark.sql(f"SELECT * FROM {sink}")


def test_streaming_skyline_end_to_end(spark, stream_dirs):
    data_dir, query_dir, ckpt = stream_dirs
    rng = np.random.default_rng(3)
    pts = rng.integers(0, 100, size=(500, 2)).astype(float)
    with open(os.path.join(data_dir, "batch0.csv"), "w") as f:
        for i, p in enumerate(pts):
            f.write(f"{i},{p[0]},{p[1]}\n")
    with open(os.path.join(query_dir, "q0.csv"), "w") as f:
        f.write("q1,400\n")  # barrier satisfied: 500 records ingested

    res = _run_stream(spark, data_dir, query_dir, ckpt).toPandas()
    got = res[res["id"].notna()]
    # the union of fired local skylines must reduce to the true skyline
    merged = np.array([np.asarray(v) for v in got["values"]])
    final = merged[skyline_mask_brute(merged)]
    want = pts[skyline_mask_brute(pts)]
    assert sorted(map(tuple, final)) == sorted(map(tuple, want))

    metrics = finalize_results(res, num_partitions=4)
    assert metrics.iloc[0]["skyline_size"] == len(want)
    assert metrics.iloc[0]["record_count"] >= 500
    assert 0 < metrics.iloc[0]["optimality"] <= 1.0

    # per_pid_breakdown (the s36_stream_metrics integer surface) carries
    # exactly the Optimality ingredients: sum(survivors/local_size)/P
    # reproduces the float, survivor counts sum to the global size, and
    # each partition's survivors are bounded by its local skyline
    bd = finalize_results(res, num_partitions=4, per_pid_breakdown=True)
    row = bd.iloc[0]
    pieces = row["pid_breakdown"]
    assert pieces == sorted(pieces)  # sorted by pid, deterministic order
    assert all(0 <= srv <= loc for _pid, loc, srv in pieces)
    assert sum(srv for _pid, _loc, srv in pieces) == row["skyline_size"]
    assert row["optimality"] == round(
        sum(srv / loc for _pid, loc, srv in pieces) / 4, 4
    )


def test_streaming_barrier_holds_until_enough_records(spark, stream_dirs):
    data_dir, query_dir, ckpt = stream_dirs
    rng = np.random.default_rng(11)
    # batch 0: 10 records + a trigger requiring 50 -> must NOT fire
    # (values are random so ids don't correlate with the spatial partition:
    # the barrier is per-partition max-seen-id, reference O13 semantics)
    with open(os.path.join(data_dir, "b0.csv"), "w") as f:
        for i in range(10):
            f.write(f"{i},{rng.integers(0, 100)}.0,{rng.integers(0, 100)}.0\n")
    with open(os.path.join(query_dir, "t0.csv"), "w") as f:
        f.write("q_wait,50\n")
    out_dir = os.path.join(os.path.dirname(ckpt), "out")
    res1 = _run_stream(spark, data_dir, query_dir, ckpt, out_dir=out_dir).toPandas()
    fired1 = set(res1[res1["max_seen"] >= 0]["query_id"])
    assert "q_wait" not in fired1  # parked: only empty partitions answered

    # batch 1: 90 more records -> pending barrier releases on data arrival
    with open(os.path.join(data_dir, "b1.csv"), "w") as f:
        for i in range(10, 100):
            f.write(f"{i},{rng.integers(0, 100)}.0,{rng.integers(0, 100)}.0\n")
    res2 = _run_stream(spark, data_dir, query_dir, ckpt, out_dir=out_dir).toPandas()
    assert "q_wait" in set(res2[res2["max_seen"] >= 0]["query_id"])


def test_streaming_survives_wrong_arity_record(spark, stream_dirs):
    """Regression: a record with the wrong dimensionality must be dropped
    like any malformed line, not crash the stateful operator."""
    data_dir, query_dir, ckpt = stream_dirs
    with open(os.path.join(data_dir, "b0.csv"), "w") as f:
        f.write("0,5.0,5.0\n1,7.0\n2,3.0,9.0,4.0\n3,4.0,6.0\n")  # arity 1 and 3 junk
    with open(os.path.join(query_dir, "t0.csv"), "w") as f:
        f.write("q_now\n")
    res = _run_stream(spark, data_dir, query_dir, ckpt, sink="skyline_arity").toPandas()
    got = res[res["id"].notna()]
    assert sorted(got["id"]) == [0, 3]


def test_pipeline_query_spanning_batches_emits_once(spark, stream_dirs):
    """Regression: a query whose partials span micro-batches must produce
    exactly one finalized metrics row (arrival-countdown latch)."""
    import pandas as pd

    from query_skyline_qos_flink_spark.streaming.pipeline import run_pipeline

    data_dir, query_dir, ckpt = stream_dirs
    rng = np.random.default_rng(17)
    with open(os.path.join(data_dir, "b0.csv"), "w") as f:
        for i in range(10):
            f.write(f"{i},{rng.integers(0, 100)}.0,{rng.integers(0, 100)}.0\n")
    with open(os.path.join(query_dir, "t0.csv"), "w") as f:
        f.write("q_span,60\n")  # parks on fed partitions, fires on empty ones
    seen: list = []
    raw = lambda d: spark.readStream.schema("value string").text(d)
    q = run_pipeline(raw(data_dir), raw(query_dir), checkpoint_dir=ckpt, d=2,
                     num_partitions=4, domain=100.0, on_result=seen.append)
    q.awaitTermination(120)
    assert not seen  # latch held: not all partitions reported yet

    with open(os.path.join(data_dir, "b1.csv"), "w") as f:
        for i in range(10, 100):
            f.write(f"{i},{rng.integers(0, 100)}.0,{rng.integers(0, 100)}.0\n")
    q = run_pipeline(raw(data_dir), raw(query_dir), checkpoint_dir=ckpt, d=2,
                     num_partitions=4, domain=100.0, on_result=seen.append)
    q.awaitTermination(120)
    all_metrics = pd.concat(seen) if seen else pd.DataFrame(columns=["query_id"])
    assert list(all_metrics["query_id"]) == ["q_span"]  # exactly once


def test_continuous_mode_o20_latency_decomposition(spark, stream_dirs):
    """O20 continuous-mode parity (FlinkSkyline.java:574-588): a live
    (non-availableNow) stream over two micro-batches — data, then a trigger
    a wall-clock gap later — must emit a decomposed timing record with
    nonzero ingestion time: mapWall spans first-ingest to trigger-fire,
    far exceeding the local CPU time on this tiny input."""
    import time as _time

    from query_skyline_qos_flink_spark.streaming.pipeline import run_pipeline

    data_dir, query_dir, ckpt = stream_dirs
    rng = np.random.default_rng(29)
    with open(os.path.join(data_dir, "b0.csv"), "w") as f:
        for i in range(10):
            f.write(f"{i},{rng.integers(0, 100)}.0,{rng.integers(0, 100)}.0\n")
    seen: list = []
    raw = lambda d: spark.readStream.schema("value string").text(d)
    q = run_pipeline(raw(data_dir), raw(query_dir), checkpoint_dir=ckpt, d=2,
                     num_partitions=4, domain=100.0, on_result=seen.append,
                     available_now=False)
    try:
        deadline = _time.time() + 60
        while not q.recentProgress and _time.time() < deadline:
            _time.sleep(0.2)  # first micro-batch (b0 ingested) committed
        _time.sleep(1.5)  # measurable wall gap between ingest and trigger
        with open(os.path.join(query_dir, "t0.csv"), "w") as f:
            # immediate trigger: fires in the NEXT micro-batch, so emit_wall
            # sits a wall-clock gap after b0's ingest (a required_count
            # barrier would park on fed partitions whose max id < req)
            f.write("q_live\n")
        while not seen and _time.time() < deadline:
            _time.sleep(0.2)
    finally:
        q.stop()
    assert seen, "continuous stream never finalized the query"
    m = pd.concat(seen).set_index("query_id").loc["q_live"]
    assert m["ingestion_time_ms"] > 0.0  # wall/ingest split is live
    # exact decomposition: total = mapWall + global = ingest + local + global
    assert m["total_processing_time_ms"] == pytest.approx(
        m["ingestion_time_ms"]
        + m["local_processing_time_ms"]
        + m["global_processing_time_ms"]
    )
    assert m["query_latency_ms"] == m["total_processing_time_ms"]
    # the wall gap between batches dominates: ingestion >= the 1.5 s sleep
    assert m["ingestion_time_ms"] >= 1000.0


def test_streaming_immediate_trigger_and_cumulative_state(spark, stream_dirs):
    data_dir, query_dir, ckpt = stream_dirs
    with open(os.path.join(data_dir, "b0.csv"), "w") as f:
        f.write("0,5.0,5.0\n1,3.0,9.0\n")
    with open(os.path.join(query_dir, "t0.csv"), "w") as f:
        f.write("q_now\n")  # comma-less payload -> required_count 0 -> immediate
    res = _run_stream(spark, data_dir, query_dir, ckpt, sink="skyline_imm").toPandas()
    assert set(res["query_id"]) == {"q_now"}
    got = res[res["id"].notna()]
    assert sorted(got["id"]) == [0, 1]


def test_continuous_soak_ten_batches_cumulative_across_queries(spark, stream_dirs):
    """Continuous-mode soak backing SCALE.md's streaming claims: a live
    (non-availableNow) stream fed TEN sequential data micro-batches with
    triggers interleaved after batches 3/6/9 and a final trigger once the
    stream drains.  Asserts O24 cumulative-state semantics ACROSS queries:
    per-query record counts are nondecreasing in firing order, every query
    sees at least the rows ingested before its trigger was written, and
    the final query's skyline equals the brute-force skyline of the whole
    200-point corpus (state never reset between queries)."""
    import time as _time

    from query_skyline_qos_flink_spark.streaming.pipeline import run_pipeline

    data_dir, query_dir, ckpt = stream_dirs
    rng = np.random.default_rng(41)
    pts = rng.integers(0, 100, size=(200, 2)).astype(float)
    seen: list = []
    raw = lambda d: spark.readStream.schema("value string").text(d)
    q = run_pipeline(raw(data_dir), raw(query_dir), checkpoint_dir=ckpt, d=2,
                     num_partitions=4, domain=100.0, on_result=seen.append,
                     available_now=False)
    written_before_trigger: dict[str, int] = {}
    try:
        deadline = _time.time() + 120

        def batches_done() -> int:
            return len(q.recentProgress)

        n_triggers = 0
        for i in range(10):
            done = batches_done()
            with open(os.path.join(data_dir, f"b{i}.csv"), "w") as f:
                for j in range(20 * i, 20 * (i + 1)):
                    f.write(f"{j},{pts[j][0]},{pts[j][1]}\n")
            while batches_done() <= done and _time.time() < deadline:
                _time.sleep(0.1)  # this file committed in a fresh micro-batch
            if i in (3, 6, 9):
                written_before_trigger[f"q{i}"] = 20 * (i + 1)
                with open(os.path.join(query_dir, f"t{i}.csv"), "w") as f:
                    f.write(f"q{i}\n")
                n_triggers += 1
        while len(seen) < n_triggers and _time.time() < deadline:
            _time.sleep(0.2)  # interleaved triggers all finalized
        written_before_trigger["q_final"] = 200
        with open(os.path.join(query_dir, "t_final.csv"), "w") as f:
            f.write("q_final\n")
        while len(seen) < n_triggers + 1 and _time.time() < deadline:
            _time.sleep(0.2)
    finally:
        q.stop()
    m = pd.concat(seen).set_index("query_id")
    assert set(m.index) == {"q3", "q6", "q9", "q_final"}, m.index
    # each query sees at least what was ingested before its trigger existed
    for name, n_written in written_before_trigger.items():
        assert m.loc[name, "record_count"] >= n_written, (name, m)
    # cumulative, never reset: counts nondecreasing in firing order
    ordered = [m.loc[n, "record_count"] for n in ["q3", "q6", "q9", "q_final"]]
    assert ordered == sorted(ordered), ordered
    # the final skyline is exact over the full 200-point corpus
    want = int(skyline_mask_brute(pts).sum())
    assert int(m.loc["q_final", "skyline_size"]) == want
    assert 0 < m.loc["q_final", "optimality"] <= 1.0
