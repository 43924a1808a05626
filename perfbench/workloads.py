"""The two workloads.  Each runs in the benchmark's process, generates its
load there from the seed, times operations from outside the program and
checks every output.  See README.md in this directory."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import check
import corpusgen
import gen

HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {
    "setup_s": "s", "query_p50_s": "s", "timed_ops_s": "s", "cpu_s": "s",
}
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s", "mem.peak_pss_mb": "MB",
    "kernel.skyline_mask_s": "s", "kernel.verify_s": "s",
    "skyline.build_s": "s", "skyline.action_s": "s", "skyline.build_jobs": "count",
    "skyline.action_jobs": "count", "skyline.tasks": "count",
    "skyline.py4j_trips": "count", "skyline.result_rows": "count",
    "skyline.points_per_s": "1/s",
    "metrics.optimality.dim": "ratio", "metrics.optimality.grid": "ratio",
    "metrics.optimality.angle": "ratio", "metrics.phase1_keep_ratio.dim": "ratio",
    "metrics.phase1_keep_ratio.grid": "ratio", "metrics.phase1_keep_ratio.angle": "ratio",
    "caching.persisted_rdds": "count", "caching.persisted_rdds_max": "count",
    "caching.storage_mb": "MB",
    "stream.start_s": "s", "stream.batch_s": "s", "stream.add_batch_s": "s",
    "stream.planning_s": "s", "stream.wal_s": "s", "stream.rows_per_batch": "count",
    "stream.state_rows": "count", "stream.state_mb": "MB", "stream.local_ms": "ms",
    "stream.global_ms": "ms", "stream.optimality": "ratio",
    "sources.parse_s": "s", "sources.processed_rps": "1/s",
}
# build-bound and action-bound queries whose own split is reported
PLAN_DETAIL = ["m2_strategy_stats", "s30_prob_skyline", "x_ann_ivf"]
for _pass in ("cold", "warm"):
    PER_LAYER[f"plans.{_pass}.pass_s"] = "s"
    for _k, _u in (("build_s", "s"), ("action_s", "s"), ("build_jobs", "count"),
                   ("action_jobs", "count"), ("py4j_trips", "count")):
        PER_LAYER[f"plans.{_pass}.{_k}"] = _u
    for _q in PLAN_DETAIL:
        PER_LAYER[f"plans.{_q}.{_pass}.build_s"] = "s"
        PER_LAYER[f"plans.{_q}.{_pass}.action_s"] = "s"

# The fixed corpus query list of batch-suite: two build-bound skyline-family
# queries (m2 also runs the partitioners and the metrics layer's partition
# statistics for every strategy) and one action-bound non-skyline operator.
# The list is short because every run pays its own session set-up and a
# two-commit comparison must fit its time budget (README.md, "Steadiness
# and budget").
CORPUS_QUERIES = ["s30_prob_skyline", "m2_strategy_stats", "x_ann_ivf"]
GOLDEN_PATH = os.path.join(HERE, "golden.json")

# 3-D 100k rows leave ~6.6k survivors (driver-verify merge), 4-D 80k rows
# ~17.7k (broadcast-verify merge).  Larger inputs would not let a two-commit
# comparison fit its time budget on a slow box (README.md, "Steadiness and
# budget").
SKY_SHAPES = ((3, 100_000), (4, 80_000))
SKY_SECONDS_PER_PAIR = 5.0  # 2 pairs, 4 calls, at the registered 10 s
_WARM_SEED = 2**31 - 1
_STRATEGIES = ("dim", "grid", "angle")

PARTITIONS = 8              # P of the reference topology (metrics and stream)
STREAM_SECONDS_PER_STEP = 2.0  # 5 steps at the registered 10 s
STREAM_ROWS_PER_STEP = 5000
STREAM_WARM_ROWS = 5000
STREAM_DIST = "anti_correlated"


def _storage(spark) -> tuple[int, float]:
    jsc = spark.sparkContext._jsc.sc()
    infos = jsc.getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return int(jsc.getPersistentRDDs().size()), mb


def _check_one(cache_dir: str, key: str, n: int, d: int, seed: int, ids) -> list[str]:
    pts = gen.points(n, d, "anti_correlated", seed)
    return check.check_skyline_cached(cache_dir, key, pts, ids)


def _check_all(run, jobs: list[tuple[str, int, int, int, list]]) -> list[list[str]]:
    """Check skylines in parallel threads (numpy releases the GIL in the
    comparisons), after the session has stopped."""
    with ThreadPoolExecutor(max_workers=min(run.cpus, len(jobs))) as ex:
        futs = [ex.submit(_check_one, run.cache, *j) for j in jobs]
        return [f.result() for f in futs]


# --------------------------------------------------------------------------
# batch-suite
# --------------------------------------------------------------------------

def batch_suite(run, mon) -> None:
    """Closed loop, one client, on one session.  First the cold skyline
    calls, each on a fresh input; then the fixed query list over the corpus
    fixture (the cold pass) and the same again (the warm pass)."""
    from query_skyline_qos_flink_spark.operators.skyline import skyline
    from query_skyline_qos_flink_spark.plans import corpus, pipeline  # noqa: F401 (registers queries)

    pairs = max(1, round(run.seconds / SKY_SECONDS_PER_PAIR))
    inputs = []  # (path, d, n, seed)
    for i in range(pairs):
        for d, n in SKY_SHAPES:
            inputs.append((os.path.join(run.work, f"in{len(inputs)}-{d}d.parquet"), d, n,
                           run.seed * 1000 + len(inputs)))
    sf_dir = os.path.join(run.work, "corpus")

    def warm():
        corpusgen.write(sf_dir)
        # one call of each full-size shape, so both merge paths are warm
        for d, n in SKY_SHAPES:
            p = os.path.join(run.work, f"warm-{d}d.parquet")
            gen.write_points_parquet(p, gen.points(n, d, "anti_correlated", _WARM_SEED))
            skyline(run.spark.read.parquet(p), gen.dim_names(d)).select("id").collect()

    run.start_session(warm)
    t0 = time.perf_counter()
    for path, d, n, seed in inputs:
        gen.write_points_parquet(path, gen.points(n, d, "anti_correlated", seed))
    run.setup_s += time.perf_counter() - t0

    sky_s, results, acc = _skyline_calls(run, mon, skyline, inputs)
    passes = _corpus_passes(run, mon, corpus.REGISTRY, sf_dir)
    if not sky_s:
        raise RuntimeError("every skyline call failed")
    run.metrics["query_p50_s"] = statistics.median(sky_s)
    run.metrics["timed_ops_s"] = sum(sky_s) + sum(passes["cold"]) + sum(passes["warm"])
    run.layer["skyline.points_per_s"] = sum(
        n for (_p, _d, n, _s), ids in zip(inputs, results) if ids is not None) / sum(sky_s)
    print(f"# skyline calls {sum(sky_s):.3f} cold_pass_s {sum(passes['cold']):.3f} "
          f"warm_pass_s {sum(passes['warm']):.3f}", file=sys.stderr)

    if run.tracer.enabled:
        run.tracer.resolve_jobs()
        _skyline_layers(run, inputs, acc)
        _plans_layers(run, passes)
        _caching_layers(run)
    run.stop_session()

    done = [(inp, ids) for inp, ids in zip(inputs, results) if ids is not None]
    jobs = [(f"sky-anti-{seed}-{d}d-{n}", n, d, seed, ids)
            for (_path, d, n, seed), ids in done]
    for ((path, *_), _ids), problems in zip(done, _check_all(run, jobs)):
        for p in problems:
            run.fail(f"{os.path.basename(path)}: {p}")


def _skyline_calls(run, mon, skyline, inputs):
    """skyline(read.parquet(p), dims) per input; the action collects the
    result ids, which the check needs.  Returns the call times, the ids per
    input (None where the call failed) and the traced run's sums."""
    tr, spark = run.tracer, run.spark
    durations, results = [], []
    acc = {"build_s": 0.0, "action_s": 0.0, "rows": 0}
    for i, (path, d, n, _seed) in enumerate(inputs):
        dims = gen.dim_names(d)
        run.attempted += 1
        mon.start()
        t0 = time.perf_counter()
        try:
            with tr.span("skyline:call", query=f"call{i}"):
                with tr.span("skyline:build", query=f"call{i}"):
                    res = skyline(spark.read.parquet(path), dims)
                t1 = time.perf_counter()
                with tr.span("skyline:action", query=f"call{i}"):
                    ids = [r[0] for r in res.select("id").collect()]
        except Exception as exc:  # noqa: BLE001 - a failing call must not end the run
            mon.stop()
            results.append(None)
            run.fail(f"call{i}: {type(exc).__name__}: {str(exc)[:200]}")
            continue
        t2 = time.perf_counter()
        mon.stop()
        durations.append(t2 - t0)
        acc["build_s"] += t1 - t0
        acc["action_s"] += t2 - t1
        acc["rows"] += len(ids)
        results.append(ids)
        if tr.enabled:
            n_rdds, mb = _storage(spark)
            tr.sample("caching.persisted_rdds", n_rdds, f"call{i}")
            tr.sample("caching.storage_mb", mb, f"call{i}")
        print(f"# call {i}: {d}-D {n} rows -> {len(ids)} in {t2 - t0:.3f}s "
              f"(build {t1 - t0:.3f}s)", file=sys.stderr)
    return durations, results, acc


def _corpus_passes(run, mon, registry, sf_dir) -> dict[str, list[float]]:
    """The fixed query list over the fixture (the cold pass), then the same
    again (the warm pass); each operation is build + collect(), and its row
    count and digest must equal the golden ones.  Returns the times per pass."""
    with open(GOLDEN_PATH) as f:
        golden = json.load(f)
    tr, spark = run.tracer, run.spark
    durations = {"cold": [], "warm": []}
    for pass_name in ("cold", "warm"):
        for q in CORPUS_QUERIES:
            spec = registry[q]
            op = f"{pass_name}:{q}"
            run.attempted += 1
            mon.start()
            t0 = time.perf_counter()
            try:
                with tr.span("plans:query", query=op):
                    with tr.span("plans:build", query=op):
                        df = spec.fn(spark, sf_dir)
                    t1 = time.perf_counter()
                    with tr.span("plans:action", query=op):
                        rows = df.collect()
            except Exception as exc:  # noqa: BLE001 - one failing query must not end the run
                mon.stop()
                durations[pass_name].append(time.perf_counter() - t0)
                run.fail(f"{op}: {type(exc).__name__}: {str(exc)[:200]}")
                continue
            t2 = time.perf_counter()
            mon.stop()
            durations[pass_name].append(t2 - t0)
            if tr.enabled:
                run.layer[f"plans.{q}.{pass_name}.build_s"] = t1 - t0
                run.layer[f"plans.{q}.{pass_name}.action_s"] = t2 - t1
                n_rdds, mb = _storage(spark)
                tr.sample("caching.persisted_rdds", n_rdds, op)
                tr.sample("caching.storage_mb", mb, op)
            want = golden[q]
            got = {"rows": len(rows), "digest": check.table_digest(df.columns, rows)}
            if got != want:
                run.fail(f"{op}: got {got}, golden {want}")
            print(f"# {op}: {len(rows)} rows in {t2 - t0:.3f}s "
                  f"(build {t1 - t0:.3f}s)", file=sys.stderr)
    return durations


def _skyline_layers(run, inputs, acc) -> None:
    """Traced run only: job counts from the spans, then direct kernel calls
    on a fixed slice of, and the metrics layer's partition statistics for,
    the first input of each shape."""
    from query_skyline_qos_flink_spark.operators import skyline_kernel as sk
    from query_skyline_qos_flink_spark.operators.metrics import optimality, skyline_partition_stats

    tr, spark = run.tracer, run.spark
    sums = {"build_jobs": 0, "action_jobs": 0, "tasks": 0, "trips": 0}
    for s in tr.spans:
        if s["name"] == "skyline:build":
            sums["build_jobs"] += s["jobs"]
        elif s["name"] == "skyline:action":
            sums["action_jobs"] += s["jobs"]
        if s["name"] in ("skyline:build", "skyline:action"):
            sums["tasks"] += s["tasks"]
            sums["trips"] += s["trips"]
    run.layer["skyline.build_s"] = acc["build_s"]
    run.layer["skyline.action_s"] = acc["action_s"]
    for k in ("build_jobs", "action_jobs", "tasks"):
        run.layer[f"skyline.{k}"] = sums[k]
    run.layer["skyline.py4j_trips"] = sums["trips"]
    run.layer["skyline.result_rows"] = acc["rows"]

    mask_s, verify_s = [], []
    opt = {s: [] for s in _STRATEGIES}
    keep = {s: [] for s in _STRATEGIES}
    for i, (path, d, n, seed) in enumerate(inputs[:len(SKY_SHAPES)]):
        pts = gen.points(n, d, "anti_correlated", seed)
        head, tail = pts[:40_000], pts[40_000:80_000]
        with tr.span("kernel:skyline_mask", query=f"call{i}"):
            t0 = time.perf_counter()
            mask = sk.skyline_mask(head)
            mask_s.append(time.perf_counter() - t0)
        sky = head[mask]
        ssum = sky.sum(axis=1)
        order = np.argsort(ssum, kind="stable")
        with tr.span("kernel:verify", query=f"call{i}"):
            t0 = time.perf_counter()
            sk.dominated_mask_vs_sorted(tail, tail.sum(axis=1), sky[order], ssum[order], exact=True)
            verify_s.append(time.perf_counter() - t0)
        df = spark.read.parquet(path)
        for strat in _STRATEGIES:
            with tr.span("metrics:partition_stats", query=f"call{i}-{strat}"):
                stats = skyline_partition_stats(df, gen.dim_names(d), strategy=strat,
                                                num_partitions=PARTITIONS, domain=gen.DOMAIN)
                rows = stats.collect()
                o = optimality(stats, PARTITIONS).collect()[0]["optimality"]
            opt[strat].append(o)
            keep[strat].append(sum(r["local_size"] for r in rows) / n)
    run.layer["kernel.skyline_mask_s"] = statistics.median(mask_s)
    run.layer["kernel.verify_s"] = statistics.median(verify_s)
    for strat in _STRATEGIES:
        run.layer[f"metrics.optimality.{strat}"] = statistics.mean(opt[strat])
        run.layer[f"metrics.phase1_keep_ratio.{strat}"] = statistics.mean(keep[strat])


def _plans_layers(run, passes: dict[str, list[float]]) -> None:
    """Traced run only: time, jobs and py4j trips of each corpus pass, split
    into plan construction (build) and the action."""
    for pass_name, durations in passes.items():
        run.layer[f"plans.{pass_name}.pass_s"] = sum(durations)
        tot = {"build": [0.0, 0, 0], "action": [0.0, 0, 0]}
        for s in run.tracer.spans:
            if s["name"] in ("plans:build", "plans:action") and s["query"].startswith(pass_name):
                t = tot[s["name"].split(":")[1]]
                t[0] += s["end"] - s["start"]
                t[1] += s["jobs"]
                t[2] += s["trips"]
        run.layer[f"plans.{pass_name}.build_s"] = tot["build"][0]
        run.layer[f"plans.{pass_name}.action_s"] = tot["action"][0]
        run.layer[f"plans.{pass_name}.build_jobs"] = tot["build"][1]
        run.layer[f"plans.{pass_name}.action_jobs"] = tot["action"][1]
        run.layer[f"plans.{pass_name}.py4j_trips"] = tot["build"][2] + tot["action"][2]


def _caching_layers(run) -> None:
    n, mb = _storage(run.spark)
    seen = [s["value"] for s in run.tracer.samples if s["name"] == "caching.persisted_rdds"]
    mbs = [s["value"] for s in run.tracer.samples if s["name"] == "caching.storage_mb"]
    run.layer["caching.persisted_rdds"] = n
    run.layer["caching.persisted_rdds_max"] = max(seen + [n])
    run.layer["caching.storage_mb"] = max(mbs + [mb])


# --------------------------------------------------------------------------
# stream-trigger
# --------------------------------------------------------------------------

def stream_trigger(run, mon) -> None:
    """Closed loop, one client.  Each step moves one pre-written CSV data
    file and one immediate query trigger into the file sources of the
    pipeline (MR-Dim, P=8), then runs ``run_pipeline(available_now=True)``
    on the same checkpoint until it has processed them: one micro-batch that
    reads and writes the per-partition state and answers the trigger.  The
    answer is the skyline of every record written so far."""
    from query_skyline_qos_flink_spark.streaming.pipeline import run_pipeline

    tr = run.tracer
    n_steps = max(1, round(run.seconds / STREAM_SECONDS_PER_STEP))
    bounds = [0] + [STREAM_WARM_ROWS + k * STREAM_ROWS_PER_STEP for k in range(n_steps + 1)]
    total = bounds[-1]
    run.start_session(lambda: None)

    t0 = time.perf_counter()
    pts = gen.points(total, 2, STREAM_DIST, run.seed)
    lines = gen.wire_lines(pts)
    stage, data_dir, query_dir = (os.path.join(run.work, n) for n in ("stage", "data", "queries"))
    os.makedirs(data_dir)
    os.makedirs(query_dir)
    qids = ["warm"] + [f"q{k:03d}" for k in range(1, n_steps + 1)]
    for k, qid in enumerate(qids):
        gen.write_lines(stage, f"d-{k:03d}.csv", lines[bounds[k]:bounds[k + 1]])
        gen.write_lines(stage, f"q-{k:03d}.csv", [qid])
    answered_at: dict[str, float] = {}
    answers: dict[str, dict] = {}

    def on_result(metrics) -> None:
        now = time.perf_counter()
        for r in metrics.to_dict("records"):
            answered_at.setdefault(r["query_id"], now)
            answers.setdefault(r["query_id"], r)

    raw = lambda d: run.spark.readStream.schema("value string").text(d)  # noqa: E731
    progress: list[dict] = []

    def step(k: int) -> tuple[float, float]:
        """Release step ``k``'s files and process them; (start, end) times."""
        t_start = time.perf_counter()
        os.replace(os.path.join(stage, f"d-{k:03d}.csv"), os.path.join(data_dir, f"d-{k:03d}.csv"))
        os.replace(os.path.join(stage, f"q-{k:03d}.csv"), os.path.join(query_dir, f"q-{k:03d}.csv"))
        with tr.span("streaming:start", query=qids[k]):
            query = run_pipeline(
                raw(data_dir), raw(query_dir), checkpoint_dir=os.path.join(run.work, "ckpt"),
                d=2, num_partitions=PARTITIONS, strategy="dim", domain=gen.DOMAIN,
                on_result=on_result, available_now=True, emit_points=True,
                per_pid_breakdown=True)
        with tr.span("streaming:batches", query=qids[k]):
            query.awaitTermination()
        t_end = time.perf_counter()
        if query.exception() is not None:
            raise RuntimeError(f"{qids[k]}: {query.exception()}")
        progress.extend(p for p in query.recentProgress if p["numInputRows"] > 0)
        return t_start, t_end

    # the first step (state store, codegen, Python workers) is set-up; its
    # answer is checked like the others
    run.attempted += 1
    step(0)
    if "warm" not in answers:
        raise RuntimeError("stream warm-up query was not answered")
    run.setup_s += time.perf_counter() - t0

    walls, lat, failed_steps = [], [], set()
    for k in range(1, n_steps + 1):
        run.attempted += 1
        mon.start()
        try:
            t_start, t_end = step(k)
        except Exception as exc:  # noqa: BLE001 - a failing step must not end the run
            mon.stop()
            failed_steps.add(k)
            run.fail(f"{qids[k]}: {type(exc).__name__}: {str(exc)[:200]}")
            continue
        mon.stop()
        walls.append(t_end - t_start)
        if qids[k] in answered_at:
            lat.append(answered_at[qids[k]] - t_start)
        print(f"# step {k}: {bounds[k + 1] - bounds[k]} rows in {t_end - t_start:.3f}s", file=sys.stderr)
    if not lat:
        raise RuntimeError("no trigger was answered")
    run.metrics["query_p50_s"] = statistics.median(lat)
    run.metrics["timed_ops_s"] = sum(walls)

    if tr.enabled:
        _stream_layers(run, progress, answers, qids, data_dir, sum(walls))
    run.stop_session()

    jobs, owners = [], []
    for k, qid in enumerate(qids):
        if qid not in answers:
            if k not in failed_steps:  # a failed step is already counted
                run.fail(f"query {qid} was not answered")
            continue
        rec = answers[qid]
        if rec["record_count"] != bounds[k + 1]:
            run.fail(f"{qid}: record_count {rec['record_count']} != {bounds[k + 1]}")
        ids = [int(p[0]) for p in rec["skyline_points"]]
        jobs.append((f"stream-{STREAM_DIST}-{run.seed}-{bounds[k + 1]}", pts[:bounds[k + 1]], ids))
        owners.append(qid)
    with ThreadPoolExecutor(max_workers=run.cpus) as ex:
        checked = list(ex.map(lambda j: check.check_skyline_cached(run.cache, *j), jobs))
    for qid, problems in zip(owners, checked):
        for p in problems:
            run.fail(f"{qid}: {p}")


def _stream_layers(run, progress, answers, qids, data_dir, wall_s) -> None:
    """Traced run only: micro-batch progress, the global phase's records,
    the state size, and a direct call of the wire parser."""
    from query_skyline_qos_flink_spark.sources import wire

    tr, spark = run.tracer, run.spark
    tr.resolve_jobs()
    timed = [p for p in progress if p["batchId"] > 0]  # batch 0 belongs to set-up
    med = lambda f: statistics.median(f(p) for p in timed)  # noqa: E731
    ms = lambda p, k: p["durationMs"].get(k, 0) / 1000.0  # noqa: E731
    run.layer["stream.start_s"] = statistics.median(
        s["end"] - s["start"] for s in tr.spans if s["name"] == "streaming:start" and s["query"] != "warm")
    run.layer["stream.batch_s"] = med(lambda p: ms(p, "triggerExecution"))
    run.layer["stream.add_batch_s"] = med(lambda p: ms(p, "addBatch"))
    run.layer["stream.planning_s"] = med(lambda p: ms(p, "queryPlanning"))
    run.layer["stream.wal_s"] = med(lambda p: ms(p, "walCommit") + ms(p, "commitOffsets"))
    run.layer["stream.rows_per_batch"] = med(lambda p: p["numInputRows"])
    run.layer["stream.state_mb"] = sum(s["memoryUsedBytes"] for s in timed[-1]["stateOperators"]) / 2**20
    recs = [answers[q] for q in qids[1:] if q in answers]
    run.layer["stream.state_rows"] = sum(b[1] for b in recs[-1]["pid_breakdown"])
    run.layer["stream.local_ms"] = statistics.median(r["local_processing_time_ms"] for r in recs)
    run.layer["stream.global_ms"] = statistics.median(r["global_processing_time_ms"] for r in recs)
    run.layer["stream.optimality"] = statistics.median(r["optimality"] for r in recs)
    run.layer["sources.processed_rps"] = sum(p["numInputRows"] for p in timed) / wall_s
    parse_s = []
    for _ in range(3):
        with tr.span("sources:parse"):
            t0 = time.perf_counter()
            wire.parse_service_tuples(spark.read.schema("value string").text(data_dir)).count()
            parse_s.append(time.perf_counter() - t0)
    run.layer["sources.parse_s"] = statistics.median(parse_s)
    tr.samples.extend({"name": "stream.progress", "value": p, "query": None} for p in timed)
    _caching_layers(run)


def per_layer_units() -> dict[str, str]:
    """The per-layer metrics every traced run prints."""
    return {**PER_LAYER, **{f"trace.{k}": u for k, u in END_TO_END.items()}}


WORKLOADS = {
    "batch-suite": batch_suite,
    "stream-trigger": stream_trigger,
}
