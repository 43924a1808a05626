"""CLI job runner — the reference's submission entry point, Spark-native.

Reference: ``flink run -c org.main.FlinkSkyline … --algo mr-angle
--parallelism 4 --dims 2 --domain 1000`` (``README_Ubuntu_Setup.md:56-59``,
arg parsing ``FlinkSkyline.java:61-76``).  This runner answers the same
question in batch form: skyline of a point set with a chosen spatial
strategy, plus the metrics record the reference publishes to Kafka.

Inputs: a parquet file with (id, values array<double>) or v0..v{d-1}
columns, a CSV of wire-format lines, or a generated distribution.

Examples:
  python tools/run_job.py --generate anti_correlated --n 100000 --dims 3 \
      --algo mr-angle --partitions 8
  python tools/run_job.py --parquet /root/testdata/sf0.01/lineitem.parquet \
      --cols l_extendedprice,l_discount --algo mr-dim --partitions 8
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from query_skyline_qos_flink_spark.operators.metrics import (  # noqa: E402
    optimality,
    skyline_partition_stats,
)
from query_skyline_qos_flink_spark.operators.skyline import skyline  # noqa: E402
from query_skyline_qos_flink_spark.session import get_spark  # noqa: E402
from query_skyline_qos_flink_spark.sources.generators import points  # noqa: E402
from query_skyline_qos_flink_spark.sources.wire import parse_service_tuples  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description="Run a skyline job")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--parquet", help="parquet file/dir input")
    src.add_argument("--csv", help="CSV wire-format file ('id,v1,...')")
    src.add_argument("--generate", choices=["uniform", "correlated", "anti_correlated"])
    src.add_argument("--query", metavar="NAME",
                     help="run a registered corpus query by name (see QUERIES.md); "
                     "use with --sf-dir")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="table directory for --query (default sf0.01)")
    ap.add_argument("--cols", help="comma-separated dim columns (parquet input)")
    ap.add_argument("--dims", type=int, default=2, help="dimensionality (csv/generate)")
    ap.add_argument("--n", type=int, default=100_000, help="rows to generate")
    ap.add_argument("--algo", default="mr-dim", choices=["mr-dim", "mr-grid", "mr-angle"],
                    help="spatial strategy for the Optimality metric")
    ap.add_argument("--partitions", type=int, default=8)
    ap.add_argument("--domain", type=float, default=None,
                    help="value domain; derived from data when omitted (the "
                    "reference's fixed default silently degrades MR-Dim)")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--output", help="write skyline rows as parquet here")
    ap.add_argument("--emit-points", action="store_true",
                    help="print skyline rows (suppressed by default, like the "
                    "reference's OOM guard)")
    args = ap.parse_args()

    spark = get_spark(app_name="skyline-job")
    t0 = time.time()
    if args.query:
        from query_skyline_qos_flink_spark.plans import corpus  # noqa: PLC0415
        from query_skyline_qos_flink_spark.plans import (  # noqa: F401, PLC0415
            pipeline as _p,
            relational as _r,
            streaming_replay as _s,
        )

        if args.query not in corpus.REGISTRY:
            ap.error(f"unknown query {args.query!r}; see QUERIES.md")
        result = corpus.REGISTRY[args.query].fn(spark, args.sf_dir)
        # one persist fence: count / write / emit are up to three actions
        # over the same (possibly expensive) plan
        result = result.persist()
        try:
            n = result.count()
            if args.output:
                result.write.mode("overwrite").parquet(args.output)
            if args.emit_points:
                for row in result.limit(10000).collect():
                    print(",".join(str(v) for v in row))
        finally:
            result.unpersist(blocking=False)
        print(json.dumps({
            "query_id": args.query,
            "record_count": n,
            "total_processing_time_ms": round((time.time() - t0) * 1000.0, 1),
        }))
        spark.stop()
        return
    if args.generate:
        df = points(spark, args.n, args.dims, args.generate, domain=args.domain or 10000.0,
                    seed=args.seed)
        dim_cols = [f"v{i}" for i in range(args.dims)]
    elif args.csv:
        raw = spark.read.text(args.csv).withColumnRenamed("value", "value")
        parsed = parse_service_tuples(raw)
        dim_cols = [f"v{i}" for i in range(args.dims)]
        df = parsed.select(
            "id", *[F.element_at("values", i + 1).alias(c) for i, c in enumerate(dim_cols)]
        )
    else:
        df = spark.read.parquet(args.parquet)
        if not args.cols:
            ap.error("--cols is required with --parquet")
        dim_cols = args.cols.split(",")

    result = skyline(df, dim_cols)
    sky_size = result.count()
    local_ms = (time.time() - t0) * 1000.0

    t1 = time.time()
    stats = skyline_partition_stats(
        df, dim_cols, strategy=args.algo.removeprefix("mr-"),
        num_partitions=args.partitions, domain=args.domain,
    )
    opt_row = optimality(stats, args.partitions).collect()[0]
    global_ms = (time.time() - t1) * 1000.0

    record = {
        "query_id": f"{args.algo}-{args.partitions}",
        "record_count": df.count(),
        "skyline_size": sky_size,
        "optimality": round(float(opt_row["optimality"] or 0.0), 4),
        "ingestion_time_ms": 0.0,
        "local_processing_time_ms": round(local_ms, 1),
        "global_processing_time_ms": round(global_ms, 1),
        "total_processing_time_ms": round(local_ms + global_ms, 1),
        "query_latency_ms": round(local_ms + global_ms, 1),
    }
    if args.output:
        result.write.mode("overwrite").parquet(args.output)
        record["output"] = args.output
    if args.emit_points:
        for row in result.limit(10000).collect():
            print(",".join(str(v) for v in row))
    print(json.dumps(record))
    spark.stop()


if __name__ == "__main__":
    main()
