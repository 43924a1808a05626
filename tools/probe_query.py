"""Solo per-query probe: time N reps of one registered query at a given
sf dir, printing per-rep wall seconds and /proc/stat user/sys/steal
deltas.  The round's A/B adjudication instrument (guide §1: measure
first, one query at a time, no suite contention).

Usage: python tools/probe_query.py <query> [reps] [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _proc_stat as _stat  # noqa: E402
from query_skyline_qos_flink_spark.plans import corpus  # noqa: E402
from query_skyline_qos_flink_spark.plans import pipeline, relational  # noqa: E402, F401
from query_skyline_qos_flink_spark.session import get_spark  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    spark = get_spark(app_name=f"probe-{name}")
    spark.range(64, numPartitions=32).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).count()
    spec = corpus.spec(name)
    for i in range(reps):
        s0, t0 = _stat(), time.time()
        spark.sparkContext.setJobDescription(f"{name} rep {i}")
        n = spec.fn(spark, sf_dir).count()
        dt = time.time() - t0
        s1 = _stat()
        print(
            f"rep{i}: {dt:.3f}s rows={n} "
            f"user={s1['user']-s0['user']:.1f} sys={s1['system']-s0['system']:.1f} "
            f"steal={s1['steal']-s0['steal']:.1f}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
