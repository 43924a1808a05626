"""Record the batch-suite corpus golden digests into perfbench/golden.json.

    python3 perfbench/record_golden.py

Writes the benchmark's corpus fixture, runs each query of the fixed list once
on it, and runs the query's DuckDB oracle on the same fixture.  When the two
agree, it stores the row count and order-insensitive digest.  If any query
disagrees with its oracle, it reports the query and writes nothing.  Record
only from a commit whose oracle gate is green.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import corpusgen  # noqa: E402
from workloads import CORPUS_QUERIES, GOLDEN_PATH  # noqa: E402

def main() -> int:
    import duckdb
    from query_skyline_qos_flink_spark.plans import corpus, pipeline  # noqa: F401 (registers queries)
    from query_skyline_qos_flink_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="golden-", dir=ROOT)
    golden, bad = {}, []
    try:
        spark = get_spark(app_name="perfbench-golden")
        sf_dir = os.path.join(work, "corpus")
        con = duckdb.connect()
        for t in corpusgen.write(sf_dir):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
        for q in CORPUS_QUERIES:
            spec = corpus.REGISTRY[q]
            df = spec.fn(spark, sf_dir)
            rows = df.collect()
            entry = {"rows": len(rows), "digest": check.table_digest(df.columns, rows)}
            tbl = con.execute(spec.oracle).arrow()
            orows = [tuple(r) for r in tbl.to_pandas().itertuples(index=False, name=None)]
            want = {"rows": len(orows),
                    "digest": check.table_digest(list(tbl.column_names), orows)}
            if want != entry:
                bad.append(q)
                print(f"ORACLE MISMATCH {q}: spark {entry} duckdb {want}")
                continue
            golden[q] = entry
            print(q, entry, flush=True)
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print(f"not recorded: {bad}")
        return 1
    with open(GOLDEN_PATH, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
