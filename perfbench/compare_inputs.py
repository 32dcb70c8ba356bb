"""Compare the benchmark's generated population with a fixture directory.

    python3 perfbench/compare_inputs.py --reference DIR [--ops NAME ...]

DIR holds the sf0.1 parquet fixtures the package's own tools read. The
script writes the generated population (``inputs.base_tables``, before any
seeded sampling) under ``.perfbench_run/compare/``, then prints one JSON
line per table (row count, and per column the distinct count and the mean
of numeric columns, on both sides) and one per operation (output rows and
warm latency on both sides: after one untimed run per side, the sides
alternate for three timed runs each, and the median is printed). The
operations default to every one in ``workloads.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def column_stats(table) -> dict:
    stats = {"rows": table.num_rows}
    for name in table.column_names:
        col = table[name]
        if col.type.num_fields:  # list columns: no distinct count
            continue
        entry = {"distinct": len(pc.unique(col))}
        if pa.types.is_integer(col.type) or pa.types.is_floating(col.type):
            entry["mean"] = round(pc.mean(col).as_py(), 4)
        stats[name] = entry
    return stats


TIMED_RUNS = 3


def run_once(spark, fn, sf_dir: str) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reference", required=True)
    ap.add_argument("--ops", nargs="*")
    args = ap.parse_args()
    ops = args.ops or [op for names in WORKLOADS.values() for op in names]

    generated = os.path.join(ROOT, ".perfbench_run", "compare", "base")
    shutil.rmtree(generated, ignore_errors=True)
    os.makedirs(generated)
    for name, table in inputs.base_tables().items():
        pq.write_table(table, os.path.join(generated, f"{name}.parquet"))
        ref = pq.read_table(os.path.join(args.reference, f"{name}.parquet"))
        line = {"table": name, "generated": column_stats(table), "reference": column_stats(ref)}
        print(json.dumps(line, default=str), flush=True)

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from spark_ml_showcase_spark import plans
    from spark_ml_showcase_spark.session import get_session

    registry = plans.registry()
    spark = get_session("perfbench-compare")
    sides = {"generated": generated, "reference": args.reference}
    for op in ops:
        fn = registry[op]
        times = {side: [] for side in sides}
        for side, sf_dir in sides.items():
            run_once(spark, fn, sf_dir)
        for _ in range(TIMED_RUNS):
            for side, sf_dir in sides.items():
                times[side].append(run_once(spark, fn, sf_dir))
        line = {"op": op}
        for side, sf_dir in sides.items():
            rows = fn(spark, sf_dir).count()
            line[side] = {"rows": rows, "warm_s": round(statistics.median(times[side]), 3)}
        print(json.dumps(line), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
