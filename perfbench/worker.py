"""One measured benchmark run, in the fresh process ``run.py`` starts.

Set-up imports the program, builds the session with the package's
``get_session`` and runs the warm-up ``bench.py`` runs; ``setup_s`` counts
from process start, so it includes the JVM's launch. Then one client runs
a closed loop of passes over the workload's operations, each pass in an
order drawn from the seed. An operation is one registered query, built
with ``fn(spark, inputs_dir)`` and forced with a ``noop`` write, both
inside the timed region. Every DataFrame is built afresh. The first pass
takes the JVM past each operation's first execution and checks each
output, outside the timed region; it is not reported. The passes after it
are measured until ``--seconds`` of operation time are reached, and at
least three of them. The result goes to ``<run-dir>/result.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from workloads import WORKLOADS  # noqa: E402

APP_NAME = "perfbench"
# name prefixes of the stores the program writes under the temp directory
STORE_PREFIXES = ("smss_", "sms_", "spark_ml_showcase")
RSS_INTERVAL_S = 0.5
# the first measured pass is often still warming up; with three or more,
# the median pass leaves it out
MIN_PASSES = 3


class PeakRss(threading.Thread):
    """The largest sampled sum of the current resident sets of this process
    and its live descendants (the JVM and the Python workers), read from
    /proc."""

    def __init__(self):
        super().__init__(daemon=True)
        self.root = os.getpid()
        self.peak_kb = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(RSS_INTERVAL_S):
            self.sample()

    def stop(self) -> float:
        self._done.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0

    def sample(self) -> None:
        kids: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
        todo = [self.root]
        total_kb = 0
        while todo:
            pid = todo.pop()
            todo += kids.get(pid, [])
            try:
                with open(f"/proc/{pid}/status") as f:
                    status = dict(line.split(":", 1) for line in f if ":" in line)
            except OSError:
                continue
            # a child the JVM forks to run a command reports the JVM's pages
            # until it execs; count only the JVM and the Python processes
            name = status.get("Name", "").strip()
            if "VmRSS" in status and (name == "java" or name.startswith("python")):
                total_kb += int(status["VmRSS"].split()[0])
        self.peak_kb = max(self.peak_kb, total_kb)


def finite(value) -> bool:
    """No NaN or infinity anywhere in a collected value."""
    if isinstance(value, float):
        return math.isfinite(value)
    if isinstance(value, (list, tuple)):  # a Row is a tuple
        return all(finite(v) for v in value)
    if isinstance(value, dict):
        return all(finite(v) for v in value.values())
    if hasattr(value, "toArray"):  # ml vectors
        return all(math.isfinite(v) for v in value.toArray())
    return True


class OutputCheck:
    """Compares an operation's output with its DuckDB oracle over the same
    inputs, normalized as ``tools/check_oracle.py`` does; an operation
    without an oracle must return rows whose values are all finite."""

    def __init__(self, inputs_dir: str, oracles: dict[str, str]):
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        import check_oracle
        import duckdb

        self.frame_hash = check_oracle.frame_hash
        self.oracles = oracles
        self.duck = duckdb.connect()
        for t in check_oracle.TABLES:
            self.duck.sql(
                f"CREATE VIEW {t} AS SELECT * FROM '{inputs_dir}/{t}.parquet'"
            )

    def __call__(self, name: str, df) -> str | None:
        rows = [tuple(r) for r in df.collect()]
        sql = self.oracles.get(name)
        if sql is None:
            if not rows:
                return "no rows"
            return None if finite(rows) else "a value is not finite"
        rel = self.duck.sql(sql)
        expected = rel.fetchall()
        if len(rows) != len(expected):
            return f"{len(rows)} rows where the oracle has {len(expected)}"
        if sorted(df.columns) != sorted(rel.columns):
            return f"columns {sorted(df.columns)} where the oracle has {sorted(rel.columns)}"
        if self.frame_hash(df.columns, rows) != self.frame_hash(rel.columns, expected):
            return "values differ from the oracle's"
        return None


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """The highest percentile (nearest rank) with at least ten samples
    beyond it, or the fastest sample when there are fewer than eleven:
    (value, percentile, samples beyond)."""
    xs = sorted(latencies)
    n = len(xs)
    rank = max(0, n - 11)
    return xs[rank], 100.0 * (rank + 1) / n, n - 1 - rank


def set_up(inputs_dir: str):
    """Import the program, build its session and run bench.py's warm-up
    (JVM JIT, parquet footer cache, codegen). Returns the session, the
    query registry and the oracles."""
    from spark_ml_showcase_spark import plans
    from spark_ml_showcase_spark.session import get_session

    registry, oracles = plans.registry(), plans.oracles()
    spark = get_session(APP_NAME)
    spark.read.parquet(os.path.join(inputs_dir, "lineitem.parquet")).count()
    return spark, registry, oracles


def stale_store_dirs(tmp_dir: str) -> int:
    """Program stores already present before the first operation runs."""
    return sum(1 for e in os.listdir(tmp_dir) if e.startswith(STORE_PREFIXES))


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def one_line(exc: BaseException) -> str:
    text = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {text[0] if text else ''}"[:300]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    args = ap.parse_args()
    inputs_dir = os.path.join(args.run_dir, "inputs")
    load_start = os.getloadavg()[0]

    # memory is a layer metric: sample it only in a traced run
    rss = PeakRss() if args.trace else None
    if rss:
        rss.start()
    spark, registry, oracles = set_up(inputs_dir)
    setup_s = time.perf_counter() - T_START
    ops = WORKLOADS[args.workload]
    missing = [op for op in ops if op not in registry]
    if missing:
        raise SystemExit(f"perfbench: operations not registered: {missing}")
    stale = stale_store_dirs(os.environ["TMPDIR"])

    check = OutputCheck(inputs_dir, oracles)
    tracer = None
    rng = random.Random(args.seed)
    order = list(ops)
    failures: list[str] = []
    attempted = 0
    warm_up_s = check_s = 0.0
    passes: list[float] = []
    latencies: list[float] = []
    by_op: dict[str, list[float]] = {op: [] for op in ops}
    # pass 0 takes the JVM past each operation's first execution and checks
    # its output; the passes after it are measured
    steal_start = 0.0
    while sum(passes) < args.seconds or len(passes) < MIN_PASSES:
        warm_up = attempted == 0
        if not warm_up and args.trace and tracer is None:
            import layers

            tracer = layers.Tracer(spark)
            tracer.install()
        rng.shuffle(order)
        wall = 0.0
        for name in order:
            attempted += 1
            df = None
            t0 = time.perf_counter()
            try:
                with tracer.construct(name) if tracer else nullcontext():
                    df = registry[name](spark, inputs_dir)
                with tracer.execute(name) if tracer else nullcontext():
                    df.write.format("noop").mode("overwrite").save()
                if not warm_up:
                    latencies.append(time.perf_counter() - t0)
                    by_op[name].append(latencies[-1])
            except Exception as exc:  # noqa: BLE001 - a failed operation is counted, the run goes on
                failures.append(f"{name}: {one_line(exc)}")
                df = None
            wall += time.perf_counter() - t0
            if tracer:
                tracer.end_op(df)
            if warm_up and df is not None:
                t0 = time.perf_counter()
                try:
                    problem = check(name, df)
                except Exception as exc:  # noqa: BLE001
                    problem = f"check raised {one_line(exc)}"
                check_s += time.perf_counter() - t0
                if problem:
                    failures.append(f"{name}: output check: {problem}")
        if warm_up:
            warm_up_s = wall
            steal_start = steal_s()
        else:
            passes.append(wall)
    steal_measured = steal_s() - steal_start

    if not latencies:  # every operation failed; the run is reported as incorrect
        latencies = passes
    tail_value, tail_pct, tail_beyond = tail(latencies)
    metrics = {
        "setup_s": setup_s,
        "wall_s": statistics.median(passes),
        "op_p50_s": statistics.median(latencies),
        "op_tail_s": tail_value,
    }
    if rss:
        metrics["session.peak_rss_mb"] = rss.stop()
    if tracer:
        tracer.uninstall()
        tracer.write_spans(os.path.join(args.run_dir, "spans.json"))
        metrics.update(tracer.metrics(len(passes)))
        metrics["sources.stale_store_dirs"] = float(stale)
        metrics["trace.wall_s"] = metrics["wall_s"]
    import pyspark

    result = {
        "metrics": metrics,
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
        "detail": {
            "warm_up_pass_s": warm_up_s,
            "output_check_s": check_s,
            "passes_s": passes,
            "op_latencies_s": by_op,
            "op_tail": {"percentile": tail_pct, "samples": len(latencies), "beyond": tail_beyond},
            "stale_store_dirs": stale,
        },
        "provenance": {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "spark_version": spark.version,
            "pyspark_version": pyspark.__version__,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg()[0],
            # CPU time other guests took while the passes were measured
            "steal_s_measured": steal_measured,
        },
    }
    with open(os.path.join(args.run_dir, "result.json"), "w") as f:
        json.dump(result, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
