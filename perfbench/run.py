"""Benchmark entry point: one workload, one seed, one fresh measured process.

    python3 perfbench/run.py --workload tabular --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Each run starts from a clean run
directory, ``.perfbench_run/``, which holds the seeded inputs, the temp
directory (``TMPDIR``), Spark's local and warehouse directories, the Spark
configuration and, for a traced run, the spans. Then it starts
``worker.py`` in a fresh process group with ``local[nproc]`` and
``SPARK_GRAFT_CPUS`` pinned to nproc, waits for it, and stops every process
left in that group (the JVM and its Python workers).

Lines before the last describe the run. The last line of standard output
is the result: ``correct``, ``attempted``, ``failed`` and ``metrics``, each
metric with its unit as ``BENCHMARK.json`` lists it: the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
PACKAGE_DIR = os.path.join(ROOT, "spark_ml_showcase_spark")
# what the benchmark needs from the program besides its own files
PROGRAM_FILES = (
    "spark_ml_showcase_spark/session.py",
    "spark_ml_showcase_spark/plans/__init__.py",
    "tools/check_oracle.py",
)
# the whole run has 180 s; leave room for clean-up after the worker
WORKER_DEADLINE_S = 165.0
STOP_GRACE_S = 5.0
DEFAULT_SEED = 1

sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def source_digest() -> str:
    """sha256 over the package's Python sources: the revision measured
    (a checkout need not be a git repository)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(PACKAGE_DIR)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_revision() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def prepare_run_dir(seed: int) -> dict[str, str]:
    """A fresh run directory with the seed's inputs; returns the worker's
    environment."""
    import inputs

    shutil.rmtree(RUN_DIR, ignore_errors=True)
    dirs = {k: os.path.join(RUN_DIR, k) for k in ("inputs", "tmp", "local", "warehouse", "conf")}
    for d in dirs.values():
        os.makedirs(d)
    inputs.write_inputs(dirs["inputs"], seed)
    with open(os.path.join(dirs["conf"], "spark-defaults.conf"), "w") as f:
        f.write(f"spark.sql.warehouse.dir {dirs['warehouse']}\n")
        f.write("spark.ui.showConsoleProgress false\n")
    nproc = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)
    env.pop("SMS_IVF_CACHE", None)
    env.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_CONF_DIR=dirs["conf"],
        SPARK_GRAFT_CPUS=nproc,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        # every JVM, the launcher's included: temp files in the run
        # directory and no hsperfdata file
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    )
    return env


def group_members(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            pids.append(int(entry))
    return pids


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's process group and wait until all of it has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        deadline = time.monotonic() + STOP_GRACE_S
        while time.monotonic() < deadline:
            if proc.poll() is not None and not group_members(proc.pid):
                return
            time.sleep(0.1)
    proc.wait()


def main() -> int:
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not here (missing {missing})", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    env = prepare_run_dir(args.seed)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", RUN_DIR,
    ]
    # the worker's own output is diagnostics: keep it off our stdout
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        proc.wait(timeout=max(1.0, WORKER_DEADLINE_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        print("perfbench: the run overran its deadline", file=sys.stderr)
    finally:
        stop_group(proc)
    result_path = os.path.join(RUN_DIR, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        print(f"perfbench: the worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    with open(result_path) as f:
        result = json.load(f)

    measured = result["metrics"]
    absent = [m["name"] for m in wanted if m["name"] not in measured]
    if absent:
        print(f"perfbench: metrics not measured: {absent}", file=sys.stderr)
        return 1
    provenance = dict(result["provenance"], git=git_revision(), source_sha256=source_digest())
    print("perfbench provenance " + json.dumps(provenance, sort_keys=True))
    print("perfbench detail " + json.dumps(result["detail"], sort_keys=True))
    for failure in result["failures"]:
        print(f"perfbench failure {failure}")
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
                    for m in wanted
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
