"""Per-layer numbers for a traced run.

The benchmark's own code records spans around the calls it makes into each
layer of the package; the program itself is not edited. Layers are named
after the package's modules:

- ``sources``: ``Catalog.table`` and the public functions of
  ``sources/versioned.py``;
- ``plans``: the registered query function (DataFrame construction);
- ``operators``: the ``noop`` write that executes the plan, plus the job,
  stage and task counters of every Spark job the operation launched;
- ``functions``: Python-worker time and the similarity caches;
- ``streaming``: the micro-batches of every stream the operation started;
- ``ml``: ``Estimator.fit`` and the public functions of ``ml/ensembles.py``
  and ``ml/evaluate.py``.

Spans stay in memory and are written out when the run ends. Status-store
counters are read after each operation, outside its timed region; the time
the tracer spends on its own bookkeeping is reported as ``trace.overhead_s``.
"""

from __future__ import annotations

import datetime
import functools
import inspect
import json
import re
import sys
import time
from collections import Counter
from contextlib import contextmanager

PACKAGE = "spark_ml_showcase_spark"

# Python-timing SQL metrics on Spark's Python exec nodes (display names of
# pythonBootTime, pythonInitTime and pythonTotalTime in PythonSQLMetrics)
PYTHON_TIME_METRICS = frozenset(
    {
        "time to start Python workers",
        "time to initialize Python workers",
        "time to run Python workers",
    }
)
# a timing metric renders as "total (min, med, max ...)\n<sum> (...)"
_DURATION = re.compile(r"([0-9][0-9.,]*)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
# SQL executions fetched per status-store call while scanning back
_SQL_CHUNK = 32

SPAN_LAYERS = ("sources", "plans", "operators", "streaming", "ml")
# counters read from the status stores, zero until something moves them
COUNTERS = (
    "sources.input_mb",
    "plans.construct_jobs",
    "plans.catalyst_ms",
    "operators.jobs",
    "operators.stages",
    "operators.stages_skipped",
    "operators.tasks",
    "operators.executor_run_s",
    "operators.executor_cpu_s",
    "operators.gc_s",
    "operators.shuffle_read_mb",
    "operators.shuffle_write_mb",
    "operators.spill_mb",
    "functions.python_worker_s",
    "functions.python_nodes",
    "functions.cache_builds",
    "functions.cache_hits",
    "streaming.batches",
    "streaming.input_rows",
    "streaming.jobs",
    "ml.jobs",
)


def duration_s(rendered: str) -> float:
    """Seconds in a rendered timing metric (its total, if it has one)."""
    text = rendered.split("\n", 1)[-1]
    m = _DURATION.search(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class Tracer:
    """Spans and status-store counters for one run of operations."""

    def __init__(self, spark):
        from spark_ml_showcase_spark.functions import similarity

        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[list] = []  # [id, parent, layer, name, op, t0, t1]
        self.counts: Counter = Counter(dict.fromkeys(COUNTERS, 0))
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._op_index = 0
        self._op_span: int | None = None
        self._ml_depth = 0
        self._queries: list = []
        self._patched: list[tuple[object, str, object]] = []
        self._next_sql_id = self._sql_next_id()
        similarity.drain_cache_events()  # events of the unreported first pass
        # perf_counter() + offset = epoch seconds, to place stream batches
        self._epoch_offset = time.time() - time.perf_counter()

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, layer: str, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = [sid, parent, layer, name, self._op_index, time.perf_counter(), None]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            rec[6] = time.perf_counter()
            self._stack.pop()

    def _group(self, phase: str) -> str:
        return f"perfbench-{self._op_index}-{phase}"

    @contextmanager
    def construct(self, op: str):
        """The query function's call: the ``plans`` layer."""
        self._op_index += 1
        self._queries = []
        self.sc.setJobGroup(self._group("construct"), op)
        with self.span("plans", op) as sid:
            self._op_span = sid
            yield

    @contextmanager
    def execute(self, op: str):
        """The ``noop`` write: the ``operators`` layer."""
        self.sc.setJobGroup(self._group("execute"), op)
        with self.span("operators", "noop write"):
            yield

    # -- wrappers around the program's public functions ----------------

    def install(self) -> None:
        from pyspark.ml.base import Estimator
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from spark_ml_showcase_spark.ml import ensembles, evaluate
        from spark_ml_showcase_spark.sources import versioned
        from spark_ml_showcase_spark.sources.catalog import Catalog

        self._patch(Catalog, "table", self._spanned("sources", "Catalog.table", Catalog.table))
        self._patch(Estimator, "fit", self._ml_spanned("Estimator.fit", Estimator.fit))
        for module, layer, wrap in (
            (versioned, "versioned", lambda n, f: self._spanned("sources", n, f)),
            (ensembles, "ensembles", self._ml_spanned),
            (evaluate, "evaluate", self._ml_spanned),
        ):
            for name, fn in inspect.getmembers(module, inspect.isfunction):
                if not name.startswith("_") and fn.__module__ == module.__name__:
                    self._patch_everywhere(fn, wrap(f"{layer}.{name}", fn))
        for method in ("start", "toTable"):
            self._patch(DataStreamWriter, method, self._stream_started(getattr(DataStreamWriter, method)))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _patch_everywhere(self, fn, wrapper) -> None:
        """Replace ``fn`` in its module and wherever the package imported
        it by name."""
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self._patch(mod, attr, wrapper)

    def _spanned(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        return wrapper

    def _ml_spanned(self, name: str, fn):
        """An ``ml`` span; the outermost one runs its jobs under the
        operation's ``ml`` job group so they can be counted apart."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            outer = tracer._ml_depth == 0 and tracer._op_span is not None
            if outer:
                prev = tracer.sc.getLocalProperty("spark.jobGroup.id")
                tracer.sc.setLocalProperty("spark.jobGroup.id", tracer._group("ml"))
            tracer._ml_depth += 1
            try:
                with tracer.span("ml", name):
                    return fn(*args, **kwargs)
            finally:
                tracer._ml_depth -= 1
                if outer:
                    tracer.sc.setLocalProperty("spark.jobGroup.id", prev)

        return wrapper

    def _stream_started(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            query = fn(*args, **kwargs)
            tracer._queries.append(query)
            return query

        return wrapper

    # -- counters read after each operation ------------------------------

    def end_op(self, df) -> None:
        """Read the operation's counters from the status stores."""
        t0 = time.perf_counter()
        jsc = self.sc._jsc.sc()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = {
            phase: list(tracker.getJobIdsForGroup(self._group(phase)))
            for phase in ("construct", "execute", "ml")
        }
        # a stream runs its micro-batch jobs under its runId as job group
        jobs["streaming"] = [
            j for q in self._queries for j in tracker.getJobIdsForGroup(str(q.runId))
        ]
        c = self.counts
        c["plans.construct_jobs"] += len(jobs["construct"]) + len(jobs["ml"]) + len(jobs["streaming"])
        c["ml.jobs"] += len(jobs["ml"])
        c["streaming.jobs"] += len(jobs["streaming"])
        all_jobs = [j for ids in jobs.values() for j in ids]
        c["operators.jobs"] += len(all_jobs)
        self._stage_counters(jsc.statusStore(), all_jobs)
        self._stream_counters()
        self._sql_counters()
        if df is not None:
            self._catalyst(df)
        self._cache_events()
        self._op_span = None
        self.overhead_s += time.perf_counter() - t0

    def _stage_counters(self, store, job_ids: list[int]) -> None:
        c = self.counts
        stage_ids: set[int] = set()
        for jid in job_ids:
            job = store.job(jid)
            c["operators.stages_skipped"] += job.numSkippedStages()
            stage_ids.update(_seq(job.stageIds()))
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a stage that never ran has no attempt
                continue
            if str(st.status()) == "SKIPPED":
                continue
            c["operators.stages"] += 1
            c["operators.tasks"] += st.numTasks()
            c["operators.executor_run_s"] += st.executorRunTime() / 1e3
            c["operators.executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["operators.gc_s"] += st.jvmGcTime() / 1e3
            c["operators.shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
            c["operators.shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            c["operators.spill_mb"] += st.diskBytesSpilled() / 1e6
            c["sources.input_mb"] += st.inputBytes() / 1e6

    def _stream_counters(self) -> None:
        c = self.counts
        for query in self._queries:
            for p in query.recentProgress:
                c["streaming.batches"] += 1
                c["streaming.input_rows"] += p.numInputRows
                dur = p.durationMs.get("triggerExecution", 0) / 1e3
                start = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                t0 = start.timestamp() - self._epoch_offset
                self.spans.append(
                    [len(self.spans), self._op_span, "streaming", f"batch {p.batchId}",
                     self._op_index, t0, t0 + dur]
                )

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _sql_next_id(self) -> int:
        store = self._sql_store()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() + 1 if n else 0

    def _sql_counters(self) -> None:
        """Python-worker time and Python nodes of the final plans of every
        SQL execution since the previous operation (streams included)."""
        store = self._sql_store()
        n = store.executionsCount()
        new, end = [], n
        while end > 0:
            chunk = _seq(store.executionsList(max(0, end - _SQL_CHUNK), min(end, _SQL_CHUNK)))
            new += [e.executionId() for e in chunk if e.executionId() >= self._next_sql_id]
            if chunk[0].executionId() < self._next_sql_id:
                break
            end -= _SQL_CHUNK
        c = self.counts
        for eid in new:
            values = store.executionMetrics(eid)
            for node in _seq(store.planGraph(eid).allNodes()):
                python = [m for m in _seq(node.metrics()) if m.name() in PYTHON_TIME_METRICS]
                if python:
                    c["functions.python_nodes"] += 1
                for m in python:
                    value = values.get(m.accumulatorId())
                    if value.isDefined():
                        c["functions.python_worker_s"] += duration_s(value.get())
        if new:
            self._next_sql_id = max(new) + 1

    def _catalyst(self, df) -> None:
        """Analysis, optimization and planning time of the query's own
        QueryExecution (planning is forced here, outside the timed region)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases().valuesIterator()
        while phases.hasNext():
            self.counts["plans.catalyst_ms"] += phases.next().durationMs()

    def _cache_events(self) -> None:
        from spark_ml_showcase_spark.functions import similarity

        for _, event in similarity.drain_cache_events():
            self.counts["functions.cache_builds" if event == "build" else "functions.cache_hits"] += 1

    # -- results ---------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Each layer's span time minus the part its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for _, parent, _, _, _, t0, t1 in self.spans:
            if parent is not None:
                children.setdefault(parent, []).append((t0, t1))
        out = dict.fromkeys(SPAN_LAYERS, 0.0)
        for sid, _, layer, _, _, t0, t1 in self.spans:
            covered, edge = 0.0, t0
            for c0, c1 in sorted(children.get(sid, ())):
                c0, c1 = max(c0, edge), min(c1, t1)
                if c1 > c0:
                    covered += c1 - c0
                    edge = c1
            out[layer] += (t1 - t0) - covered
        return out

    def _span_total(self, pred, outermost: bool = False) -> tuple[int, float]:
        by_id = {s[0]: s for s in self.spans}
        calls, total = 0, 0.0
        for s in self.spans:
            if not pred(s[3]):
                continue
            calls += 1
            parent = s[1]
            nested = False
            while outermost and parent is not None:
                if pred(by_id[parent][3]):
                    nested = True
                    break
                parent = by_id[parent][1]
            if not nested:
                total += s[6] - s[5]
        return calls, total

    def metrics(self, n_passes: int) -> dict[str, float]:
        """Every per-layer number, per pass."""
        m = {k: float(v) for k, v in self.counts.items()}
        m["sources.table_calls"], m["sources.table_s"] = self._span_total(
            lambda n: n == "Catalog.table"
        )
        m["sources.versioned_calls"], m["sources.versioned_s"] = self._span_total(
            lambda n: n.startswith("versioned."), outermost=True
        )
        m["plans.construct_s"] = sum(
            s[6] - s[5] for s in self.spans if s[2] == "plans"
        )
        m["operators.exec_s"] = sum(
            s[6] - s[5] for s in self.spans if s[2] == "operators"
        )
        m["ml.fit_calls"], m["ml.fit_s"] = self._span_total(
            lambda n: n == "Estimator.fit", outermost=True
        )
        _, m["ml.evaluate_s"] = self._span_total(
            lambda n: n.startswith("evaluate."), outermost=True
        )
        m["streaming.batch_s"] = sum(
            s[6] - s[5] for s in self.spans if s[2] == "streaming"
        )
        for layer, secs in self.self_times().items():
            m[f"{layer}.self_s"] = secs
        m["trace.overhead_s"] = self.overhead_s
        per_pass = {k: v / n_passes for k, v in m.items()}
        run_s = per_pass.get("operators.executor_run_s", 0.0)
        per_pass["operators.cpu_ratio"] = (
            per_pass.get("operators.executor_cpu_s", 0.0) / run_s if run_s else 0.0
        )
        lookups = per_pass.get("functions.cache_hits", 0.0) + per_pass.get("functions.cache_builds", 0.0)
        per_pass["functions.cache_hit_ratio"] = (
            per_pass.get("functions.cache_hits", 0.0) / lookups if lookups else 0.0
        )
        return per_pass

    def write_spans(self, path: str) -> None:
        keys = ("id", "parent", "layer", "name", "op", "t0", "t1")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)
