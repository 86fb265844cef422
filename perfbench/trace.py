"""Spans around the engine's layer boundaries, and Spark's own counters.

A traced run wraps the engine's public entry points in place (module
attributes and class methods) and records one span per call: name,
start, end, parent and the op id the span belongs to. Spans stay in
memory and are written once, at the end of the run. Spark jobs are
added from the status store, by job group, as children of the deepest
span of their op that was open when they started.
"""

from __future__ import annotations

import functools
import json
import sys
import time

from perfbench.engine import PKG

# Physical operators that run Python workers.
PYTHON_EVAL_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowWindowPython",
    "BatchEvalPythonUDTF",
    "ArrowEvalPythonUDTF",
    "FlatMapGroupsInPandasWithState",
    "TransformWithStateInPandas",
)


class Tracer:
    """In-memory span recorder with a parent stack (one thread)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self.enabled = False

    def begin(self, name: str, **attrs) -> int:
        idx = len(self.spans)
        self.spans.append({
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            **attrs,
        })
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        while self._stack and self._stack[-1] != idx:
            self._stack.pop()
        if self._stack:
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int) -> None:
        """A finished span whose times were measured elsewhere."""
        self.spans.append({
            "name": name, "start": start, "end": end, "parent": parent,
            "op": self.op_id,
        })

    def enclosing(self, root: int, t: float) -> int:
        """The deepest span under ``root`` (or ``root`` itself) whose
        interval contains time ``t``; Spark job spans are never parents."""
        best, depth = root, {root: 0}
        for i in range(root + 1, len(self.spans)):
            s = self.spans[i]
            if s["parent"] not in depth or s["name"] == "spark.job":
                continue
            depth[i] = depth[s["parent"]] + 1
            if (s["end"] is not None and s["start"] <= t <= s["end"]
                    and depth[i] > depth[best]):
                best = i
        return best

    def span(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        idx = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(idx)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the union of its
        children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            own = (s["end"] - s["start"]) - union_length(
                kids.get(i, []), s["start"], s["end"])
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {**s, "start": s["start"] - t0,
             "end": None if s["end"] is None else s["end"] - t0}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals``, clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _wrapper(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        return tracer.span(name, fn, *args, **kwargs)

    return traced


def wrap_function(tracer: Tracer, module_name: str, attr: str, span: str) -> None:
    """Wrap ``module.attr`` and every engine module's binding of the
    same function object (callers use ``from … import``)."""
    orig = getattr(sys.modules[module_name], attr)
    traced = _wrapper(tracer, span, orig)
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PKG or name.startswith(PKG + ".")):
            continue
        if getattr(mod, attr, None) is orig:
            setattr(mod, attr, traced)


def wrap_method(tracer: Tracer, cls, attr: str, span: str) -> None:
    setattr(cls, attr, _wrapper(tracer, span, getattr(cls, attr)))


def install_boundaries(tracer: Tracer) -> None:
    """Wrap the layer boundaries the per-layer metrics are built on."""
    import importlib

    from layer_apache_hive_spark import registry

    registry.all_queries()  # imports every module that binds the names
    ha = importlib.import_module(f"{PKG}.sources.hive_acid")
    acid = importlib.import_module(f"{PKG}.acid")
    txn = importlib.import_module(f"{PKG}.txn")
    wrap_function(tracer, f"{PKG}.catalog", "read_table", "catalog.read_table")
    wrap_function(tracer, ha.__name__, "read_hive_acid", "hive_acid.read")
    wrap_function(tracer, ha.__name__, "read_hive_acid_partitioned",
                  "hive_acid.read")
    for meth in ("allocate", "commit", "commit_many", "abort", "abort_many",
                 "valid_writeids", "committed_ids", "committed_write_sets_since",
                 "next_visibility_txn"):
        wrap_method(tracer, ha.HiveWriteIdLedger, meth, "ledger")
    wrap_method(tracer, ha.HiveAcidInitiator, "run_once", "compactor.run_once")
    wrap_method(tracer, acid.TransactionCatalog, "commit", "acid.commit")
    wrap_method(tracer, txn.TxnSessionManager, "handle", "txn.handle")


class SparkProbe:
    """Per-op Spark counters from the status store, by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    def set_group(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id, False)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, op_id: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(op_id))

    def counts(self, op_id: str) -> dict:
        """Jobs, stages and tasks of one op: cheap, exact counters."""
        jobs = self.job_ids(op_id)
        stages = tasks = 0
        tracker = self.sc.statusTracker()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = tracker.getStageInfo(s)
                stages += 1
                tasks += st.numTasks if st is not None else 0
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def detail(self, op_id: str) -> dict:
        """Job intervals and stage task metrics of one op."""
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "intervals": [],
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "input_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        }
        for j in self.job_ids(op_id):
            try:
                jd = self._store.job(j)
            except Exception:
                continue
            out["jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
            sids = jd.stageIds()
            for k in range(sids.size()):
                try:
                    sd = self._store.lastStageAttempt(sids.apply(k))
                except Exception:
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1000.0
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1000.0
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


def plan_profile(df) -> dict:
    """Catalyst phase times and plan shape of ``df``'s own query
    execution. Forces optimization and planning of ``df`` (the write
    that follows plans its own copy), so it belongs in traced runs
    only."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    out = {"analysis_s": 0.0, "optimization_s": 0.0, "planning_s": 0.0}
    for key in ("analysis", "optimization", "planning"):
        opt = phases.get(key)
        if opt.isDefined():
            out[f"{key}_s"] = opt.get().durationMs() / 1000.0
    out["exchanges"] = sum(
        1 for line in plan.splitlines() if "Exchange" in line and "Reused" not in line)
    out["python_eval_nodes"] = sum(
        1 for line in plan.splitlines()
        if any(node in line for node in PYTHON_EVAL_NODES))
    return out


class StreamListener:
    """Collects streaming progress reports through a
    ``StreamingQueryListener`` attached to the session."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                sink.batches += 1
                sink.input_rows += p.numInputRows or 0
                sink.trigger_s += d.get("triggerExecution", 0) / 1000.0
                sink.add_batch_s += d.get("addBatch", 0) / 1000.0
                sink.wal_commit_s += d.get("walCommit", 0) / 1000.0 + d.get(
                    "commitOffsets", 0) / 1000.0

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.batches = 0
        self.input_rows = 0
        self.trigger_s = 0.0
        self.add_batch_s = 0.0
        self.wal_commit_s = 0.0
        self._listener = _L()
        spark.streams.addListener(self._listener)
        self._spark = spark

    def remove(self) -> None:
        try:
            self._spark.streams.removeListener(self._listener)
        except Exception:
            pass
