#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 25 --trace 0

Workloads (BENCHMARK.json lists the first two; see README.md):
  pipeline   closed loop over extension, streaming and sink/DDL ids
  acid_dml   statement stream through TxnSessionManager.handle
  olap_read  closed loop over fixed read-only registered ids

Run from the root of a checkout. The inputs are the parquet tables
under ``perfbench/data/``. ``setup_s`` is the time from process start
(JVM launch, session, table warm-up, fixture prepass, ACID enrollment)
to the first timed op. The timed loop does a fixed amount of work
sized so it takes about ``--seconds`` on a 4-core machine. Outputs are
checked after the timed loop.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
same plan with spans around the engine's layer boundaries and prints
the per-layer metrics. Its tracing overhead is measured against the
median ops/s of the untraced runs of the same code recorded in this
checkout (when there are none, the traced run first runs the plan
untraced from the same starting state).
Spans go to ``.bench_build/perfbench/traces/``; per-op Spark counts,
and the ids whose counts changed between runs, to
``.bench_build/perfbench/counts/``.

The last line of stdout is the result:
  {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}
The line before it is a report with every metric of the run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import engine, stats  # noqa: E402

CORES = 4
DRIVER_MEM = "3g"
# Seconds one pass over a workload's ops (one round of acid_dml units)
# takes on a 4-core machine. A run does max(1, round(seconds / this))
# whole passes: a fixed amount of work for a given --seconds.
NOMINAL_PASS_S = {"olap_read": 26.0, "pipeline": 14.0, "acid_dml": 28.0}
WORKLOADS = tuple(NOMINAL_PASS_S)


class Context:
    def __init__(self, workload: str):
        self.workload = workload
        self.build_dir = os.path.join(ROOT, ".bench_build", "perfbench")
        self.data_dir = os.path.join(ROOT, "perfbench", "data", "sf0.01")
        self.run_dir = os.path.join(self.build_dir, "run", workload)
        self.tmp_dir = os.path.join(self.run_dir, "tmp")
        self.work_dir = os.path.join(self.run_dir, "work")
        self._oracles = None

    @property
    def oracles(self) -> dict[str, str]:
        if self._oracles is None:
            from layer_apache_hive_spark.registry import all_oracles

            self._oracles = all_oracles()
        return self._oracles

    def duckdb(self):
        import duckdb

        from layer_apache_hive_spark.catalog import TABLES

        con = duckdb.connect()
        for name in TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{self.data_dir}/{name}.parquet')")
        return con


def make_workload(ctx: Context):
    if ctx.workload == "acid_dml":
        from perfbench.acid_dml import AcidDmlWorkload

        return AcidDmlWorkload(ctx)
    from perfbench.registry_ops import (
        OLAP_READ_IDS, PIPELINE_IDS, RegistryWorkload)

    ids = OLAP_READ_IDS if ctx.workload == "olap_read" else PIPELINE_IDS
    return RegistryWorkload(ctx.workload, ids, ctx)


def code_key() -> str:
    """Hash of the engine's and the benchmark's sources. Records kept
    in the build directory are per code version, so runs of different
    code in one checkout never mix."""
    h = hashlib.sha256()
    for pkg in (engine.PKG, "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, pkg)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def set_up(ctx: Context, wl, spark, t0: float) -> tuple:
    """One set-up: fresh scratch state, session, warm-up, fixtures.
    ``total_s`` runs from ``t0`` to the end of set-up."""
    if spark is not None:
        wl.teardown()
        engine.stop_session(spark)
    engine.fresh_dir(ctx.run_dir)
    os.makedirs(ctx.tmp_dir)
    os.makedirs(ctx.work_dir)
    t1 = time.perf_counter()
    spark = engine.start_session(f"perfbench-{ctx.workload}")
    t2 = time.perf_counter()
    parts = wl.setup(spark)
    parts["start_s"] = t2 - t1
    parts["total_s"] = time.perf_counter() - t0
    return spark, parts


def host_loop_s() -> float:
    """Best of five runs of a fixed pure-Python loop: the host's
    single-core speed when the run measured, for reading spreads
    across runs (not a metric)."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i
        best = min(best, time.perf_counter() - t0)
    return best


def timed_loop(wl, ops, probe, tracer) -> tuple[list[dict], float]:
    t0 = time.perf_counter()
    results = wl.run(ops, probe, tracer)
    return results, time.perf_counter() - t0


def steps_of(r: dict) -> list[dict]:
    """The job-group units of an op: its steps (acid_dml) or itself."""
    return r.get("steps", [r])


SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "gc_s", "input_bytes", "shuffle_write_bytes", "spill_bytes")


def spark_layer(results, probe, tracer, cores: int) -> dict[str, float]:
    """Per-op Spark counters from the status store; adds each op's
    jobs to the trace as child spans of the op."""
    from perfbench.trace import union_length

    tot = dict.fromkeys(SPARK_KEYS, 0.0)
    job_s = gap_s = wall = 0.0
    for r in results:
        intervals = []
        for st in steps_of(r):
            d = probe.detail(st["op"])
            st["spark"] = {k: d[k] for k in SPARK_KEYS}
            for k in SPARK_KEYS:
                tot[k] += d[k]
            intervals.extend(d["intervals"])
        job_s += sum(e - s for s, e in intervals)
        wall += r["latency"]
        span = tracer.spans[r["span"]]
        offset = span["start"] - r["wall0"]
        ivs = [(s + offset, e + offset) for s, e in intervals]
        tracer.op_id = r["op"]
        for s, e in ivs:
            tracer.add("spark.job", s, e, tracer.enclosing(r["span"], s))
        gap_s += r["latency"] - union_length(ivs, span["start"], span["end"])
    tracer.op_id = None
    n = max(1, len(results))
    m = {f"spark.{k}": tot[k] / n for k in SPARK_KEYS}
    m["spark.job_s"] = job_s / n
    m["spark.driver_gap_s"] = gap_s / n
    m["spark.core_busy_share"] = tot["executor_run_s"] / max(1e-9, cores * wall)
    return m


def peak_rss_mb() -> float:
    """VmHWM of this process plus the Spark JVM, in MB."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def record_counts(ctx: Context, results, probe) -> list[str]:
    """Jobs/stages/tasks per op key (registered id, or acid_dml unit
    and statement).
    Returns the keys whose counts differ within this run or from an
    earlier run of the same workload and code; the union over those
    runs is kept in ``counts/<workload>-<code key>.json``."""
    per_key: dict[str, set] = {}
    for r in results:
        for st in steps_of(r):
            c = st.get("spark") or probe.counts(st["op"])
            per_key.setdefault(st.get("count_key", st["verb"]), set()).add(
                (int(c["jobs"]), int(c["stages"]), int(c["tasks"])))
    path = os.path.join(ctx.build_dir, "counts",
                        f"{ctx.workload}-{ctx.code_key}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        with open(path) as fh:
            prev = json.load(fh)
    except (OSError, ValueError):
        prev = {"counts": {}, "unstable": []}
    unstable = set(prev.get("unstable", []))
    counts = dict(prev.get("counts", {}))
    for key, seen in per_key.items():
        seen_l = sorted(list(t) for t in seen)
        if len(seen) > 1 or (key in counts and counts[key] != seen_l):
            unstable.add(key)
        counts[key] = seen_l
    with open(path + ".tmp", "w") as fh:
        json.dump({"counts": counts, "unstable": sorted(unstable)}, fh,
                  indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)
    return sorted(unstable)


def _untraced_path(ctx: Context) -> str:
    """Untraced ops/s records of this workload and code."""
    return os.path.join(ctx.build_dir, "untraced",
                        f"{ctx.workload}-{ctx.code_key}.json")


def untraced_ops_per_s(ctx: Context) -> float | None:
    """Median ops/s (all attempted ops) of the untraced runs of this
    workload and code recorded in this checkout, or None."""
    try:
        with open(_untraced_path(ctx)) as fh:
            vals = json.load(fh)
    except (OSError, ValueError):
        return None
    return stats.median(vals) if vals else None


def record_untraced(ctx: Context, ops_per_s: float) -> None:
    path = _untraced_path(ctx)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        with open(path) as fh:
            vals = json.load(fh)
    except (OSError, ValueError):
        vals = []
    with open(path + ".tmp", "w") as fh:
        json.dump((vals + [ops_per_s])[-20:], fh)
    os.replace(path + ".tmp", path)


def end_to_end(results, wall, setup, failed_ops, tail_p: float) -> dict:
    lat = [r["latency"] for r in results]
    ok = len(results) - len(failed_ops)
    return {
        "setup_s": setup["total_s"],
        "ops_per_s": ok / wall,
        "op_p50_s": stats.percentile(lat, 50),
        "op_tail_s": stats.percentile(lat, tail_p),
        "failed_share": len(failed_ops) / max(1, len(results)),
    }


# Units of the report-only end-to-end metrics; every other metric's
# unit comes from BENCHMARK.json. The latency percentiles stay off the
# result line: with ~20 ops a run they are single-op latencies, which
# swing with the host's speed far more than ops_per_s does.
REPORT_UNITS = {"op_p50_s": "s", "op_tail_s": "s", "failed_share": "ratio",
                "write_p50_s": "s", "read_p50_s": "s", "space_amp": "ratio"}
SELF_TIME_SPANS = (
    "op", "registry.build", "registry.exec", "catalog.read_table",
    "txn.handle", "hive_acid.read", "ledger", "compactor.run_once",
    "acid.commit", "spark.job",
)


class Spec:
    """Metric names and units from BENCHMARK.json."""

    def __init__(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.end_to_end = [m["name"] for m in spec["end_to_end"]]
        self.layer_metrics = [m["name"] for m in spec["per_layer"]]
        self.units = dict(REPORT_UNITS)
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.units[m["name"]] = m["unit"]

    def with_units(self, values: dict) -> dict:
        return {k: {"value": v, "unit": self.units[k]} for k, v in values.items()}


def per_layer(results, wall, baseline, setup, e2e, wl, probe, tracer) -> dict:
    """The traced run's per-layer metrics, per op unless named
    otherwise; 0 for a layer the workload does not touch."""
    n = max(1, len(results))
    layers = {
        "session.start_s": setup["start_s"],
        "session.warm_s": setup["warm_s"],
        "prepass.fixture_s": setup["fixture_s"],
        "session.peak_rss_mb": peak_rss_mb(),
        "catalog.read_table_calls": len(tracer.durations("catalog.read_table")) / n,
        "catalog.read_table_s": sum(tracer.durations("catalog.read_table")) / n,
    }
    layers.update(spark_layer(results, probe, tracer, CORES))
    layers.update(wl.layer_metrics(results, tracer))
    self_times = tracer.self_times()
    for name in SELF_TIME_SPANS:
        layers[f"self_s.{name}"] = self_times.get(name, 0.0) / n
    traced = len(results) / wall
    layers["trace.untraced_ops_per_s"] = baseline
    layers["trace.traced_ops_per_s"] = traced
    layers["trace.overhead_ops_per_s"] = traced - baseline
    for k in ("write_p50_s", "read_p50_s", "space_amp", "failed_share"):
        layers[f"e2e.{k}"] = e2e.get(k, 0.0)
    return layers


def run(args, spec: Spec) -> dict:
    from perfbench.trace import SparkProbe, Tracer, install_boundaries

    ctx = Context(args.workload)
    ctx.code_key = code_key()
    os.makedirs(ctx.build_dir, exist_ok=True)
    engine.install(ROOT, ctx.tmp_dir, ctx.data_dir)
    engine.configure_env(ctx.build_dir, CORES, DRIVER_MEM)
    wl = make_workload(ctx)
    passes = max(1, round(args.seconds / NOMINAL_PASS_S[ctx.workload]))
    ops = wl.plan(args.seed, passes)

    spark, setup = set_up(ctx, wl, None, T_START)
    tracer = Tracer()
    probe = SparkProbe(spark)
    baseline = untraced_ops_per_s(ctx) if args.trace else None
    if args.trace and baseline is None:
        # no untraced run of this workload and code in this checkout yet
        results, wall = timed_loop(wl, ops, probe, tracer)
        baseline = len(results) / wall
        spark, _ = set_up(ctx, wl, spark, time.perf_counter())
        probe = SparkProbe(spark)
        ops = wl.plan(args.seed, passes)
    if args.trace:
        install_boundaries(tracer)
        tracer.enabled = True
    results, wall = timed_loop(wl, ops, probe, tracer)
    tracer.enabled = False
    if not args.trace:
        record_untraced(ctx, len(results) / wall)
    host_s = host_loop_s()

    # -- outside the timed region: output checks and counters ----------
    t_check = time.perf_counter()
    mismatches = wl.check(results)
    check_s = time.perf_counter() - t_check
    failed_ops = {r["op"] for r in results if not r["ok"]}
    for r in results:
        keys = {r["id"], r["op"]} | {st["op"] for st in steps_of(r)}
        if keys & set(mismatches):
            failed_ops.add(r["op"])
    tail_p = stats.tail_percentile(len(results))
    e2e = end_to_end(results, wall, setup, failed_ops, tail_p)
    e2e.update(wl.end_to_end(results))
    unstable = record_counts(ctx, results, probe)
    ops_dir = os.path.join(ctx.build_dir, "ops")
    os.makedirs(ops_dir, exist_ok=True)
    with open(os.path.join(ops_dir, f"{ctx.workload}-seed{args.seed}.json"), "w") as fh:
        json.dump([{k: v for k, v in r.items() if k not in ("span", "wall0")}
                   for r in results], fh, indent=0, default=str)

    report = {
        "workload": ctx.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": len(results),
        "timed_wall_s": wall,
        "check_s": check_s,
        "host_loop_s": host_s,
        "setup": {k: round(v, 3) for k, v in setup.items()},
        "op_tail_percentile": tail_p,
        "op_tail_samples": len(results),
        "output_check": "ok" if not mismatches else mismatches,
        "failures": sorted({r["err"] for r in results if r["err"]})[:10],
        "unstable_count_keys": unstable,
        "end_to_end": spec.with_units(e2e),
    }
    metrics = {k: e2e[k] for k in spec.end_to_end}
    if args.trace:
        layers = per_layer(results, wall, baseline, setup, e2e, wl, probe, tracer)
        metrics = {k: layers.get(k, 0.0) for k in spec.layer_metrics}
        report["per_layer"] = spec.with_units(metrics)
        trace_dir = os.path.join(ctx.build_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(
            trace_dir, f"{ctx.workload}-seed{args.seed}.json"))
    wl.teardown()
    return {
        "report": report,
        "result": {
            "correct": not mismatches,
            "attempted": len(results),
            "failed": len(failed_ops),
            "metrics": spec.with_units(metrics),
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="repository benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, engine.PKG)):
        print(f"perfbench: engine package {engine.PKG!r} not found under "
              f"{ROOT}", file=sys.stderr)
        return 2
    try:
        out = run(args, Spec())
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        engine.shutdown_jvm()
    print(json.dumps(out["report"], sort_keys=True))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
