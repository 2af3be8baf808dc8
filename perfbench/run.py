"""Warehouse benchmark.

    python3 perfbench/run.py --workload traffic_log --seed 1 --seconds 10 --trace 0

Runs one seeded workload (``traffic_log``, ``dim_changelog``,
``doc_ingest`` or ``warehouse_queries``) at ``local[<nproc>]`` for
``--seconds`` of closed-loop work, checks the program's outputs, and
prints one metric per line followed, as the last line, by one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run turns on the Spark event log and reports the per-layer ones.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]  # the program, and tests/oracle_utils.py
DRIVER_MEMORY = "2g"

#: end-to-end metrics, in print order, with units
END_TO_END = {
    "setup_s": "s",
    "setup_wall_s": "s",
    "batch_cpu_s": "s",
    "rows_per_s": "1/s",
    "batch_p50_s": "s",
    "batch_tail_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "error_rate": "ratio",
    "peak_rss_mb": "MB",
}
#: end-to-end metrics the result line carries: the CPU-time ones and
#: memory. The wall-time ones are printed only: on a shared host the
#: time a virtual CPU is stolen moves a run's rounds by up to 2x from
#: one minute to the next, more than any bound worth keeping (see
#: README.md). error_rate is 0 on a passing run, so it travels as
#: ``attempted``/``failed`` instead.
RESULT_END_TO_END = ["setup_s", "batch_cpu_s", "peak_rss_mb"]
#: per-layer metrics the result line of a traced run carries: the ones
#: every workload measures (counts are 0 where a layer does no work).
#: A traced run prints every other per-layer metric above the line.
RESULT_PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "cpu.jvm_s": "s",
    "cpu.python_s": "s",
    "sources.offsets_ms": "ms",
    "sources.rows_in": "count",
    "engine.plan_ms": "ms",
    "engine.wal_ms": "ms",
    "engine.add_batch_ms": "ms",
    "engine.jobs_per_batch": "count",
    "engine.driver_gap_ms": "ms",
    "state.st1_rows_total": "count",
    "state.st1_bytes": "bytes",
    "state.st2_rows_total": "count",
    "state.st4_rows_total": "count",
    "split.rows_out.page": "count",
    "split.rows_out.start": "count",
    "split.rows_out.display": "count",
    "split.rows_out.action": "count",
    "split.rows_out.err": "count",
    "parse.dirty_rows": "count",
    "router.rows_routed": "count",
    "router.rows_dropped": "count",
    "dedup.clean_rows": "count",
    "dedup.dup_rows": "count",
    "dedup.neardup_rows": "count",
    "table_format.files_written": "count",
    "table_format.bytes_written": "bytes",
    "table_format.bytes_per_input_row": "bytes",
    "table_format.files_live": "count",
    "trace.overhead_ratio": "ratio",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _env(work: str) -> None:
    """Keep every file Spark and Python write inside the run's work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_spark(work: str, master: str, event_dir: str | None = None):
    from flink_realtime_data_warehouse_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a heap committed and touched up front: otherwise the JVM grows
        # it by GC-timing decisions, and peak memory swings by a quarter
        # between runs of the same input. Only the C1 compiler: a run
        # lasts about a minute, and C2 compiles would still be burning
        # CPU and reshaping round times at its end.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
        f"-XX:TieredStopAtLevel=1 -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Run:
    """One workload instance in its own directory: warm-up, the timed
    closed loop, and the bookkeeping of attempted and failed operations."""

    def __init__(self, cls, spark, work: str, seed: int):
        self.wl = cls(spark, work, seed)
        self.rounds = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _attempt(self, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:  # a failed operation is counted, reported and ends the loop
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=4))
            return None

    def warm_up(self) -> bool:
        return self._attempt(lambda: self.wl.warm_up() or True) is not None

    def measure(self, seconds: float, max_rounds: int | None = None, after_round=None) -> None:
        busy = 0.0
        start = len(self.rounds)
        while (busy < seconds or len(self.rounds) - start < self.wl.min_rounds) and (
            max_rounds is None or len(self.rounds) < max_rounds
        ):
            r = self._attempt(self.wl.timed_step)
            if r is None:
                return
            self.rounds.append(r)
            busy += r.wall_s
            if after_round is not None:
                after_round(r)

    def check(self) -> list[tuple[str, bool, str]]:
        results = self._attempt(self.wl.check)
        if results is None:
            return [("check", False, self.errors[-1].strip().splitlines()[-1])]
        self.attempted += len(results) - 1
        self.failed += sum(1 for _, ok, _ in results if not ok)
        if hasattr(self.wl, "executed"):
            for r, name in zip(self.rounds, self.wl.executed):
                r.records = self.wl.result_rows.get(name, 0)
        return results


def end_to_end(run: Run, setup: tuple[float, float], peak_mb: float) -> dict[str, float]:
    from perfbench.probe import median, tail

    batch = [r.batch_s for r in run.rounds]
    query = [r.wall_s for r in run.rounds]
    out = {"setup_s": setup[0], "setup_wall_s": setup[1]}
    out["batch_cpu_s"] = median([r.cpu_s for r in run.rounds])
    out["rows_per_s"] = median([r.records / r.wall_s for r in run.rounds])
    out["batch_p50_s"] = median(batch)
    out["batch_tail_s"], out["batch_tail_pct"] = tail(batch)
    out["query_p50_s"] = median(query)
    out["query_tail_s"], out["query_tail_pct"] = tail(query)
    out["n"] = len(run.rounds)
    out["error_rate"] = run.failed / run.attempted
    out["peak_rss_mb"] = peak_mb
    return out


# ---------------------------------------------------------------------------
# per-layer numbers of a traced run
# ---------------------------------------------------------------------------


def progress_layers(run: Run) -> dict[str, float]:
    """Source, engine and state-operator numbers from each timed round's
    ``StreamingQueryProgress`` records, as medians over the rounds."""
    from perfbench.probe import median

    per_round: dict[str, list[float]] = {}

    def add(key, value):
        per_round.setdefault(key, []).append(value)

    for r in run.rounds:
        recs = [p for ps in r.progress.values() for p in ps]
        d = lambda k: sum(p["durationMs"].get(k, 0) for p in recs)  # noqa: E731
        add("sources.offsets_ms", d("latestOffset") + d("getBatch"))
        add("engine.plan_ms", d("queryPlanning"))
        add("engine.wal_ms", d("walCommit") + d("commitOffsets"))
        add("engine.add_batch_ms", d("addBatch"))
        for st, label in run.wl.state_queries.items():
            ops = [op for p in r.progress.get(label, []) for op in p.get("stateOperators", [])]
            if ops:
                add(f"state.{st}_update_ms", sum(op["allUpdatesTimeMs"] for op in ops))
                add(f"state.{st}_commit_ms", sum(op["commitTimeMs"] for op in ops))
    for proc in ("driver", "jvm", "workers"):
        per_round[f"cpu.{proc}_s"] = [r.cpu[proc] for r in run.rounds]
    # the result line carries driver + workers: a workload without Python
    # UDFs never starts a worker, and its workers_s would read 0 every run
    per_round["cpu.python_s"] = [r.cpu["driver"] + r.cpu["workers"] for r in run.rounds]
    out = {k: median(v) for k, v in per_round.items()}
    out["sources.rows_in"] = sum(r.records for r in run.rounds)
    last = run.rounds[-1].progress if run.rounds else {}
    for st, label in run.wl.state_queries.items():
        ops = [op for p in last.get(label, [])[-1:] for op in p.get("stateOperators", [])]
        if ops:
            out[f"state.{st}_rows_total"] = sum(op["numRowsTotal"] for op in ops)
            out[f"state.{st}_bytes"] = sum(op["memoryUsedBytes"] for op in ops)
    return out


def event_log_layers(run: Run, event_dir: str) -> dict[str, float]:
    """Jobs per round and the part of each round's trigger time no job
    covers (driver-side work), from the Spark event log."""
    from perfbench.probe import batch_windows, covered_ms, median, read_job_intervals

    jobs = read_job_intervals(event_dir)
    per_jobs, gaps = [], []
    for r in run.rounds:
        per_jobs.append(covered_ms(r.window_ms, jobs)[1])
        if r.progress:
            windows = batch_windows([p for ps in r.progress.values() for p in ps])
        else:  # a registry query: its whole execution window
            windows = [r.window_ms]
        gaps.append(sum((b - a) - covered_ms((a, b), jobs)[0] for a, b in windows))
    return {"engine.jobs_per_batch": median(per_jobs), "engine.driver_gap_ms": median(gaps)}


def traced(cls, args, work: str) -> tuple[Run, dict[str, float]]:
    """The traced run. The workload runs with the event log on and probes
    between rounds. Then the same workload continues on an untraced
    session, for ``trace.overhead_ratio``, and traffic_log continues on
    a ``local[1]`` session as the single-thread baseline. Checks run
    last, over every round."""
    from perfbench import probe

    layers: dict[str, float] = {}
    event_dir = os.path.join(work, "events")
    t0 = time.perf_counter()
    spark = start_spark(work, f"local[{nproc()}]", event_dir)
    layers["session.get_spark_s"] = time.perf_counter() - t0
    run = Run(cls, spark, os.path.join(work, "run"), args.seed)
    run.checks = []
    st1_only = hasattr(run.wl, "st1_only")
    t0 = time.perf_counter()
    if not run.warm_up():
        return run, layers
    if st1_only:
        run.wl.st1_only()  # warm and catch up the ST1-only query too
    layers["session.warmup_s"] = time.perf_counter() - t0

    out_dir = getattr(run.wl, "out", None)
    seen = probe.data_files(out_dir) if out_dir else {}
    written = {"files": 0, "bytes": 0}
    st1_only_ms: list[float] = []

    def after_round(_):
        nonlocal seen
        if out_dir:
            now = probe.data_files(out_dir)
            new = set(now) - set(seen)
            written["files"] += len(new)
            written["bytes"] += sum(now[k] for k in new)
            seen = now
        if st1_only:
            st1_only_ms.append(sum(p["durationMs"].get("triggerExecution", 0) for p in run.wl.st1_only()))

    run.measure(args.seconds, after_round=after_round)
    if run.rounds:
        layers.update(progress_layers(run))
        if out_dir:
            layers["table_format.files_written"] = written["files"]
            layers["table_format.bytes_written"] = written["bytes"]
            layers["table_format.bytes_per_input_row"] = written["bytes"] / layers["sources.rows_in"]
            layers["table_format.files_live"] = len(seen)
        if st1_only_ms:
            layers["state.st1_only_batch_ms"] = probe.median(st1_only_ms)
    traced_rounds = list(run.rounds)
    spark.stop()
    if not traced_rounds:
        return run, layers
    layers.update(event_log_layers(run, event_dir))

    def continue_on(master: str, steps: int) -> list:
        """Rebind the workload to a fresh session and run more rounds;
        the first pays the session change (workers, state reload)."""
        run.wl.rebind(start_spark(work, master))
        before = len(run.rounds)
        run.measure(float("inf"), max_rounds=before + steps)
        return run.rounds[before:]

    replay = list(getattr(run.wl, "executed", []))[:4]
    if replay:  # registry queries: replay the traced ones, after one to warm up
        run.wl.order = list(reversed(replay[:1] + replay))
    plain = continue_on(f"local[{nproc()}]", len(replay) + 1 if replay else 2)
    if len(plain) > 1:
        traced_walls = [r.wall_s for r in (traced_rounds[: len(replay)] if replay else traced_rounds)]
        layers["trace.overhead_ratio"] = probe.median(traced_walls) / probe.median([r.wall_s for r in plain[1:]])
    if st1_only and len(plain) > 1:
        run.wl.spark.stop()
        single = continue_on("local[1]", 1)
        if single:
            layers["baseline.local1_batch_s"] = single[0].batch_s
            layers["baseline.local1_query_s"] = single[0].wall_s
            layers["baseline.local1_slowdown"] = single[0].wall_s / plain[-1].wall_s
    run.checks = run.check()
    if all(ok for _, ok, _ in run.checks):
        layers.update(run.wl.layer_counts())
    run.wl.spark.stop()
    return run, layers


def _stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it: it exits when
    its stdin closes, and its Python worker daemon follows it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _env(work)
    try:
        return _run(args, work)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


def _run(args, work: str) -> int:
    from flink_realtime_data_warehouse_spark.streaming.table_format import get_table_format_name
    import pyspark

    from perfbench import probe
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} trace {args.trace}")

    with probe.RssSampler() as rss:
        if args.trace:
            run, layers = traced(cls, args, work)
            checks = getattr(run, "checks", [])
        else:
            spark = start_spark(work, f"local[{nproc()}]")
            run = Run(cls, spark, os.path.join(work, "run"), args.seed)
            if run.warm_up():
                # CPU seconds of the tree since process start, and wall seconds
                setup = (sum(probe.tree_cpu().values()), time.perf_counter() - T_PROCESS)
                run.measure(args.seconds)
            checks = run.check() if run.rounds else []
            spark.stop()
    host = {
        "nproc": nproc(),
        "master": f"local[{nproc()}]",
        "driver_memory": DRIVER_MEMORY,
        "table_format": get_table_format_name(),
        "pyspark": pyspark.__version__,
        "host.calib_cpu_s": probe.calib_cpu_s(),
    }
    print("host " + json.dumps(host))
    for i, r in enumerate(run.rounds):
        print(f"round {i} records {r.records} batch_s {r.batch_s:.3f} wall_s {r.wall_s:.3f} cpu_s {r.cpu_s:.3f}")
    for name, ok, detail in checks:
        print(f"check {name} {'PASS' if ok else 'FAIL'} ({detail})")
    for err in run.errors:
        print("error " + err.replace("\n", "\n  "), file=sys.stderr)

    correct = bool(run.rounds) and bool(checks) and run.failed == 0
    if args.trace:
        for name in sorted(layers):
            print(f"layer {name} {layers[name]}")
        metrics = {k: {"value": layers.get(k, 0), "unit": u} for k, u in RESULT_PER_LAYER.items()}
    else:
        metrics = {}
        if run.rounds:
            e2e = end_to_end(run, setup, rss.peak_mb)
            for name, unit in END_TO_END.items():
                print(f"metric {name} {e2e[name]} {unit}")
            print(f"tail batch p{e2e['batch_tail_pct']:g} query p{e2e['query_tail_pct']:g} of n={e2e['n']}")
            metrics = {k: {"value": e2e[k], "unit": END_TO_END[k]} for k in RESULT_END_TO_END}
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1),
                      "failed": run.failed if run.attempted else 1, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
