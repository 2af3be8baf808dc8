"""The four benchmark workloads, driven through the program's public
entry points (``streaming.jobs``, ``streaming.router``, the
``plans``/``operators`` registry).

Every loop is closed with one client. A streaming workload lands one
drop file, runs each of its topologies with ``availableNow`` over it
(one topology after the other), and lands the next drop only after
every query has committed. ``warehouse_queries`` runs one registry
query at a time. The clock runs only while the program works: drop
generation, tracing probes and correctness checks sit outside it.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from perfbench import gen, probe


@dataclass
class Round:
    """One closed-loop step: a drop through every topology, or one query."""

    records: int
    wall_s: float
    batch_s: float
    window_ms: tuple[float, float]
    cpu: dict[str, float]  #: CPU seconds of the process tree, by process
    progress: dict[str, list[dict]] = field(default_factory=dict)

    @property
    def cpu_s(self) -> float:
        return sum(self.cpu.values())


def _cpu_since(before: dict[str, float]) -> dict[str, float]:
    return {k: v - before[k] for k, v in probe.tree_cpu().items()}


class StreamingWorkload:
    """A file-drop source feeding one or more streaming topologies."""

    name = ""
    warmup_size = 0
    drop_size = 0
    min_rounds = 2  #: rounds a run measures even past ``--seconds``
    state_queries: dict[str, str] = {}  #: stateful operator -> label of its query

    def __init__(self, spark: SparkSession, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.src = os.path.join(work, "src")
        self.out = os.path.join(work, "out")
        self.ckpt = os.path.join(work, "ckpt")
        self.n_drops = 0

    # -- supplied by each workload -----------------------------------------

    def write_drop(self, index: int, size: int) -> int:
        """Land drop ``index``; return its record count."""
        raise NotImplementedError

    def topologies(self) -> list:
        """Callables, each starting one topology over ``self.src`` and
        returning its ``[(label, StreamingQuery)]``."""
        raise NotImplementedError

    def check(self) -> list[tuple[str, bool, str]]:
        """(name, passed, detail) of each correctness check."""
        raise NotImplementedError

    def layer_counts(self) -> dict[str, float]:
        """Per-layer counts read back after the run (traced mode)."""
        return {}

    def rebind(self, spark: SparkSession) -> None:
        """Continue on another session (the traced run's extra passes)."""
        self.spark = spark

    # -- the closed loop ---------------------------------------------------

    def step(self, size: int) -> Round:
        records = self.write_drop(self.n_drops, size)
        self.n_drops += 1
        t_epoch = time.time() * 1000
        cpu0 = probe.tree_cpu()
        t0 = time.perf_counter()
        runs = []
        for start in self.topologies():
            started = start()
            for _, q in started:
                q.awaitTermination()
            runs.extend(started)
        wall = time.perf_counter() - t0
        cpu = _cpu_since(cpu0)
        progress = {label: probe.progress_of(q) for label, q in runs}
        for label, recs in progress.items():
            # a foreachBatch body that scans its batch twice counts its
            # rows twice, so this is a lower bound: the drop was consumed
            consumed = sum(p["numInputRows"] for p in recs)
            if consumed < records:
                raise RuntimeError(
                    f"{self.name}: query {label} consumed {consumed} of {records} records"
                )
        batch_ms = sum(p["durationMs"].get("triggerExecution", 0) for recs in progress.values() for p in recs)
        return Round(records, wall, batch_ms / 1000, (t_epoch, t_epoch + wall * 1000), cpu, progress)

    def warm_up(self) -> None:
        self.step(self.warmup_size)

    def timed_step(self) -> Round:
        return self.step(self.drop_size)


# ---------------------------------------------------------------------------
# traffic_log: behavior log → ODS parse → ST1 → five-way split; ST2 UV; ST4
# ---------------------------------------------------------------------------


class TrafficLog(StreamingWorkload):
    name = "traffic_log"
    warmup_size = 40
    drop_size = 1_000
    state_queries = {"st1": "split", "st2": "uv", "st4": "jump"}

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        self.facts: list[dict] = []

    def write_drop(self, index, size):
        lines, facts = gen.behavior_drop(self.seed, index, size)
        gen.write_drop(self.src, f"drop-{index:05d}.jsonl", lines)
        self.facts.append(facts)
        return len(lines)

    def topologies(self):
        from flink_realtime_data_warehouse_spark.sources.streams import read_jsonl_stream
        from flink_realtime_data_warehouse_spark.streaming.jobs import (
            base_log_job,
            unique_visitor_job,
            user_jump_job,
        )

        spark, j = self.spark, os.path.join

        def split():
            qs = base_log_job(spark, read_jsonl_stream(spark, self.src), j(self.out, "dwd"), j(self.ckpt, "dwd"))
            return list(zip(["split", "dirty"], qs))

        def uv():
            return [("uv", unique_visitor_job(
                spark, read_jsonl_stream(spark, self.src), j(self.out, "uv"), j(self.ckpt, "uv")))]

        def jump():
            return [("jump", user_jump_job(
                spark, read_jsonl_stream(spark, self.src), j(self.out, "jump"), j(self.ckpt, "jump")))]

        return [split, uv, jump]

    def st1_only(self):
        """ST1 alone: the same parse and ``correct_is_new`` input the
        split query builds, written to a noop sink. Traced mode only."""
        from flink_realtime_data_warehouse_spark.operators.parse import parse_with_dirty
        from flink_realtime_data_warehouse_spark.schemas import BEHAVIOR_LOG_SCHEMA
        from flink_realtime_data_warehouse_spark.sources.streams import read_jsonl_stream
        from flink_realtime_data_warehouse_spark.streaming.state import correct_is_new

        clean, _ = parse_with_dirty(read_jsonl_stream(self.spark, self.src), BEHAVIOR_LOG_SCHEMA)
        flat = clean.select(
            F.col("common.mid").alias("mid"),
            F.col("common.is_new").alias("is_new"),
            F.col("page.page_id").alias("page_id"),
            F.col("page.last_page_id").alias("last_page_id"),
            F.col("ts"),
            F.to_json(F.struct("common", "page", "start", "err", "display", "actions")).alias("payload_json"),
        )
        q = (
            correct_is_new(flat).writeStream.format("noop")
            .option("checkpointLocation", os.path.join(self.ckpt, "st1_only"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return probe.progress_of(q)

    def _counts(self) -> dict[str, int]:
        from flink_realtime_data_warehouse_spark.streaming.table_format import FORMAT

        dwd = os.path.join(self.out, "dwd")
        out = {}
        for name in ("page", "start", "display", "action", "err", "corrected"):
            path = os.path.join(dwd, f"dwd_traffic_{name}_log")
            out[name] = FORMAT.read(self.spark, path).count() if FORMAT.exists(path) else 0
        out["dirty"] = self.spark.read.parquet(os.path.join(dwd, "dirty_log")).count()
        out["uv"] = self.spark.read.parquet(os.path.join(self.out, "uv")).count()
        return out

    def check(self):
        got = self._counts()
        want = {k: sum(f[k] for f in self.facts) for k in ("page", "start", "display", "action", "err", "dirty")}
        want["corrected"] = sum(f["clean"] for f in self.facts)
        want["uv"] = gen.expected_uv_rows([f["entries"] for f in self.facts])
        self._read_back = got
        return [
            (f"traffic_log.{k}_rows", got[k] == want[k], f"got {got[k]}, want {want[k]}")
            for k in want
        ]

    def layer_counts(self):
        got = self._read_back
        out = {f"split.rows_out.{k}": got[k] for k in ("page", "start", "display", "action", "err")}
        out["parse.dirty_rows"] = got["dirty"]
        return out


# ---------------------------------------------------------------------------
# dim_changelog: topic_db changelog → config join → per-table MERGE
# ---------------------------------------------------------------------------


class DimChangelog(StreamingWorkload):
    name = "dim_changelog"
    warmup_size = 40
    drop_size = 400

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        from flink_realtime_data_warehouse_spark.schemas import TABLE_PROCESS_SCHEMA
        from flink_realtime_data_warehouse_spark.streaming.sinks import DimStore

        self.events: list[tuple] = []
        self.config = os.path.join(work, "config")
        spark.createDataFrame(gen.changelog_config_rows(), TABLE_PROCESS_SCHEMA).coalesce(1).write.parquet(
            self.config
        )
        self.store = DimStore(spark, os.path.join(self.out, "dim"))

    def rebind(self, spark):
        super().rebind(spark)
        self.store.spark = spark

    def write_drop(self, index, size):
        lines, events = gen.changelog_drop(self.seed, index, size)
        gen.write_drop(self.src, f"drop-{index:05d}.jsonl", lines)
        self.events.extend(events)
        return len(lines)

    def topologies(self):
        from flink_realtime_data_warehouse_spark.sources.streams import read_jsonl_stream
        from flink_realtime_data_warehouse_spark.streaming.jobs import parse_changelog_stream
        from flink_realtime_data_warehouse_spark.streaming.router import start_dim_app

        def dim():
            stream = parse_changelog_stream(read_jsonl_stream(self.spark, self.src))
            return [("dim", start_dim_app(self.spark, stream, self.config, self.store, os.path.join(self.ckpt, "dim")))]

        return [dim]

    def check(self):
        want = gen.expected_dim_tables(self.events)
        results = []
        for sink, cols, _ in gen.DIM_CONFIG.values():
            rows = self.store.read(sink).select(*cols).collect() if self.store.exists(sink) else []
            got = {r["id"]: tuple(r) for r in rows}
            exp = want[sink]
            bad = len(set(got.items()) ^ set(exp.items()))
            results.append((f"dim_changelog.{sink}", bad == 0 and len(got) == len(rows),
                            f"{len(got)} rows, {bad} differ from last-write-wins"))
        return results

    def layer_counts(self):
        from flink_realtime_data_warehouse_spark.operators.parse import keep_changelog_types
        from flink_realtime_data_warehouse_spark.schemas import DIM_KEPT_TYPES
        from flink_realtime_data_warehouse_spark.streaming.jobs import parse_changelog_stream

        raw = self.spark.read.text(self.src)
        parsed = keep_changelog_types(parse_changelog_stream(raw), DIM_KEPT_TYPES)
        config = self.spark.read.parquet(self.config)
        routed = parsed.join(config, parsed["table"] == config["source_table"]).count()
        return {"router.rows_routed": routed, "router.rows_dropped": raw.count() - routed}


# ---------------------------------------------------------------------------
# doc_ingest: gated, bloom-prefiltered history dedup ingest
# ---------------------------------------------------------------------------


class DocIngest(StreamingWorkload):
    name = "doc_ingest"
    warmup_size = 20
    drop_size = 300

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        self.pool = gen.doc_pool(seed, os.path.join(work, "corpus"))
        self.sent: list[str] = []
        self.drops: list[list[tuple[int, str]]] = []
        self.recrawl_ids: list[int] = []

    def write_drop(self, index, size):
        lines, facts = gen.doc_drop(self.seed, index, size, self.pool, self.sent)
        gen.write_drop(self.src, f"drop-{index:05d}.jsonl", lines)
        self.sent.extend(t for _, t in facts["docs"])
        self.drops.append(facts["docs"])
        self.recrawl_ids.extend(facts["recrawl_ids"])
        return len(lines)

    def topologies(self):
        from flink_realtime_data_warehouse_spark.streaming.jobs import start_history_dedup_ingest

        def ingest():
            stream = self.spark.readStream.schema("doc_id bigint, text string").json(self.src)
            return [("ingest", start_history_dedup_ingest(
                self.spark, stream, os.path.join(self.out, "lake"), os.path.join(self.ckpt, "ingest"),
                near_dup_gate=True, bloom_prefilter=True,
            ))]

        return [ingest]

    def _read(self, store: str, schema: str):
        from flink_realtime_data_warehouse_spark.streaming.table_format import FORMAT

        path = os.path.join(self.out, "lake", store)
        return FORMAT.read(self.spark, path, schema) if FORMAT.exists(path) else None

    def check(self):
        want = gen.expected_doc_statuses(self.drops)
        clean = {r[0] for r in self._read("clean", "doc_id bigint, text string, pbatch string").select("doc_id").collect()}
        dups = {r[0]: r[1] for r in self._read(
            "dups", "doc_id bigint, content_hash string, status string, pbatch string"
        ).select("doc_id", "status").collect()}
        near = self._read("near_dups", "doc_id bigint, doc_hist bigint, pbatch string")
        self._read_back = {"dedup.clean_rows": len(clean), "dedup.dup_rows": len(dups),
                        "dedup.neardup_rows": near.count() if near is not None else 0}
        want_clean = {d for d, s in want.items() if s == "new"}
        want_dups = {d: s for d, s in want.items() if s != "new"}
        missed = [d for d in self.recrawl_ids if dups.get(d) != "dup_history"]
        return [
            ("doc_ingest.clean_plus_dups_is_input", len(clean) + len(dups) == len(want) and not clean & set(dups),
             f"{len(clean)} clean + {len(dups)} dups vs {len(want)} input"),
            ("doc_ingest.recrawls_in_dups", not missed, f"{len(missed)} of {len(self.recrawl_ids)} re-crawls missed"),
            ("doc_ingest.statuses", clean == want_clean and dups == want_dups,
             f"{len(clean ^ want_clean)} clean and {len(set(dups.items()) ^ set(want_dups.items()))} dup verdicts differ"),
        ]

    def layer_counts(self):
        return dict(self._read_back)


# ---------------------------------------------------------------------------
# warehouse_queries: the read side, registry queries one at a time
# ---------------------------------------------------------------------------

#: TPC-H joins and aggregates, windows, ads_* rollups, one dedup, one
#: ANN and one text row
QUERY_MIX = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q18_large_volume",
    "wf_running_revenue",
    "win_tumbling_hourly",
    "ads_traffic_summary_daily",
    "ads_user_retention",
    "dedup_exact",
    "ann_cosine_topk",
    "text_token_count_regex",
]


class WarehouseQueries:
    name = "warehouse_queries"
    n_orders = 15_000  #: table scale: 15,000 orders is the 0.01 scale
    min_rounds = len(QUERY_MIX)  #: every run times the whole mix at least once
    state_queries: dict[str, str] = {}

    def __init__(self, spark: SparkSession, work: str, seed: int):
        from flink_realtime_data_warehouse_spark.plans.loader import load_all

        self.spark = spark
        self.seed = seed
        self.tables = os.path.join(work, "tables")
        gen.write_tables(self.tables, seed, self.n_orders)
        self.queries, self.oracles = load_all()
        self.passes = 0
        self.order: list[str] = []
        self.timings: dict[str, list[tuple[float, float, int]]] = {n: [] for n in QUERY_MIX}
        self.executed: list[str] = []
        self.result_rows: dict[str, int] = {}

    def rebind(self, spark: SparkSession) -> None:
        self.spark = spark

    def _next_name(self) -> str:
        if not self.order:
            self.order = list(QUERY_MIX)
            random.Random(f"perfbench:mix:{self.seed}:{self.passes}").shuffle(self.order)
            self.passes += 1
        return self.order.pop()

    def step(self) -> Round:
        name = self._next_name()
        sc = self.spark.sparkContext
        group = f"perfbench-{name}-{len(self.timings[name])}-{self.passes}"
        sc.setJobGroup(group, name)
        t_epoch = time.time() * 1000
        cpu0 = probe.tree_cpu()
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, self.tables)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        cpu = _cpu_since(cpu0)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        self.timings[name].append((t1 - t0, t2 - t1, jobs))
        self.executed.append(name)
        # the record count (result rows) is filled in by ``check``
        return Round(0, t2 - t0, t2 - t1, (t_epoch, t_epoch + (t2 - t0) * 1000), cpu)

    def warm_up(self) -> None:
        """One untimed pass of the whole mix."""
        for _ in QUERY_MIX:
            self.step()
        self.timings = {n: [] for n in QUERY_MIX}
        self.executed = []

    timed_step = step

    def check(self):
        import oracle_utils  # tests/oracle_utils.py: the driver-faithful canonicalizer

        results = []
        for name in QUERY_MIX:
            try:
                df = self.queries[name](self.spark, self.tables)
                self.result_rows[name] = df.count()
                oracle_utils.compare_query_to_oracle(df, self.oracles[name], self.tables)
                results.append((f"warehouse_queries.{name}", True, "matches its DuckDB oracle"))
            except AssertionError as exc:
                results.append((f"warehouse_queries.{name}", False, str(exc)[:300]))
        return results

    def layer_counts(self):
        out = {}
        build, execs, jobs = [], [], []
        for name, rows in self.timings.items():
            if rows:
                out[f"query.{name}_s"] = probe.median([b + e for b, e, _ in rows])
            build += [b for b, _, _ in rows]
            execs += [e for _, e, _ in rows]
            jobs += [j for _, _, j in rows]
        out["plans.build_s"] = probe.median(build)
        out["plans.exec_s"] = probe.median(execs)
        out["plans.jobs_per_query"] = probe.median(jobs)
        return out


WORKLOADS = {
    w.name: w for w in (TrafficLog, DimChangelog, DocIngest, WarehouseQueries)
}
