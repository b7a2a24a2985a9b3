"""The two workloads and the run that measures them.

A run has three phases, each timed on its own:

1. set-up (``setup_s``): engine import, ``get_spark`` plus a first job,
   input generation, seeding the state through ``run_cdc_pipeline`` (which
   warms the batch path), and the untimed warm-ups of the read paths and
   of the query sample, each right before its timed phase;
2. ingest: ``run_cdc_pipeline`` drains the backlog of change files, one
   file per trigger, into the seeded state;
3. serve: a closed loop with one client runs rounds of reads against the
   state, then passes over the query sample.

Every answer is then checked: the state against the generator's model, the
DLQ against the malformed lines injected, each read against the model, and
each query against its DuckDB twin.

Both workloads run every phase, so every end-to-end metric is measured on
both; what differs is the shape of the input (see ``WORKLOADS``).
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass

import numpy as np

from gen import EnvelopeGen, booking_id, state_hash, write_lines, write_query_tables
from stats import p50, tail

DESIGN_SECONDS = 20  # the work below is sized to measure about this long
QUERY_SF = 0.01
# Four bench.HEADLINE queries drawn with random.Random(0) from those that
# read only the generated tables, leaving out shared-memo consumers (their
# memo is warmed outside bench.py's timer) and the format round-trip rows
# (they time file I/O). Pinned by name, so the sample changes neither with
# the data seed nor when HEADLINE changes.
QUERY_SAMPLE = ("cdc_bucket_skew_report", "cdc_op_mix_weekly", "graph_distance_profile",
                "q20_bolt_suppliers")
WARM_ROUNDS = 1  # untimed read rounds before the timed ones
SEED_FILES = 3  # the seed is read one file per trigger: the first batch is cold


@dataclass(frozen=True)
class Workload:
    seed_keys: int
    file_envelopes: int
    files: int
    mix: dict
    zipf: float
    dlq: bool
    read_rounds: int
    query_passes: int


WORKLOADS = {
    # Many small files into a larger uniform-key state, DLQ on: each file
    # touches every bucket, so per-batch fixed cost and whole-bucket
    # rewrites dominate.
    "ingest_trickle": Workload(
        seed_keys=30_000,
        file_envelopes=2_000,
        files=8,
        mix=dict(p_update=0.80, p_delete=0.10, p_insert=0.09, p_malformed=0.01),
        zipf=0.0,
        dlq=True,
        read_rounds=3,
        query_passes=2,
    ),
    # A few large Zipf-keyed files with replays and late LSNs, no DLQ, then
    # the larger serve phase: per-event decode and arg-max work weigh more
    # per batch, and the read side of the state and the queries is timed
    # most here.
    "backfill_serve": Workload(
        seed_keys=20_000,
        file_envelopes=40_000,
        files=4,
        mix=dict(p_update=0.80, p_delete=0.10, p_insert=0.09, p_malformed=0.0,
                 p_replay=0.05, p_late=0.05),
        zipf=1.2,
        dlq=False,
        read_rounds=4,
        query_passes=3,
    ),
}


def _scaled(n: int, seconds: int, least: int) -> int:
    return max(least, round(n * seconds / DESIGN_SECONDS))


class Run:
    """One benchmark run of one workload in one fresh Spark session."""

    def __init__(self, name: str, seed: int, seconds: int, trace: bool, tmp: str, cpus: int):
        self.name, self.w, self.seed, self.trace = name, WORKLOADS[name], seed, trace
        self.files = _scaled(self.w.files, seconds, 2)
        self.read_rounds = _scaled(self.w.read_rounds, seconds, 1)
        self.query_passes = _scaled(self.w.query_passes, seconds, 1)
        self.tmp, self.cpus = tmp, cpus
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.timings: dict[str, list[float]] = {}
        self.info: dict = {"workload": name, "seed": seed, "cpus": cpus}

    # --- helpers -----------------------------------------------------------
    def _path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def _op(self, ok: bool, what: str, n: int = 1) -> None:
        self.attempted += n
        if not ok:
            self.failed += n
            self.problems.append(what)

    def _time(self, kind: str, seconds: float) -> None:
        self.timings.setdefault(kind, []).append(seconds)

    # --- set-up ------------------------------------------------------------
    @contextlib.contextmanager
    def _setup_part(self, name: str):
        """Time one untimed stretch of the run; ``setup_s`` is their sum."""
        t0 = time.perf_counter()
        yield
        self.setup_parts[name] = time.perf_counter() - t0

    @property
    def setup_s(self) -> float:
        return sum(self.setup_parts.values())

    def setup(self) -> None:
        self.setup_parts = self.info["setup_parts_s"] = {}
        with self._setup_part("session"):
            from cdc_postgresql_clickhouse_spark import get_spark

            cpus = self.cpus
            self.spark = get_spark(
                app_name="perfbench",
                master=f"local[{cpus}]",
                shuffle_partitions=cpus,
                extra_confs={
                    "spark.driver.memory": "3g",
                    "spark.local.dir": self._path("spark-local"),
                    "spark.sql.warehouse.dir": self._path("warehouse"),
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.range(1).count()

        from tracing import ProgressLog

        self.progress = ProgressLog()
        self.spark.streams.addListener(self.progress)
        if self.trace:
            self._install_trace()
        with self._setup_part("generate"):
            self._generate()
        with self._setup_part("seed_state"):
            from cdc_postgresql_clickhouse_spark.streaming.pipeline import run_cdc_pipeline

            self.run_cdc_pipeline = run_cdc_pipeline
            # seeding is also the ingest warm-up: one snapshot file per
            # trigger, through the same sinks as the timed drain
            self._drain("seed")

    def _generate(self) -> None:
        w = self.w
        g = self.gen = EnvelopeGen(self.seed, zipf=w.zipf)
        for i in range(SEED_FILES):
            lines = g.snapshot(w.seed_keys // SEED_FILES)
            write_lines(self._path("in", "seed", f"part-{i:04d}.json"), lines)
        self.ingest_envelopes = 0
        malformed_before = g.malformed
        for i in range(self.files):
            lines = g.changes(w.file_envelopes, **w.mix)
            self.ingest_envelopes += len(lines)
            write_lines(self._path("in", "chg", f"part-{i:04d}.json"), lines)
        self.ingest_malformed = g.malformed - malformed_before
        self.state = self._path("state")
        self.dlq = self._path("dlq") if w.dlq else None
        self.qdir = self._path("tables")
        write_query_tables(self.qdir, self.seed, QUERY_SF)

    def _drain(self, which: str) -> float:
        t0 = time.perf_counter()
        self.run_cdc_pipeline(
            self.spark,
            self._path("in", which),
            self.state,
            self._path("ck", which),
            dlq_path=self.dlq,
            max_files_per_trigger=1,
        )
        return time.perf_counter() - t0

    def _warm_reads(self) -> None:
        for _ in range(WARM_ROUNDS):
            self._read_point(0, timed=False)
            self._read_agg(timed=False)
            self._read_scan(timed=False)

    def _warm_queries(self) -> None:
        """One untimed pass of the timed shape (build, count)."""
        from cdc_postgresql_clickhouse_spark.queries import all_queries

        self.registry = all_queries()
        for name in QUERY_SAMPLE:
            self._fresh_query_state()
            self.registry[name](self.spark, self.qdir).count()

    def _check_queries(self) -> None:
        """Each sampled query against its DuckDB twin, after the timed
        passes; every timed run of a query must also have returned the
        oracle's row count."""
        from oracle_harness import compare, duckdb_con

        from cdc_postgresql_clickhouse_spark.queries import all_oracles

        oracles = all_oracles()
        con = duckdb_con(self.qdir)
        for name in QUERY_SAMPLE:
            sql = oracles[name]
            self._fresh_query_state()
            df = self.registry[name](self.spark, self.qdir)
            issues = [i for i in compare(df, con, sql, name) if "[WARN]" not in i]
            self.problems.extend(issues[:3])
            want = con.execute(f"SELECT count(*) FROM ({sql}) t").fetchone()[0]
            for r in self.query_runs:
                if r["name"] == name:
                    self._op(not issues and r["rows"] == want,
                             f"query {name}: {r['rows']} rows, oracle {want}")
        con.close()

    def _fresh_query_state(self) -> None:
        """What bench.py does before each query: no memo or cached relation
        survives from an earlier query."""
        import bench

        bench._reset_all_memos()
        self.spark.catalog.clearCache()

    # --- reads -------------------------------------------------------------
    def _live(self):
        from cdc_postgresql_clickhouse_spark.operators.state import current_state, read_state

        return current_state(read_state(self.spark, self.state))

    def _read_point(self, i: int, timed: bool = True) -> None:
        from pyspark.sql import functions as F

        k = int(np.random.default_rng([self.seed, i]).integers(0, self.gen.n_keys))
        t0 = time.perf_counter()
        rows = (
            self._live()
            .filter(F.col("booking_id") == booking_id(k))
            .select(
                "booking_id", "status", "is_canceled",
                F.unix_micros("created_at"), F.unix_micros("modified_at"), "version",
            )
            .collect()
        )
        el = time.perf_counter() - t0
        w = self.gen.winner[k]
        want = [] if w[2] else [(booking_id(k), w[6], w[4], w[3], w[5], w[0])]
        if timed:
            self._time("read_point", el)
            self._op([tuple(r) for r in rows] == want, f"point read of {booking_id(k)}")

    def _read_agg(self, timed: bool = True) -> None:
        t0 = time.perf_counter()
        got = {r[0]: r[1] for r in self._live().groupBy("status").count().collect()}
        el = time.perf_counter() - t0
        if timed:
            self._time("read_agg", el)
            self._op(got == self.gen.expected_status_counts(), "status counts")

    def _read_scan(self, timed: bool = True) -> None:
        t0 = time.perf_counter()
        n = self._live().count()
        el = time.perf_counter() - t0
        if timed:
            self._time("read_scan", el)
            self._op(n == len(self.gen.expected_rows()), "state scan count")

    # --- timed phases --------------------------------------------------------
    def ingest(self) -> None:
        self.drain_s = self._drain("chg")
        self.batches = self.progress.wait_batches(self._path("in", "chg"), self.files)
        for p in self.batches:
            self._time("batch", p.durationMs["triggerExecution"] / 1000.0)

    def serve(self) -> None:
        """Each kind of work is warmed right before it is timed: the JIT
        profile left by the drain slows the first reads and queries after
        it, even when they were warmed earlier in the run."""
        with self._setup_part("warm_reads"):
            self._warm_reads()
        for r in range(self.read_rounds):
            self._read_point(2 * r + 1)
            self._read_agg()
            self._read_scan()
            self._read_point(2 * r + 2)
        with self._setup_part("warm_queries"):
            self._warm_queries()
        self.query_runs: list[dict] = []
        for p in range(self.query_passes):
            t_pass = 0.0
            for name in QUERY_SAMPLE:
                self._fresh_query_state()
                tag = f"pb:q:{p}:{name}"
                py4j0 = self.py4j.n if self.trace else 0
                self._job_group(f"{tag}:build")
                t0 = time.perf_counter()
                df = self.registry[name](self.spark, self.qdir)
                t1 = time.perf_counter()
                self._job_group(f"{tag}:exec")
                n = df.count()
                t2 = time.perf_counter()
                self._job_group(None)
                self.query_runs.append({
                    "name": name, "tag": tag, "build_s": t1 - t0, "exec_s": t2 - t1, "rows": n,
                    "py4j": (self.py4j.n - py4j0) if self.trace else None,
                })
                self._time("query", t2 - t0)
                t_pass += t2 - t0
            self._time("query_pass", t_pass)

    def _job_group(self, group: str | None) -> None:
        if not self.trace:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    # --- checks ------------------------------------------------------------
    def check(self) -> None:
        from pyspark.sql import functions as F

        from cdc_postgresql_clickhouse_spark.operators.state import state_table_stats

        pdf = (
            self._live()
            .select(
                "booking_id", "status", "is_canceled",
                F.unix_micros("created_at").alias("c"), F.unix_micros("modified_at").alias("m"),
                "version",
            )
            .toPandas()
        )
        got = state_hash(
            (b, s, bool(x), int(c), int(m), int(v)) for b, s, x, c, m, v in pdf.itertuples(index=False)
        )
        state_ok = got == self.gen.expected_hash()
        dead = 0
        if self.dlq:
            # the DLQ's own layout; an explicit schema skips an inference scan
            dead = self.spark.read.schema("raw_value string, dlq_reason string").json(self.dlq).count()
        injected = self.gen.malformed
        dlq_ok = dead == injected if self.dlq else injected == 0
        n_batches = len(self.batches)
        self._op(state_ok and dlq_ok and n_batches == self.files, "ingest result", n=n_batches)
        if not state_ok:
            self.problems.append(f"state hash {got[:12]} != expected {self.gen.expected_hash()[:12]}")
        if not dlq_ok:
            self.problems.append(f"DLQ rows {dead} != malformed lines injected {injected}")
        self.dead_letters, self.injected = dead, injected
        self.stats = state_table_stats(self.spark, self.state)
        self._check_queries()

    # --- results -----------------------------------------------------------
    def end_to_end(self) -> dict:
        live = len(self.gen.expected_rows())
        t = self.timings
        m = {
            "setup_s": (self.setup_s, "s"),
            "ingest_events_per_s": (self.ingest_envelopes / self.drain_s, "1/s"),
            "batch_p50_s": (p50(t["batch"]), "s"),
            "read_point_p50_s": (p50(t["read_point"]), "s"),
            "read_agg_p50_s": (p50(t["read_agg"]), "s"),
            "read_scan_p50_s": (p50(t["read_scan"]), "s"),
            "query_p50_s": (p50(t["query"]), "s"),
            "query_pass_s": (p50(t["query_pass"]), "s"),
            "state_bytes_per_live_row": (self.stats["total_bytes"] / live, "B"),
        }
        reads = t["read_point"] + t["read_agg"] + t["read_scan"]
        self.info["tails"] = {
            "batch": tail(t["batch"]),
            "read": tail(reads),
            "query": tail(t["query"]),
        }
        self.info["samples"] = {k: len(v) for k, v in t.items()}
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    # --- tracing -----------------------------------------------------------
    def _install_trace(self) -> None:
        from tracing import Py4JCounter, SparkRest, Tracer

        from cdc_postgresql_clickhouse_spark.operators import state
        from cdc_postgresql_clickhouse_spark.streaming import pipeline

        tr = self.tracer = Tracer()

        def touched(rec, out):
            rec["touched"] = len(out)

        # run_cdc_pipeline calls these through the names it imported
        tr.wrap(pipeline, "upsert_changes_bucketed", "state.upsert", result=touched)
        tr.wrap(pipeline, "changes_to_state_updates", "transform.build")
        # upsert_changes_bucketed calls these through the state module
        tr.wrap(state, "read_state", "state.read_state")
        tr.wrap(state, "apply_changes", "state.apply_changes")
        tr.wrap(state, "write_state", "state.write_state")
        self.py4j = Py4JCounter(self.spark)
        self.rest = SparkRest(self.spark)

    def close_trace(self) -> None:
        if self.trace:
            self.tracer.unwrap_all()
            self.py4j.close()

    def per_layer(self) -> dict:
        from tracing import parse_ts

        tr = self.tracer
        out: dict[str, tuple[float, str]] = {"session.start_s": (self.setup_parts["session"], "s")}
        # streaming.pipeline: progress phases of the timed query's batches
        for phase in ("addBatch", "queryPlanning", "latestOffset", "walCommit", "commitOffsets"):
            out[f"pipeline.{phase}_p50_ms"] = (
                p50([p.durationMs.get(phase, 0) for p in self.batches]), "ms")
        rows_in = sum(p.numInputRows for p in self.batches)
        out["pipeline.input_rows_per_event"] = (rows_in / self.ingest_envelopes, "ratio")

        jobs = self.rest.jobs()
        stages = self.rest.stages()
        batch_jobs = []
        for p in self.batches:
            start = parse_ts(p.timestamp)
            end = start + p.durationMs["triggerExecution"] / 1000.0
            batch_jobs.append([j for j in jobs if start <= parse_ts(j["submissionTime"]) <= end])
        nb = len(self.batches)
        busy = 0.0
        agg = dict(stages=0, tasks=0, shuffle=0, output=0, spill=0, records=0)
        for p, js in zip(self.batches, batch_jobs):
            run_ms = 0
            for j in js:
                agg["stages"] += j["numCompletedStages"]
                agg["tasks"] += j["numCompletedTasks"]
                for sid in j["stageIds"]:
                    s = stages.get(sid)
                    if s is None or s["status"] != "COMPLETE":
                        continue
                    run_ms += s["executorRunTime"]
                    agg["shuffle"] += s["shuffleWriteBytes"]
                    agg["output"] += s["outputBytes"]
                    agg["records"] += s["outputRecords"]
                    agg["spill"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            busy += run_ms / (p.durationMs["triggerExecution"] * self.cpus)
        out["pipeline.jobs_per_batch"] = (sum(len(js) for js in batch_jobs) / nb, "count")
        out["pipeline.stages_per_batch"] = (agg["stages"] / nb, "count")
        out["pipeline.tasks_per_batch"] = (agg["tasks"] / nb, "count")
        out["pipeline.executor_busy_share"] = (busy / nb, "share")

        # operators.state: spans of the timed drain only (the last nb upserts)
        ups = tr.named("state.upsert")[-nb:]
        up_ids = {u["id"] for u in ups}

        def child_ms(name):
            return p50([(s["t1"] - s["t0"]) * 1000 for s in tr.named(name) if s["parent"] in up_ids])

        out["state.upsert_p50_ms"] = (p50([(u["t1"] - u["t0"]) * 1000 for u in ups]), "ms")
        out["state.upsert_self_p50_ms"] = (p50([tr.self_ms(u) for u in ups]), "ms")
        out["state.read_state_p50_ms"] = (child_ms("state.read_state"), "ms")
        out["state.write_state_p50_ms"] = (child_ms("state.write_state"), "ms")
        out["state.apply_changes_build_p50_ms"] = (child_ms("state.apply_changes"), "ms")
        out["state.touched_buckets_per_batch"] = (sum(u["touched"] for u in ups) / nb, "count")
        rewritten = agg["records"] - (self.ingest_malformed if self.dlq else 0)
        out["state.rows_rewritten_per_event"] = (rewritten / self.ingest_envelopes, "ratio")
        out["state.shuffle_bytes_per_batch"] = (agg["shuffle"] / nb, "B")
        out["state.output_bytes_per_batch"] = (agg["output"] / nb, "B")
        out["state.spill_bytes_per_batch"] = (agg["spill"] / nb, "B")
        out["state.files_per_bucket_max"] = (self.stats["max_files_per_bucket"], "count")
        out["transform.build_ms"] = (
            p50([(s["t1"] - s["t0"]) * 1000 for s in tr.named("transform.build")[-nb:]]), "ms")
        out["envelope.dead_letters"] = (self.dead_letters, "count")

        # queries: timers around build and count, jobs by job group
        runs = self.query_runs
        build = [r["build_s"] * 1000 for r in runs]
        exe = [r["exec_s"] * 1000 for r in runs]
        out["queries.build_p50_ms"] = (p50(build), "ms")
        out["queries.exec_p50_ms"] = (p50(exe), "ms")
        out["queries.build_share"] = (sum(build) / (sum(build) + sum(exe)), "share")
        by_group: dict[str, list] = {}
        for j in jobs:
            by_group.setdefault(j.get("jobGroup"), []).append(j)
        q = dict(eager=0, jobs=0, stages=0, tasks=0, shuffle=0)
        for r in runs:
            eager = by_group.get(f"{r['tag']}:build", [])
            js = eager + by_group.get(f"{r['tag']}:exec", [])
            q["eager"] += len(eager)
            q["jobs"] += len(js)
            for j in js:
                q["stages"] += j["numCompletedStages"]
                q["tasks"] += j["numCompletedTasks"]
                for sid in j["stageIds"]:
                    s = stages.get(sid)
                    if s is not None and s["status"] == "COMPLETE":
                        q["shuffle"] += s["shuffleWriteBytes"]
        nq = len(runs)
        out["queries.eager_jobs_per_query"] = (q["eager"] / nq, "count")
        out["queries.jobs_per_query"] = (q["jobs"] / nq, "count")
        out["queries.stages_per_query"] = (q["stages"] / nq, "count")
        out["queries.tasks_per_query"] = (q["tasks"] / nq, "count")
        out["queries.shuffle_bytes_per_query"] = (q["shuffle"] / nq, "B")
        out["queries.py4j_calls_per_query"] = (sum(r["py4j"] for r in runs) / nq, "count")
        self.info["dead_letters_injected"] = self.injected
        return {k: {"value": float(v), "unit": u} for k, (v, u) in out.items()}


def result(run: Run) -> dict:
    """The run's last stdout line. A traced run keeps its end-to-end metrics
    in the artifact, to set against an untraced run of the same seed."""
    e2e = run.end_to_end()
    if run.trace:
        run.info["end_to_end"] = e2e
    return {
        "correct": run.failed == 0 and not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": run.per_layer() if run.trace else e2e,
    }
