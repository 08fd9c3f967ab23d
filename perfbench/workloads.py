"""The three workloads. Each is a closed loop with one client.

``weblog_queries`` / ``corpus_queries``: passes over a fixed query mix in
a seeded order; each execution builds the DataFrame through
``plans.QUERIES[name]`` and writes it to a ``noop`` sink.

``ingest_upsert``: cycles of seeded JSON-lines batches. Per batch one file
lands, ``run_ingest_once`` drains it into the raw and error zones,
``start_snapshot_upsert(mode="mor")`` commits it, and a snapshot read and
a raw-zone read check that it is visible. After the last batch of a cycle
``maintain_table``, ``compact_hour`` over every raw-zone hour and the
``web_log_parquet`` named query run. Every cycle starts from empty zones
and an empty table, so every cycle does the same work.

Each workload returns the end-to-end figures, the per-layer figures of
the spans it recorded, and diagnostics for the run record.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import math
import os
import random
import shutil
import statistics
import time

import datagen
import sparkenv
from tracing import EventLog, Tracer

WEBLOG_QUERIES = [
    "weblog_sessionization",
    "weblog_hourly_partitions",
    "weblog_daily_uniques",
    "funnel_view_click_purchase",
    "trino_url_traffic_rollup",
    "events_heavy_hitter_users",
    "events_hourly_gapfill",
    "events_rolling_active_users",
    "incremental_daily_rollup",
    "weblog_event_partition_rollup",
    "snapshot_stats_minmax_rollup",
    "snapshot_sorted_partition_window",
    "snapshot_zorder_partition_box_probe",
    "snapshot_sharded_manifest_rollup",
    "snapshot_read_at_tag",
    "weblog_partitions_manifest_census",
    "acl_masked_events_rollup",
    "events_session_path_trigrams",
]
CORPUS_QUERIES = [
    "pipeline_curation_funnel",
    "dedup_substring_windows",
    "text_hybrid_dense_rrf_topk",
    "retrieval_mmr_topk_indexed",
    "embedding_pca_whiten_audit",
    "text_bm25_topk",
    "ann_ivf_topk_indexed_raw",
    "dedup_fuzzy_head_pairs",
]
QUERY_MIXES = {"weblog_queries": WEBLOG_QUERIES, "corpus_queries": CORPUS_QUERIES}
WORKLOADS = ("weblog_queries", "corpus_queries", "ingest_upsert")

# Query-table row counts are those of the engine's testdata at sf0.01
# (bench) and sf0.001 (smoke); the ingest batch size is recorded in
# BENCHMARK.json.
SIZES = {
    "bench": {"events": 10_000, "docs": 500, "vecs": 500, "orders": 15_000,
              "batch_events": 4000, "batches": 4,
              "warm_batch_events": 200, "warm_batches": 2},
    "smoke": {"events": 1000, "docs": 500, "vecs": 500, "orders": 1500,
              "batch_events": 500, "batches": 2,
              "warm_batch_events": 200, "warm_batches": 2},
}

PER_LAYER = [
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("plans.build_s", "s"), ("plans.build_jobs", "count"),
    ("exec.run_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.executor_run_s", "s"),
    ("exec.executor_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.busy_ratio", "ratio"),
    ("scan.input_bytes", "bytes"), ("scan.input_records", "count"),
    ("scan.files_read", "count"),
    ("snapshots.read_build_s", "s"), ("snapshots.read_exec_s", "s"),
    ("snapshots.eq_delete_files", "count"),
    ("ingest.drain_s", "s"), ("ingest.jobs_per_batch", "count"),
    ("ingest.valid_ratio", "ratio"),
    ("upsert.drain_s", "s"), ("upsert.jobs_per_batch", "count"),
    ("snapshots.metadata_bytes", "bytes"), ("snapshots.live_data_files", "count"),
    ("snapshots.bytes_per_user_byte", "ratio"),
    ("snapshots.bytes_written_per_user_byte", "ratio"),
    ("maintain.run_s", "s"), ("maintain.jobs", "count"),
    ("maintain.files_rewritten", "count"),
    ("compaction.run_s", "s"), ("compaction.jobs", "count"),
    ("compaction.files_in", "count"), ("compaction.files_out", "count"),
    ("compaction.bytes_out_per_byte_in", "ratio"),
    ("named_queries.run_s", "s"),
    ("trace.overhead_ratio", "ratio"),
]


def _median(xs) -> float:
    """Median; NaN when there is no sample (every attempt failed), so a
    missing figure never reads as a fast one."""
    xs = list(xs)
    return float(statistics.median(xs)) if xs else math.nan


def _load_repo_module(root: str, relpath: str, name: str):
    """Import a repo script by path (tools/driver_sim.py, bench.py)."""
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, relpath))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def sentinel(root: str) -> float:
    """Machine-load sentinel: bench.py's seeded 1200x1200 float64 matmul,
    best of 3. A diagnostic, not a metric."""
    return _load_repo_module(root, "bench.py", "perfbench_bench")._sentinel()


class Run:
    """State shared by one benchmark run: work dir, session, tracer and the
    attempted/failed tally."""

    def __init__(self, root: str, work: str, seed: int, seconds: float,
                 trace: bool, size: str) -> None:
        self.root = root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.size = SIZES[size]
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.tracer: Tracer | None = None
        self.event_log_dir = os.path.join(work, "eventlog") if trace else None

    def start(self, event_log: bool = True):
        """Start (or restart) the pinned session; the tracer follows it."""
        self.spark = sparkenv.start_session(
            self.work, self.event_log_dir if event_log else None)
        if self.tracer is None:
            self.tracer = Tracer(self.spark)
        else:
            self.tracer.rebind(self.spark)
        return self.spark

    def check(self, what: str, fn, *args) -> None:
        """One correctness check: ``fn`` returns None when the output is
        right, else what is wrong. An exception is a failed check too."""
        self.attempted += 1
        try:
            err = fn(*args)
        except Exception as exc:  # noqa: BLE001 - counted and reported
            err = f"{type(exc).__name__}: {str(exc)[:300]}"
        if err is not None:
            self.failures.append(f"{what}: {err}")

    def attempt(self, what: str, fn, *args):
        """One operation; an exception is counted as a failure and the run
        continues (returns None)."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as exc:  # noqa: BLE001 - counted and reported
            self.failures.append(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")
            return None


def _expect(got, want, what: str) -> str | None:
    return None if got == want else f"{what} {got} != expected {want}"


# --------------------------------------------------------------------------
# query workloads


def _oracle_checker(root: str, data_dir: str):
    """Compare a Spark result with its DuckDB oracle the way the repo's
    driver simulation does (tools/driver_sim.py canonical hashing)."""
    import duckdb

    sim = _load_repo_module(root, os.path.join("tools", "driver_sim.py"),
                            "perfbench_driver_sim")
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")

    def check(sql: str, spark_df) -> str | None:
        want = con.execute(sql).df()
        if sorted(spark_df.columns) != sorted(want.columns):
            return f"columns {sorted(spark_df.columns)} != {sorted(want.columns)}"
        got_c, want_c = sim.canon(spark_df), sim.canon(want)
        if got_c != want_c:
            return f"values differ ({len(got_c)} rows vs oracle {len(want_c)})"
        return None

    return check


def run_queries(run: Run, workload: str, t_start: float) -> dict:
    from web_analytics_on_aws_spark import plans
    from web_analytics_on_aws_spark.sources.tables import load_table

    names = QUERY_MIXES[workload]
    size = run.size
    data_dir = os.path.join(run.work, "data")
    # the harness's own work before set-up: load sentinel and inputs; the
    # peak-RSS count starts after it
    t_harness = time.perf_counter()
    sentinel_before = sentinel(run.root)
    datagen.write_tables(data_dir, run.seed, size["events"], size["docs"],
                         size["vecs"], size["orders"])
    harness_s = time.perf_counter() - t_harness
    rss_reset = sparkenv.reset_peak_rss()
    # lazily computed golden oracles read the corpus from this directory
    os.environ["SPARK_GRAFT_GOLDEN_SF_DIR"] = data_dir
    plans.load_all()
    order_rng = random.Random(run.seed)

    def execute(name: str, request: str, sink):
        t0 = time.perf_counter()
        with tr.span("query", request):
            with tr.span("plans.build"):
                df = plans.QUERIES[name](run.spark, data_dir)
            with tr.span("exec.run"):
                out = sink(df)
        return time.perf_counter() - t0, out

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def passes_for(budget_s: float, label: str) -> list[dict]:
        """Whole passes in a seeded order until ``budget_s`` is used (at
        least one)."""
        passes: list[dict] = []
        t_loop = time.perf_counter()
        while not passes or time.perf_counter() - t_loop < budget_s:
            order = names[:]
            order_rng.shuffle(order)
            p = {"queries": {}}
            request = f"{label}{len(passes)}"
            t0, cpu0 = time.perf_counter(), sparkenv.tree_cpu_s()
            with tr.span("pass", request) as span:
                for name in order:
                    res = run.attempt(name, execute, name, f"{request}:{name}", noop)
                    if res is not None:
                        p["queries"][name] = res[0]
            p["wall_s"] = time.perf_counter() - t0
            p["cpu_s"] = sparkenv.tree_cpu_s() - cpu0
            p["span"] = span["id"]
            passes.append(p)
        return passes

    # ---- set-up: session, table warm-up, first pass (collected for the
    # correctness check; it also builds the snapshot and index fixtures)
    run.start()
    tr = run.tracer
    session_start_s = time.perf_counter() - t_start - harness_s
    results = {}
    with tr.span("session.warmup") as warm:
        for t in ("events", "documents", "embeddings", "orders"):
            load_table(run.spark, data_dir, t).count()
        for name in names:
            res = run.attempt(name, execute, name, f"setup:{name}", lambda df: df.toPandas())
            if res is not None:
                results[name] = res[1]
    setup_s = time.perf_counter() - t_start - harness_s

    # ---- timed closed loop; peak RSS is read before the harness's own
    # memory use (sentinel, DuckDB oracles)
    passes = passes_for(run.seconds, "p")
    rss = sparkenv.peak_rss_mb(run.spark)
    sentinel_after = sentinel(run.root)
    env = dict(sparkenv.environment_record(run.spark), python_peak_rss_reset=rss_reset)

    # ---- correctness, untimed: every result against its DuckDB oracle
    oracle = _oracle_checker(run.root, data_dir)
    for name, result in results.items():
        sql = plans.ORACLES.get(name)
        if sql is None:  # no oracle: rows-only check
            run.check(name, lambda r: None if len(r) else "no rows", result)
        else:
            run.check(name, lambda q, r: oracle(q() if callable(q) else q, r), sql, result)

    execs = [t for p in passes for t in p["queries"].values()]
    whole = [p for p in passes if len(p["queries"]) == len(names)]
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": _median(execs),
        "cycle_s": _median(p["wall_s"] for p in whole),
        "cycle_cpu_s": _median(p["cpu_s"] for p in whole),
        "peak_rss_mb": rss,
    }
    record = {
        "workload_metrics": {
            "setup_s": [setup_s, "s"],
            "query_p50_s": [e2e["latency_p50_s"], "s"],
            "pass_s": [e2e["cycle_s"], "s"],
            "pass_cpu_s": [e2e["cycle_cpu_s"], "s"],
            "peak_rss_mb": [rss, "MB"],
        },
        "samples": {"executions": len(execs), "passes": len(passes)},
        "per_query_median_s": {
            n: _median(p["queries"][n] for p in passes if n in p["queries"]) for n in names},
        "sentinel_s": {"before": sentinel_before, "after": sentinel_after},
        "environment": env,
    }
    layers = {}
    if run.trace:
        run.spark.stop()
        layers = _query_layers(run, passes, EventLog(run.event_log_dir, tr))
        layers["session.start_s"] = session_start_s
        layers["session.warmup_s"] = warm["dur"]
        # untraced reference: a fresh session without the event log, one
        # warm pass, then timed passes
        run.start(event_log=False)
        passes_for(0.0, "ref_warm")
        ref = passes_for(run.seconds / 2, "ref")
        layers["trace.overhead_ratio"] = e2e["cycle_s"] / _median(p["wall_s"] for p in ref)
    run.spark.stop()
    return {"e2e": e2e, "layers": layers, "record": record}


def _query_layers(run: Run, passes, log: EventLog) -> dict:
    """Per-layer figures as the median over timed passes of per-pass sums."""
    tr = run.tracer
    per_pass = []
    for p in passes:
        spans = tr.descendants(p["span"])
        build = [s for s in spans if s["name"] == "plans.build"]
        execs = [s for s in spans if s["name"] == "exec.run"]
        ex = log.totals(s["id"] for s in execs)
        scan = log.subtree(p["span"])
        run_s = sum(s["dur"] for s in execs)
        per_pass.append({
            "plans.build_s": sum(s["dur"] for s in build),
            "plans.build_jobs": sum(s["jobs"] for s in build),
            "exec.run_s": run_s,
            **{f"exec.{k}": ex[k] for k in _EXEC_KEYS},
            "exec.busy_ratio": ex["executor_run_s"] / (run_s * sparkenv.CORES),
            **{f"scan.{k}": scan[k] for k in _SCAN_KEYS},
        })
    layers = {k: 0.0 for k, _ in PER_LAYER}
    for k in per_pass[0]:
        layers[k] = _median(pp[k] for pp in per_pass)
    return layers


_EXEC_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
_SCAN_KEYS = ("input_bytes", "input_records", "files_read")


# --------------------------------------------------------------------------
# ingest_upsert


def _raw_hours(raw: str) -> list[dt.datetime]:
    """Arrival-hour partitions present in the raw zone. They follow the
    wall clock, so they are discovered, not assumed."""
    hours = []
    for dirpath, dirnames, _files in os.walk(raw):
        if os.path.basename(dirpath).startswith("hour="):
            parts = dict(p.split("=", 1) for p in os.path.relpath(dirpath, raw).split(os.sep))
            hours.append(dt.datetime(int(parts["year"]), int(parts["month"]),
                                     int(parts["day"]), int(parts["hour"])))
            dirnames[:] = []
    return sorted(hours)


def _tree_files(root: str) -> dict[str, int]:
    """Data and metadata files under ``root`` with their sizes (checksum and
    hidden marker files left out)."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")) and not f.endswith(".crc"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def run_ingest(run: Run, t_start: float) -> dict:
    from web_analytics_on_aws_spark.operators.compaction import compact_hour, hour_path
    from web_analytics_on_aws_spark.plans.named_queries import (
        named_query_statements,
        run_named_query,
    )
    from web_analytics_on_aws_spark.schema import WEB_LOG_ICEBERG_WIRE_SCHEMA
    from web_analytics_on_aws_spark.sources import snapshots
    from web_analytics_on_aws_spark.streaming.ingest_stream import run_ingest_once
    from web_analytics_on_aws_spark.streaming.snapshot_sink import start_snapshot_upsert

    size = run.size
    n_cycles = [0]

    def cycle(batch_events: int, n_batches: int, label: str, observe: bool) -> dict:
        """One cycle from empty zones. ``observe`` adds the trace-only
        storage observations (in their own spans, outside the cycle time)."""
        k = n_cycles[0]
        n_cycles[0] += 1
        base = os.path.join(run.work, "ingest", f"{label}{k}")
        path = lambda name: os.path.join(base, name)  # noqa: E731
        landing, raw, table = path("landing"), path("raw"), path("table")
        os.makedirs(landing)
        t_gen = time.perf_counter()
        gen = datagen.WeblogBatches(run.seed * 1000 + k, batch_events=batch_events)
        batches, truth = [], []  # truth: (valid, invalid, distinct keys) so far
        for _ in range(n_batches):
            batches.append(gen.batch()[0])
            truth.append((gen.valid, gen.invalid, len(gen.distinct_keys)))
        out = {"gen_s": time.perf_counter() - t_gen, "fresh": [], "observe_s": 0.0,
               "observe_cpu_s": 0.0,
               "obs": {"eq_delete_files": []}, "events": n_batches * batch_events}
        spark, tr = run.spark, run.tracer
        written: dict[str, int] = {}

        def observe_read() -> None:
            """Equality-delete sidecars outstanding at this read, and every
            table file written so far."""
            t_obs, cpu_obs = time.perf_counter(), sparkenv.tree_cpu_s()
            with tr.span("observe"):
                eq = (snapshots.metadata_table(spark, table, "delete_files")
                      .where("delete_type = 'equality'").collect())
                out["obs"]["eq_delete_files"].append(len(eq))
                written.update(_tree_files(table))
            out["observe_s"] += time.perf_counter() - t_obs
            out["observe_cpu_s"] += sparkenv.tree_cpu_s() - cpu_obs

        t_cycle, cpu_cycle = time.perf_counter(), sparkenv.tree_cpu_s()
        with tr.span("cycle", f"{label}{k}") as cyc:
            for b, text in enumerate(batches):
                t0 = time.perf_counter()
                with tr.span("batch", f"{label}{k}.{b}"):
                    with open(os.path.join(landing, f"batch-{b:04d}.jsonl"), "w") as fh:
                        fh.write(text)
                    with tr.span("ingest.drain"):
                        run_ingest_once(spark, landing, raw, path("error"),
                                        path("ckpt_raw"), dialect="iceberg")
                    with tr.span("upsert.drain"):
                        start_snapshot_upsert(
                            spark, landing, table, path("error_upsert"),
                            path("ckpt_upsert"), available_now=True, mode="mor",
                        ).awaitTermination()
                    with tr.span("snapshots.read_build"):
                        snap = snapshots.read_snapshot(spark, table)
                    with tr.span("snapshots.read_exec"):
                        n_snap = snap.count()
                    with tr.span("raw.read"):
                        n_raw = spark.read.text(raw, recursiveFileLookup=True).count()
                out["fresh"].append(time.perf_counter() - t0)
                valid, _invalid, keys = truth[b]
                run.check(f"{label}{k}.{b} snapshot rows", _expect, n_snap, keys, "rows")
                run.check(f"{label}{k}.{b} raw-zone rows", _expect, n_raw, valid, "rows")
                if observe:
                    observe_read()
            with tr.span("maintain"):
                m = snapshots.maintain_table(spark, table)
            out["files_rewritten"] = (m.get("compact_deletes", {}).get("files_rewritten", 0)
                                      + m.get("optimize", {}).get("rewritten", 0))
            raw_in: dict[str, int] = {}
            for when in _raw_hours(raw):
                if observe:
                    raw_in.update(_tree_files(hour_path(raw, when)))
                with tr.span("compaction"):
                    compact_hour(spark, raw, path("curated"), when, WEB_LOG_ICEBERG_WIRE_SCHEMA)
            stmts = named_query_statements(
                f"perfbench_{label}{k}", raw, path("curated"))["web_log_parquet"]
            with tr.span("named_queries"):
                curated_n = run_named_query(spark, stmts).collect()[0][0]
        out["wall_s"] = time.perf_counter() - t_cycle - out["observe_s"]
        out["cpu_s"] = sparkenv.tree_cpu_s() - cpu_cycle - out["observe_cpu_s"]
        out["span"] = cyc["id"]

        # untimed: the error zone holds exactly the invalid records, the
        # curated zone exactly the valid ones, the table one row per key
        valid, invalid, keys = truth[-1]
        n_err = spark.read.text(path("error"), recursiveFileLookup=True).count()
        run.check(f"{label}{k} error-zone rows", _expect, n_err, invalid, "rows")
        run.check(f"{label}{k} curated COUNT(*)", _expect, curated_n, valid, "rows")
        n_final = snapshots.read_snapshot(spark, table).count()
        run.check(f"{label}{k} final snapshot rows", _expect, n_final, keys, "rows")
        if observe:
            written.update(_tree_files(table))  # maintenance output too
            stats = snapshots.table_statistics(table)
            meta = _tree_files(os.path.join(table, "manifests"))
            curated = _tree_files(path("curated"))
            user_bytes = gen.valid_bytes
            out["obs"].update({
                "ingest.valid_ratio": valid / (valid + invalid),
                "snapshots.metadata_bytes": sum(meta.values()),
                "snapshots.live_data_files": stats["n_files"],
                "snapshots.bytes_per_user_byte": stats["size_bytes"] / user_bytes,
                "snapshots.bytes_written_per_user_byte":
                    sum(v for p, v in written.items() if p not in meta) / user_bytes,
                "compaction.files_in": len(raw_in),
                "compaction.files_out": sum(p.endswith(".parquet") for p in curated),
                "compaction.bytes_out_per_byte_in":
                    sum(curated.values()) / max(sum(raw_in.values()), 1),
            })
        shutil.rmtree(base, ignore_errors=True)
        return out

    # ---- set-up: session, then one small untimed warm-up cycle that makes
    # every call once. The load sentinel runs first; the peak-RSS count
    # starts after it.
    t_harness = time.perf_counter()
    sentinel_before = sentinel(run.root)
    harness_s = time.perf_counter() - t_harness
    rss_reset = sparkenv.reset_peak_rss()
    run.start()
    tr = run.tracer
    session_start_s = time.perf_counter() - t_start - harness_s
    with tr.span("session.warmup") as warm:
        w = run.attempt("warm-up cycle", cycle,
                        size["warm_batch_events"], size["warm_batches"], "w", False)
    setup_s = time.perf_counter() - t_start - harness_s - (w["gen_s"] if w else 0.0)

    # ---- timed closed loop; a failed cycle is counted and the loop goes on
    cycles = []
    t_loop = time.perf_counter()
    while True:
        res = run.attempt("cycle", cycle, size["batch_events"], size["batches"], "c",
                          run.trace)
        if res is not None:
            cycles.append(res)
        if time.perf_counter() - t_loop >= run.seconds:
            break
    rss = sparkenv.peak_rss_mb(run.spark)
    sentinel_after = sentinel(run.root)
    env = dict(sparkenv.environment_record(run.spark), python_peak_rss_reset=rss_reset)

    fresh = [f for c in cycles for f in c["fresh"]]
    cycle_s = _median(c["wall_s"] for c in cycles)
    compact_s = [s["dur"] for c in cycles for s in tr.descendants(c["span"])
                 if s["name"] == "compaction"]
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": _median(fresh),
        "cycle_s": cycle_s,
        "cycle_cpu_s": _median(c["cpu_s"] for c in cycles),
        "peak_rss_mb": rss,
    }
    record = {
        "workload_metrics": {
            "setup_s": [setup_s, "s"],
            "freshness_p50_s": [e2e["latency_p50_s"], "s"],
            "ingest_events_per_s": [_median(c["events"] / c["wall_s"] for c in cycles), "1/s"],
            "compact_hour_s": [_median(compact_s), "s"],
            "cycle_cpu_s": [e2e["cycle_cpu_s"], "s"],
            "peak_rss_mb": [rss, "MB"],
        },
        "samples": {"freshness": len(fresh), "cycles": len(cycles),
                    "compact_hour": len(compact_s)},
        "freshness_by_batch_index_s": [
            _median(c["fresh"][b] for c in cycles) for b in range(size["batches"])],
        "sentinel_s": {"before": sentinel_before, "after": sentinel_after},
        "environment": env,
        "batches": {"events": size["batch_events"], "per_cycle": size["batches"],
                    "invalid_share": datagen.INVALID_SHARE,
                    "resent_share": datagen.RESENT_SHARE},
    }
    layers = {}
    if run.trace:
        run.spark.stop()
        layers = _ingest_layers(run, cycles, EventLog(run.event_log_dir, tr))
        layers["session.start_s"] = session_start_s
        layers["session.warmup_s"] = warm["dur"]
        # an untraced reference cycle in a fresh session without the event log
        run.start(event_log=False)
        ref = run.attempt("reference cycle", cycle,
                          size["batch_events"], size["batches"], "ref", False)
        layers["trace.overhead_ratio"] = cycle_s / (ref["wall_s"] if ref else math.nan)
    run.spark.stop()
    return {"e2e": e2e, "layers": layers, "record": record}


def _ingest_layers(run: Run, cycles, log: EventLog) -> dict:
    """Per-layer figures: per-call medians for the calls, per-cycle medians
    for Spark work and storage observations. With no completed cycle every
    figure of a layer the workload exercises is NaN."""
    tr = run.tracer
    layers = {k: 0.0 for k, _ in PER_LAYER}
    if not cycles:
        return {k: (0.0 if k.startswith("plans.") else math.nan) for k in layers}
    spans = [s for c in cycles for s in tr.descendants(c["span"])]

    def med(name: str, field: str = "dur") -> float:
        picked = [s for s in spans if s["name"] == name]
        if field == "dur":
            return _median(s["dur"] for s in picked)
        return _median(log.subtree(s["id"])[field] for s in picked)

    for layer, span_name in (("ingest.drain", "ingest.drain"), ("upsert.drain", "upsert.drain"),
                             ("maintain.run", "maintain"), ("compaction.run", "compaction"),
                             ("named_queries.run", "named_queries"),
                             ("snapshots.read_build", "snapshots.read_build"),
                             ("snapshots.read_exec", "snapshots.read_exec")):
        layers[f"{layer}_s"] = med(span_name)
    layers["ingest.jobs_per_batch"] = med("ingest.drain", "jobs")
    layers["upsert.jobs_per_batch"] = med("upsert.drain", "jobs")
    layers["maintain.jobs"] = med("maintain", "jobs")
    layers["compaction.jobs"] = med("compaction", "jobs")
    layers["maintain.files_rewritten"] = _median(c["files_rewritten"] for c in cycles)

    # Spark work of a whole cycle, the storage observations left out
    per_cycle = []
    for c in cycles:
        ids = [c["span"]] + [s["id"] for s in tr.descendants(c["span"]) if s["name"] != "observe"]
        per_cycle.append(log.totals(ids))
    for k in _EXEC_KEYS:
        layers[f"exec.{k}"] = _median(p[k] for p in per_cycle)
    for k in _SCAN_KEYS:
        layers[f"scan.{k}"] = _median(p[k] for p in per_cycle)
    layers["exec.run_s"] = _median(c["wall_s"] for c in cycles)
    layers["exec.busy_ratio"] = _median(
        p["executor_run_s"] / (c["wall_s"] * sparkenv.CORES) for p, c in zip(per_cycle, cycles))
    obs = [c["obs"] for c in cycles]
    layers["snapshots.eq_delete_files"] = _median(x for o in obs for x in o["eq_delete_files"])
    for key in obs[0]:
        if key != "eq_delete_files":
            layers[key] = _median(o[key] for o in obs)
    return layers

