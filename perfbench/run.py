#!/usr/bin/env python3
"""End-to-end benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload etl_publications --seed 1 --seconds 10 --trace 0

Run it from the repository root. The read-only workloads read the
repository's canonical tables (seed 42), copied byte for byte under
``perfbench/testdata/`` (``SHA256SUMS`` lists them) so that a run reads
nothing outside its checkout; ``--seed`` sets their op order. The arXiv
input is generated from ``--seed`` into ``.perfbench_work/`` (removed at
exit); ``--trace 1`` also leaves the run's spans in ``.perfbench_out/``.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.

One client, closed loop, ``local[nproc]``. A run is: set-up (session start,
input generation, one untimed warm-up call of every op type), then a timed
phase with a fixed amount of work — ``--seconds`` sets how many passes over
the op types it makes, at the nominal pass time of a 4-core host, with a
per-workload floor so that ``op_p50_s`` is a median of several ops — then
the correctness checks, outside both.

Workloads (seeded order within every pass):

- ``etl_publications`` — the write path: arXiv-shaped JSON through
  ``sources.io.read_json_array`` and ``plans.pipeline.run_pipeline`` with a
  stub scholar fetch, every warehouse table sunk through
  ``sources.io.write_parquet``, then the daily re-run
  (``ingest_incremental``) of an overlapping second batch. Every op is
  checked against a plain-Python replay of the reference's rules
  (``replay.py``).
- ``olap_short`` — sixteen short join/agg/sort registry keys at sf0.1
  through the noop sink: per-query fixed costs. Checked against their
  DuckDB oracles.
- ``llm_iterative`` — fixed-point loops, ``localCheckpoint``, Arrow/pandas
  kernels and shuffles: five iterative registry keys through the noop sink,
  checked against their DuckDB oracles. Runnable by hand; BENCHMARK.json
  does not declare it, because with it the benchmark's runs overrun their
  time budget (its warm-up call alone takes 35-50 s on a 4-core host).

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run makes every op of the same schedule once untraced and once traced
(``paired_phase``), and reports the per-layer numbers plus the tracing
overhead.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import gc
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

import spans

ROOT = os.getcwd()
TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
MB = 1024.0 * 1024.0

OLAP_KEYS = [
    "inner_join_agg_sort", "left_join_count_multisort", "three_way_join_agg",
    "anti_join", "semi_join", "group_having_dup", "case_when_mapping",
    "explode_split", "dedup_by_key", "window_rank", "topk_per_group",
    "rollup_counts", "agg_stats", "full_outer_join", "sort_limit_topk",
    "filter_predicate"]
LLM_KEYS = ["supplier_er_clusters", "minhash_cc_dedup", "kcore_graph",
            "ivf_kmeans_topk", "semantic_dedup"]

#: per workload: what it runs, at what size, the nominal time of one timed
#: pass on a 4-core host, and the fewest passes a timed phase makes
#: (``--seconds`` / pass_s = passes, at least min_passes)
WORKLOADS = {
    "etl_publications": {"records": 5_000, "pass_s": 11.0, "min_passes": 3},
    "llm_iterative": {"keys": LLM_KEYS, "sf": 0.01, "pass_s": 20.0, "min_passes": 1},
    "olap_short": {"keys": OLAP_KEYS, "sf": 0.1, "pass_s": 8.5, "min_passes": 2},
}
#: ``--size tiny``: the smoke-run sizes
TINY = {"etl_publications": {"records": 400, "min_passes": 2},
        "llm_iterative": {"sf": 0.001}, "olap_short": {"sf": 0.001}}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------- host probes

def tree_cpu_s() -> float:
    """CPU seconds (user + system, own + reaped children) of this process
    and every descendant: the Python driver, the driver JVM, and the
    Python worker daemon with its workers."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    keep, frontier = set(), {os.getpid()}
    while frontier:
        keep |= frontier
        frontier = {p for p, (pp, _) in procs.items() if pp in frontier} - keep
    return sum(procs[p][1] for p in keep if p in procs) / os.sysconf("SC_CLK_TCK")


def host_cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the host since boot, from /proc/stat:
    time a virtual machine's CPUs wait while its hypervisor runs others."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def heap_after_gc_mb(spark) -> float:
    """JVM heap in use after full GCs. Python collects first, so the JVM
    objects that dead Python proxies pin are released; the pauses let
    Spark's ContextCleaner drop the blocks the first GC made unreachable."""
    jvm = spark._jvm
    for _ in range(3):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.3)
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getUsed() / MB


# ------------------------------------------------------------- session

def start_session(ncpu: int):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        # every JVM, the spark-submit launcher too, keeps its files in WORK
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell"]),
    })
    from data_engineering__spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{ncpu}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ----------------------------------------------------------- workloads

class RegistryWorkload:
    """Conformance-registry keys materialized through the noop sink."""

    outputs: dict = {}          # writes nothing
    distinct_titles = 0

    def __init__(self, spark, keys: list[str], sf: float):
        from data_engineering__spark import conformance

        self.spark, self.keys, self.conf = spark, keys, conformance
        self.sf_dir = os.path.join(TESTDATA, f"sf{sf}")
        self.rows: dict[str, tuple[list[str], list[tuple]]] = {}

    def op_types(self) -> list[str]:
        return list(self.keys)

    def warm(self, key: str) -> None:
        """Untimed first call; its collected rows feed the oracle check."""
        df = self.conf.QUERIES[key](self.spark, self.sf_dir)
        self.rows[key] = (df.columns, [tuple(r) for r in df.collect()])

    def run(self, key: str, label: str, span) -> None:
        with span("conformance.build"):
            df = self.conf.QUERIES[key](self.spark, self.sf_dir)
        with span("exec"):
            df.write.format("noop").mode("overwrite").save()

    def check(self) -> dict[str, str]:
        """Op types whose warm-up rows differ from their DuckDB oracle,
        compared under ``tests/oracle.py``'s row normalization."""
        import duckdb
        from tests.oracle import _norm_rows

        con = duckdb.connect()
        con.execute("SET memory_limit='2GB'")
        con.execute(f"SET temp_directory='{os.path.join(WORK, 'duck')}'")
        con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
        for f in sorted(os.listdir(self.sf_dir)):
            con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * "
                        f"FROM read_parquet('{os.path.join(self.sf_dir, f)}')")
        bad = {}
        self.checks_run = len(self.keys)
        for key in self.keys:
            if key not in self.rows:
                bad[key] = "warm-up raised"
                continue
            res = con.execute(self.conf.ORACLE[key])
            d_cols = [d[0] for d in res.description]
            s_cols, s_rows = self.rows[key]
            if sorted(s_cols) != sorted(d_cols):
                bad[key] = f"columns {sorted(s_cols)} vs {sorted(d_cols)}"
            elif _norm_rows(s_cols, s_rows) != _norm_rows(d_cols, res.fetchall()):
                bad[key] = f"rows differ from the oracle ({len(s_rows)} spark rows)"
        con.close()
        return bad

    def failed_ops(self, schedule: list[str], bad: dict, prefix: str) -> set[int]:
        return {i for i, key in enumerate(schedule) if key in bad}

    def trace_points(self, tracer) -> None:
        from data_engineering__spark.operators import graph

        conf = self.conf
        tracer.wrap(conf, "read_table", "io.read_table")
        for module in (conf.D, conf.V, conf.R, conf.W, graph):
            tracer.wrap_module(module, "operators")


ARXIV_SCHEMA = (
    "id string, submitter string, authors string, title string, "
    "comments string, `journal-ref` string, doi string, `report-no` string, "
    "categories string, license string, abstract string, "
    "versions array<struct<version: string, created: string>>, "
    "update_date string, authors_parsed array<array<string>>")
ETL_TABLES = ["publications", "authors", "categories", "authorship",
              "publication_category", "citations", "log_table", "validation"]


class EtlWorkload:
    """The reference's publication DAG over seeded arXiv JSON, one op being
    ingest → … → validate, the warehouse sink, and the daily re-run."""

    def __init__(self, spark, records: int, seed: int):
        import datagen
        import replay
        from pyspark import cloudpickle
        from pyspark.sql import types as T

        cloudpickle.register_pickle_by_value(replay)   # for the fetch stub
        self.spark = spark
        self.schema = T._parse_datatype_string(ARXIV_SCHEMA)
        corpus = datagen.arxiv_records(seed, records + records // 4)
        self.batch1 = corpus[:records]
        # the daily re-run: half already loaded, half new
        self.batch2 = corpus[records - records // 4:]
        self.paths = []
        for i, batch in enumerate((self.batch1, self.batch2)):
            path = os.path.join(WORK, f"arxiv_{i}.json")
            with open(path, "w") as f:
                json.dump(batch, f)
            self.paths.append(path)
        fetches = self.fetches = spark.sparkContext.accumulator(0)

        def fetch(key: str) -> dict:
            fetches.add(1)
            return replay.scholar_payload(key)

        self.fetch = fetch
        self.outputs: dict[str, tuple[str, int]] = {}

    def op_types(self) -> list[str]:
        return ["publications"]

    def warm(self, op_type: str) -> None:
        self._op("warm", lambda name: contextlib.nullcontext())

    def run(self, op_type: str, label: str, span) -> None:
        self._op(label, span)

    def _read(self, path: str):
        from data_engineering__spark.sources import io

        return (io.read_json_array(self.spark, path, self.schema)
                .withColumnRenamed("journal-ref", "journal_ref")
                .withColumnRenamed("report-no", "report_no"))

    def _op(self, label: str, span) -> None:
        from data_engineering__spark.plans import pipeline
        from data_engineering__spark.sources import io

        out = os.path.join(WORK, "out", label)
        n0 = self.fetches.value
        tables = pipeline.run_pipeline(self._read(self.paths[0]), fetch=self.fetch)
        for name in ETL_TABLES:
            io.write_parquet(tables[name], os.path.join(out, name))
        with span("bench.read_hub"):
            hub = self.spark.read.parquet(os.path.join(out, "publications")) \
                .drop("publication_type")
        io.write_parquet(pipeline.ingest_incremental(hub, self._read(self.paths[1])),
                         os.path.join(out, "publications_incremental"))
        self.outputs[label] = (out, self.fetches.value - n0)

    def check(self) -> dict[str, str]:
        """Outputs whose table row counts or validation report differ from
        the plain-Python replay of the reference's rules, or whose op
        fetched fewer scholar results than there are titles to cite."""
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq
        import replay

        want = replay.expected_counts(self.batch1, self.batch2)
        bad = {}
        self.checks_run = len(self.outputs)
        for label, (out, fetches) in self.outputs.items():
            got = {t: ds.dataset(os.path.join(out, t), format="parquet").count_rows()
                   for t in want["tables"]}
            report = {r["check"]: r["violations"] for r in
                      pq.read_table(os.path.join(out, "validation")).to_pylist()}
            diffs = [f"{t}: {got[t]} rows, replay {n}" for t, n in want["tables"].items()
                     if got[t] != n]
            diffs += [f"{c}: {report.get(c)} violations, replay {n}"
                      for c, n in want["validation"].items() if report.get(c) != n]
            if fetches < want["distinct_titles"]:
                diffs.append(f"{fetches} fetches for {want['distinct_titles']} titles")
            if diffs:
                bad[label] = "; ".join(diffs)
        self.distinct_titles = want["distinct_titles"]
        return bad

    def failed_ops(self, schedule: list[str], bad: dict, prefix: str) -> set[int]:
        failed = {i for i in range(len(schedule)) if f"{prefix}{i}" in bad}
        return set(range(len(schedule))) if "warm" in bad else failed

    def trace_points(self, tracer) -> None:
        from data_engineering__spark.operators import merge
        from data_engineering__spark.plans import pipeline
        from data_engineering__spark.sources import http, io

        tracer.wrap(pipeline, "run_pipeline", "pipeline.run_pipeline")
        for stage in PIPELINE_STAGES:
            tracer.wrap(pipeline, stage, f"pipeline.{stage}")
        for fn in ("assign_ids", "dim_upsert", "upsert_merge"):
            tracer.wrap(pipeline, fn, f"merge.{fn}")
        tracer.wrap(merge, "assign_ids", "merge.assign_ids")   # dim_upsert's own call
        tracer.wrap(http, "enrich", "http.enrich")
        tracer.wrap(io, "read_json_array", "io.read_json_array")
        tracer.wrap(io, "write_parquet", "io.write_parquet")


PIPELINE_STAGES = ["ingest", "normalize", "clean", "derive_types", "enrich",
                   "cite", "validate", "ingest_incremental"]


# ------------------------------------------------------------ the run

def plain_span(name: str):
    return contextlib.nullcontext()


def run_op(work, op_type: str, label: str, span, i: int, raised: set) -> float:
    """One op; its latency. An op that raises is logged and counted."""
    s = time.perf_counter()
    try:
        with span(f"op.{op_type}"):
            work.run(op_type, label, span)
    except Exception:
        log(f"op {label} ({op_type}) raised:\n{traceback.format_exc()}")
        raised.add(i)
    return time.perf_counter() - s


def timed_phase(work, schedule: list[str], prefix: str) -> dict:
    """Run ``schedule`` closed-loop, untraced; per-op latency, wall and CPU."""
    lat, raised = [], set()
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    for i, op_type in enumerate(schedule):
        lat.append(run_op(work, op_type, f"{prefix}{i}", plain_span, i, raised))
    wall = time.perf_counter() - t0
    return {"lat": lat, "wall": wall, "cpu": tree_cpu_s() - cpu0, "raised": raised}


def paired_phase(work, schedule: list[str], tracer, listener, reader) -> tuple[dict, dict]:
    """Every op of ``schedule`` twice, untraced (``u``) and traced (``t``),
    in alternating order (u t, t u, u t, …), so that ops still speeding up
    within the run cancel out of the traced-minus-untraced difference. The
    jobs and Catalyst phases of the traced calls alone are kept; they are
    read back after each call, outside its latency. A side's wall is the
    sum of its op latencies."""
    out = {p: {"lat": [], "raised": set()} for p in "ut"}
    for i, op_type in enumerate(schedule):
        for p in ("ut" if i % 2 == 0 else "tu"):
            tracer.on = listener.on = p == "t"
            tracer.op_id = i
            span = tracer.span if p == "t" else plain_span
            out[p]["lat"].append(run_op(work, op_type, f"{p}{i}", span, i, out[p]["raised"]))
            reader.read(keep=p == "t")      # drains the listener bus too
    tracer.on = listener.on = False
    for side in out.values():
        side["wall"] = sum(side["lat"])
    return out["u"], out["t"]


def layer_metrics(spark, work, tracer, listener, jobs, traced, untraced) -> dict:
    """Per-layer totals over the traced timed phase; a layer's time is the
    self time of its spans, its jobs those submitted while one was open."""
    self_s = tracer.self_times()
    spans = tracer.spans
    calls = collections.Counter(s["name"] for s in spans)
    jobs_in = collections.Counter()
    for j in jobs:
        g = j["group"]
        j["span"] = int(g[5:]) if g and g.startswith("span-") else tracer.span_of_time(j["t"])
        for name in {spans[i]["name"] for i in tracer.ancestors(j["span"])}:
            jobs_in[name] += 1
    stages = [st for j in jobs for st in j["stages"]]

    def tot(field):
        return sum(st[field] for st in stages)

    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    out_mb, fetch_calls = 0.0, 0
    for label, (out, fetches) in work.outputs.items():
        if label.startswith("t"):
            fetch_calls += fetches
            for d, _, files in os.walk(out):
                out_mb += sum(os.path.getsize(os.path.join(d, f)) for f in files) / MB
    titles = work.distinct_titles * len(traced["lat"])
    m = {
        "conformance.build_s": (self_s.get("conformance.build", 0.0), "s"),
        "conformance.build_jobs": (jobs_in["conformance.build"], "count"),
        "catalyst.analysis_s": (listener.phases.get("analysis", 0.0), "s"),
        "catalyst.optimization_s": (listener.phases.get("optimization", 0.0), "s"),
        "catalyst.planning_s": (listener.phases.get("planning", 0.0), "s"),
        "exec.s": (self_s.get("exec", 0.0), "s"),
        "exec.jobs": (len(jobs), "count"),
        "exec.stages": (len(stages), "count"),
        "exec.tasks": (tot("tasks"), "count"),
        "exec.task_run_s": (tot("run_s"), "s"),
        "exec.task_cpu_s": (tot("cpu_s"), "s"),
        "exec.gc_s": (tot("gc_s"), "s"),
        "exec.shuffle_read_mb": (tot("shr_mb"), "MB"),
        "exec.shuffle_write_mb": (tot("shw_mb"), "MB"),
        "exec.spill_mb": (tot("spill_mb"), "MB"),
        "exec.input_mb": (tot("in_mb"), "MB"),
        "io.read_table_calls": (calls["io.read_table"], "count"),
        "io.read_table_s": (self_s.get("io.read_table", 0.0), "s"),
        "io.read_table_jobs": (jobs_in["io.read_table"], "count"),
        "io.read_json_array_s": (self_s.get("io.read_json_array", 0.0), "s"),
        "io.write_parquet_s": (self_s.get("io.write_parquet", 0.0), "s"),
        "io.write_parquet_mb": (out_mb, "MB"),
        "pipeline.run_pipeline_s": (self_s.get("pipeline.run_pipeline", 0.0), "s"),
    }
    for stage in PIPELINE_STAGES:
        m[f"pipeline.{stage}_s"] = (self_s.get(f"pipeline.{stage}", 0.0), "s")
        m[f"pipeline.{stage}_jobs"] = (jobs_in[f"pipeline.{stage}"], "count")
    m.update({
        "merge.assign_ids_calls": (calls["merge.assign_ids"], "count"),
        "merge.assign_ids_s": (self_s.get("merge.assign_ids", 0.0), "s"),
        "merge.dim_upsert_s": (self_s.get("merge.dim_upsert", 0.0), "s"),
        "merge.upsert_merge_s": (self_s.get("merge.upsert_merge", 0.0), "s"),
        "http.enrich_s": (self_s.get("http.enrich", 0.0), "s"),
        "http.fetch_calls": (fetch_calls, "count"),
        "http.fetch_per_title": (fetch_calls / titles if titles else 0.0, "ratio"),
        "mat.persisted_rdds": (spark.sparkContext._jsc.getPersistentRDDs().size(), "count"),
        "mat.storage_mb": (sum(i.memSize() + i.diskSize() for i in storage) / MB, "MB"),
    })
    m["operators.s"] = (sum(v for k, v in self_s.items() if k.startswith("operators.")), "s")
    m["operators.calls"] = (sum(v for k, v in calls.items() if k.startswith("operators.")), "count")
    m["operators.jobs"] = (sum(1 for j in jobs if any(
        spans[i]["name"].startswith("operators.") for i in tracer.ancestors(j["span"]))), "count")
    root = sum(v for k, v in self_s.items() if k.startswith("op.") or k.startswith("bench."))
    # traced minus untraced per op pair, over the whole phase; the first pair
    # is left out when there are others: its first call still runs slower
    # (warming), and the alternation t u, u t, … balances the pairs after it
    pairs = list(zip(traced["lat"], untraced["lat"]))
    pairs = pairs[1:] or pairs
    overhead = len(traced["lat"]) * statistics.fmean(t - u for t, u in pairs)
    m.update({
        "trace.wall_s": (traced["wall"], "s"),
        "trace.overhead_s": (overhead, "s"),
        "trace.unattributed_s": (root, "s"),
    })
    return m


def run(args) -> dict:
    cfg = dict(WORKLOADS[args.workload])
    if args.size == "tiny":
        cfg.update(TINY[args.workload])
    from bench import _cpu_probe

    ncpu = len(os.sched_getaffinity(0))
    probe, load_1m = _cpu_probe(), os.getloadavg()[0]

    t0 = time.perf_counter()
    spark = start_session(ncpu)
    try:
        if "keys" in cfg:
            work = RegistryWorkload(spark, cfg["keys"], cfg["sf"])
        else:
            work = EtlWorkload(spark, cfg["records"], args.seed)
        warm_failed = []
        for op_type in work.op_types():
            try:
                work.warm(op_type)
            except Exception:
                log(f"warm-up of {op_type} raised:\n{traceback.format_exc()}")
                warm_failed.append(op_type)
        setup_s = time.perf_counter() - t0
        heap0 = heap_after_gc_mb(spark) if args.trace else None   # for retained heap

        rng = random.Random(args.seed)
        passes = max(cfg["min_passes"], round(args.seconds / cfg["pass_s"]))
        schedule = [t for _ in range(passes)
                    for t in rng.sample(work.op_types(), len(work.op_types()))]
        steal0 = host_cpu_jiffies()
        if args.trace:
            tracer = spans.Tracer(spark.sparkContext)
            work.trace_points(tracer)
            listener = spans.CatalystListener(spark)
            reader = spans.JobReader(spark)
            untraced, traced = paired_phase(work, schedule, tracer, listener, reader)
            listener.close()
            tracer.unpatch()
            phases = [("u", untraced), ("t", traced)]
        else:
            untraced = timed_phase(work, schedule, "op")
            phases = [("op", untraced)]
        steal = [b - a for a, b in zip(steal0, host_cpu_jiffies())]
        heap1 = heap_after_gc_mb(spark)
        bad = work.check()
        if args.trace:
            metrics = layer_metrics(spark, work, tracer, listener, reader.jobs,
                                    traced, untraced)
            metrics["jvm.heap_after_gc_mb"] = (heap1, "MB")
            metrics["jvm.retained_heap_mb"] = (heap1 - heap0, "MB")
            os.makedirs(OUT, exist_ok=True)
            with open(os.path.join(OUT, f"{args.workload}-seed{args.seed}-spans.json"), "w") as f:
                json.dump({"spans": tracer.spans, "jobs": reader.jobs}, f)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (untraced["wall"], "s"),
                "op_p50_s": (statistics.median(untraced["lat"]), "s"),
                "cpu_s": (untraced["cpu"], "s"),
                "heap_after_gc_mb": (heap1, "MB"),
            }
    finally:
        spark.stop()
        stop_gateway()

    failed = 0
    for prefix, phase in phases:
        failed += len(work.failed_ops(schedule, bad, prefix) | phase["raised"])
    attempted = len(schedule) * len(phases)
    for k, v in bad.items():
        log(f"check failed: {k}: {v}")
    info = {"workload": args.workload, "seed": args.seed, "passes": passes,
            "ops": len(schedule), "samples": len(untraced["lat"]),
            "op_latency_s": [round(x, 4) for x in untraced["lat"]],
            "op_latency_trend": latency_trend(untraced["lat"]),
            "cpus": ncpu, "master": f"local[{ncpu}]",
            "cpu_probe_s": round(probe, 4), "load_1m": load_1m,
            "steal_share": round(steal[0] / max(steal[1], 1), 4),
            "warm_failed": warm_failed, "checks_run": work.checks_run,
            "checks_failed": sorted(bad)}
    print(json.dumps({"info": info}))
    return {"correct": not failed and not bad and not warm_failed,
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def latency_trend(lat: list[float]) -> float | None:
    """Least-squares change of op latency per op, as a share of the median
    op: a run whose ops slow down (or speed up) as it goes shows here."""
    if len(lat) < 3:
        return None
    slope = statistics.linear_regression(range(len(lat)), lat).slope
    return round(slope / statistics.median(lat), 4)


def stop_gateway() -> None:
    """Shut the driver JVM down and wait for it (its Python workers exit
    with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: smoke-run input sizes")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "data_engineering__spark", "__init__.py")):
        log("data_engineering__spark/ not found: run from the repository root")
        return 2
    sys.path.insert(0, ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        result = run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
