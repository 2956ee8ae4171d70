#!/usr/bin/env python3
"""Repository benchmark: the COVID lifecycle and two query workloads.

Usage (from the repository root)::

    python3 perfbench/run.py --workload tpch_analytics --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client, ``local[nproc]``; see NOTES.md):

- ``tpch_analytics``: scan/shuffle/join-bound TPC-H queries.
- ``curation_graph``: plan-construction-bound dedup and graph queries.
- ``covid_lifecycle``: the paper's pipeline, full refresh then daily
  updates, each checked against a DuckDB golden.

Inputs are generated from ``--seed`` under ``perfbench/.work`` before
anything is timed. Every output is checked outside the timed region.
With ``--trace 0`` the run measures end-to-end metrics; ``--trace 1``
enables spans, the py4j counter and the Spark event log and reports
per-layer metrics. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is the full report (all metrics with unit and sample count, host
context), also written to ``perfbench/.work/results``.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import gc
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

TPCH = [
    "q9_product_profit",
    "q18_large_volume_customer",
    "q21_waiting_supplier",
]
CURATION = [
    "pps_token_sample",
    "graph_label_propagation",
]
WORKLOADS = {
    # kind, table scale factor, query list, setups per run
    "tpch_analytics": {"kind": "queries", "sf": 0.1, "queries": TPCH, "setups": 3},
    "curation_graph": {"kind": "queries", "sf": 0.01, "queries": CURATION, "setups": 3},
    # locations x days of history, daily updates per pass
    "covid_lifecycle": {"kind": "covid", "locations": 250, "days": 730, "updates": 2, "setups": 1},
}
COVID_RUN_TS = dt.datetime(2022, 3, 1, 6, 0, 0)
# The first timed pass after the set-ups is still 10-20% slower than the
# next ones; with three passes or more the median is a steady pass.
MIN_PASSES = 3
# ParquetMergeTarget methods that commit a new table state.
MERGE_COMMITS = ("overwrite", "append", "merge", "update_flag", "delete_all")

# Metrics the contract line carries (BENCHMARK.json end_to_end / per_layer).
END_TO_END = {"setup_s": "s", "pass_s": "s"}
PER_LAYER = {
    "session.get_spark_s": "s",
    "trace.pass_s": "s",
    "plans.build_s": "s",
    "plans.build_py4j_calls": "count",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "plans.exec_s": "s",
    "plans.exec_py4j_calls": "count",
    "plans.exec_idle_frac": "ratio",
    "plans.jobs": "count",
    "plans.tasks": "count",
    "plans.task_run_s": "s",
    "plans.task_cpu_s": "s",
    "plans.gc_s": "s",
    "plans.shuffle_write_bytes": "bytes",
    "plans.input_bytes": "bytes",
    "plans.spill_bytes": "bytes",
}


# -- statistics ---------------------------------------------------------------
def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it (nearest rank); the maximum when n <= 10."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    return round(100.0 * (n - 10) / n, 1), xs[n - 11]


def metric(value: float, unit: str, n: int, **extra) -> dict:
    return {"value": value, "unit": unit, "n": n, **extra}


# -- host ---------------------------------------------------------------------
def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load1() -> float:
    return os.getloadavg()[0]


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak RSS of the Spark JVM plus this Python process."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    return (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0


def settle(spark) -> None:
    """Full garbage collection in the JVM and in Python (untimed)."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def du_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# -- session ------------------------------------------------------------------
class Session:
    """(Re)starts the engine's SparkSession with paths inside the work dir."""

    def __init__(self, run_dir: str, eventlog_dir: str | None, tracer):
        from fsc_etl_spark.session import get_spark

        self._get_spark = get_spark
        self.tracer = tracer
        tmp = os.path.join(WORK, "tmp")
        self.conf = {
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if eventlog_dir:
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{eventlog_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = None
        self.get_spark_s: list[float] = []

    def start(self):
        if self.spark is not None:
            self.spark.stop()
        t = time.perf_counter()
        self.spark = self._get_spark(app_name="perfbench", master=f"local[{nproc()}]", extra_conf=self.conf)
        self.get_spark_s.append(time.perf_counter() - t)
        if self.tracer:
            self.tracer.bind(self.spark)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        gateway.proc.stdin.close()  # the JVM exits at end of input
        gateway.proc.wait(timeout=60)


def _span(tracer, layer: str, label: str):
    return tracer.span(layer, label) if tracer else contextlib.nullcontext()


# -- query workloads ----------------------------------------------------------
class Collected:
    """A collected result standing in for the DataFrame it came from."""

    def __init__(self, df):
        self.columns = list(df.columns)
        self._rows = [tuple(r) for r in df.collect()]

    def collect(self):
        return self._rows


def check_queries(results: dict, data_dir: str) -> dict[str, str | None]:
    """Compare each collected result with its DuckDB oracle; None = ok."""
    import __spark_entry__ as entry
    from fsc_etl_spark.plans.oracles_training import SF_ORACLE_GENERATORS
    from fsc_etl_spark.testing import compare_with_oracle, duckdb_connection

    oracles = entry.oracle_sql()
    out: dict[str, str | None] = {}
    con = duckdb_connection(data_dir)
    try:
        for name, res in results.items():
            if isinstance(res, str):
                out[name] = res
                continue
            sql = SF_ORACLE_GENERATORS[name](data_dir) if name in SF_ORACLE_GENERATORS else oracles.get(name)
            if sql is None:
                out[name] = "no oracle"
                continue
            try:
                compare_with_oracle(res, con, sql, name=name)
                out[name] = None
            except AssertionError as e:
                out[name] = str(e)[:500]
    finally:
        con.close()
    return out


def run_queries(wl: dict, args, data_dir: str, session: Session, tracer) -> dict:
    import __spark_entry__ as entry

    queries = entry.queries()
    names = wl["queries"]
    rng = random.Random(args.seed)
    errors: dict[str, str] = {}

    def execute(spark, name: str, collect: bool = False):
        with _span(tracer, "plans.build", name):
            df = queries[name](spark, data_dir)
        with _span(tracer, "plans.exec", name):
            if collect:
                return Collected(df)
            df.write.format("noop").mode("overwrite").save()
            return None

    # Set-up: (re)start the session and warm every query once. The first
    # set-up launches the JVM and collects each result for the checks.
    setup_s, results = [], {}
    for i in range(wl["setups"]):
        t = time.perf_counter()
        spark = session.start()
        for name in names:
            try:
                res = execute(spark, name, collect=(i == 0))
                if i == 0:
                    results[name] = res
            except Exception as e:  # a failed query is counted, the run goes on
                traceback.print_exc(file=sys.stderr)
                results[name] = f"raised {type(e).__name__}: {e}"[:500]
        setup_s.append(time.perf_counter() - t)

    # Timed region: whole passes over a seeded permutation, at least
    # MIN_PASSES, then more while the next pass is expected to end within
    # --seconds. Each pass starts from collected heaps (JVM and Python), so
    # garbage left by the set-ups or an earlier pass is not collected
    # inside it.
    passes, ops, pass_spans, by_query = [], [], [], {}
    t_run = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_run + passes[-1] <= args.seconds:
        order = rng.sample(names, len(names))
        settle(spark)
        t_pass = time.perf_counter()
        with _span(tracer, "bench.pass", f"pass{len(passes)}") as ps:
            for name in order:
                t = time.perf_counter()
                try:
                    execute(spark, name)
                except Exception as e:
                    traceback.print_exc(file=sys.stderr)
                    errors.setdefault(name, f"raised {type(e).__name__}: {e}"[:500])
                    continue
                ops.append(time.perf_counter() - t)
                by_query.setdefault(name, []).append(ops[-1])
        passes.append(time.perf_counter() - t_pass)
        if tracer:
            pass_spans.append(ps.sid)
    rss = peak_rss_mb(spark)
    session.stop()

    t = time.perf_counter()
    checks = check_queries(results, data_dir)
    check_s = time.perf_counter() - t
    for name, err in errors.items():
        checks[name] = checks.get(name) or err
    # A query that fails its check failed on every execution.
    attempted = len(names) * (len(passes) + 1)
    failed = sum(1 for e in checks.values() if e) * (len(passes) + 1)
    tail_p, tail_v = tail(ops) if ops else (100.0, float("nan"))
    e2e = {
        "setup_s": metric(statistics.median(setup_s), "s", len(setup_s), samples=setup_s),
        "pass_s": metric(statistics.median(passes), "s", len(passes), samples=passes),
        "op_s.p50": metric(statistics.median(ops) if ops else float("nan"), "s", len(ops)),
        "op_s.tail": metric(tail_v, "s", len(ops), percentile=tail_p),
        "failed_frac": metric(failed / attempted, "ratio", attempted),
        "peak_rss_mb": metric(rss, "MB", 1),
    }
    return {
        "e2e": e2e,
        "attempted": attempted,
        "failed": failed,
        "checks": {n: e for n, e in checks.items() if e},
        "roots": pass_spans,
        "units": len(passes),
        "shape": {"sf": wl["sf"], "queries": names},
        "op_s_by_query": by_query,
        "check_s": check_s,
    }


# -- covid lifecycle ------------------------------------------------------------
def run_covid(wl: dict, args, data_dir: str, session: Session, tracer) -> dict:
    import covid_gen
    from fsc_etl_spark.plans.covid import CovidPipeline

    with open(os.path.join(data_dir, "manifest.json")) as f:
        manifest = json.load(f)
    snaps = manifest["snapshots"]
    lake = os.path.join(WORK, "lake")

    def pipeline(spark, name: str) -> CovidPipeline:
        root = os.path.join(lake, name)
        shutil.rmtree(root, ignore_errors=True)
        return CovidPipeline(spark, curated_root=f"{root}/curated", enterprise_root=f"{root}/enterprise")

    def full(p: CovidPipeline) -> None:
        p.run_full(snaps[0]["dir"], run_ts=COVID_RUN_TS)
        p.load_enterprise(full_mode=True, run_date=dt.date.fromisoformat(snaps[0]["run_date"]))

    def daily(p: CovidPipeline, k: int) -> None:
        run_date = dt.date.fromisoformat(snaps[k]["run_date"])
        p.run_incremental(snaps[k]["dir"], snaps[k - 1]["dir"], run_date=run_date, run_ts=COVID_RUN_TS)
        p.load_enterprise(full_mode=False, run_date=run_date)

    # Set-up: start the session and warm with one full refresh and one
    # daily update on a throw-away lake.
    setup_s = []
    for _ in range(wl["setups"]):
        t = time.perf_counter()
        spark = session.start()
        warm = pipeline(spark, "warmup")
        full(warm)
        daily(warm, 1)
        setup_s.append(time.perf_counter() - t)
    shutil.rmtree(os.path.join(lake, "warmup"), ignore_errors=True)

    full_s, daily_s, checks, roots = [], [], [], {"full": [], "daily": []}
    failed = attempted = 0
    t_run = time.perf_counter()
    n_pass = 0
    while not n_pass or time.perf_counter() - t_run < args.seconds:
        p = pipeline(spark, "lake")
        for k in range(len(snaps)):
            kind = "daily" if k else "full"
            attempted += 1
            t = time.perf_counter()
            try:
                with _span(tracer, "bench.op", f"{kind}{k}") as s:
                    if k:
                        daily(p, k)
                    else:
                        full(p)
            except Exception as e:
                traceback.print_exc(file=sys.stderr)
                failed += 1
                checks.append({"op": f"{kind}{k}", "error": f"{type(e).__name__}: {e}"[:500]})
                break  # later updates build on this one
            (daily_s if k else full_s).append(time.perf_counter() - t)
            if tracer:
                roots[kind].append(s.sid)
            res = covid_gen.check_enterprise(snaps[k]["dir"], p.enterprise.read().toArrow())
            res["op"] = f"{kind}{k}"
            checks.append(res)
            if covid_gen.mismatches(res):
                failed += 1
        n_pass += 1
    rss = peak_rss_mb(spark)
    live_rows = p.enterprise.read().count() if p.enterprise.exists() else 0
    stored = du_bytes(os.path.join(lake, "lake"))
    session.stop()

    tail_p, tail_v = tail(daily_s) if daily_s else (100.0, float("nan"))
    nan = float("nan")
    e2e = {
        "setup_s": metric(statistics.median(setup_s), "s", len(setup_s), samples=setup_s),
        "full_refresh_s": metric(statistics.median(full_s) if full_s else nan, "s", len(full_s)),
        "daily_update_s.p50": metric(statistics.median(daily_s) if daily_s else nan, "s", len(daily_s)),
        "daily_update_s.tail": metric(tail_v, "s", len(daily_s), percentile=tail_p),
        "failed_frac": metric(failed / max(1, attempted), "ratio", attempted),
        "peak_rss_mb": metric(rss, "MB", 1),
        "stored_bytes_per_row": metric(stored / max(1, live_rows), "bytes", 1),
    }
    return {
        "e2e": e2e,
        "attempted": attempted,
        "failed": failed,
        "checks": checks,
        "roots": roots,
        "units": n_pass,
        "shape": {k: manifest[k] for k in ("locations", "days", "updates", "correction_share")}
        | {"changed_fact_rows": [s["changed_fact_rows"] for s in snaps],
           "csv_bytes": [s["csv_bytes"] for s in snaps]},
    }


# -- per-layer metrics ----------------------------------------------------------
def _unit(name: str) -> str:
    return "s" if name.endswith("_s") else "bytes" if name.endswith("_bytes") else "count"


def per_layer(res: dict, spans: list[dict], log, session: Session, manifest: dict | None) -> dict:
    import eventlog

    gs = session.get_spark_s
    out: dict[str, dict] = {"session.get_spark_s": metric(statistics.median(gs), "s", len(gs))}

    def family(prefix: str, fams: dict, n: int, skip: str) -> None:
        for layer, fam in sorted(fams.items()):
            if layer != skip:
                for k, v in fam.items():
                    out[f"{prefix}{layer}.{k}"] = metric(v / n, _unit(k), n)

    if isinstance(res["roots"], list):  # query workload: per timed pass
        n = res["units"]
        fams = eventlog.layer_family(spans, log, set(res["roots"]))
        empty = dict.fromkeys(eventlog.FAMILY, 0.0)
        build, exe = fams.pop("plans.build", empty), fams.pop("plans.exec", empty)
        out["trace.pass_s"] = res["e2e"]["pass_s"]
        for part, fam in (("build", build), ("exec", exe)):
            out[f"plans.{part}_s"] = metric(fam["wall_s"] / n, "s", n)
            out[f"plans.{part}_py4j_calls"] = metric(fam["py4j_calls"] / n, "count", n)
            out[f"plans.{part}_jobs"] = metric(fam["jobs"] / n, "count", n)
        total = build["wall_s"] + exe["wall_s"]
        out["plans.build_share"] = metric(build["wall_s"] / total if total else 0.0, "ratio", n)
        busy = exe["task_run_s"] / (exe["wall_s"] * nproc()) if exe["wall_s"] else 1.0
        out["plans.exec_idle_frac"] = metric(1.0 - busy, "ratio", n)
        for k in ("jobs", *eventlog.JOB_METRICS):
            out[f"plans.{k}"] = metric((build[k] + exe[k]) / n, _unit(k), n)
        family("", fams, n, skip="bench.pass")
        return out

    # covid: per full refresh and per daily update
    snaps = manifest["snapshots"]
    updates = snaps[1:]
    for kind, roots in res["roots"].items():
        if not roots:
            continue
        n, roots = len(roots), set(roots)
        fams = eventlog.layer_family(spans, log, roots)
        family(f"{kind}.", fams, n, skip="bench.op")
        keep = eventlog.subtree(spans, roots)
        calls: dict[str, float] = {}
        for s in keep.values():
            if s["layer"] == "plans.covid" and s["label"].startswith("CovidPipeline."):
                name = s["label"].split(".", 1)[1]
                calls[name] = calls.get(name, 0.0) + s["t1"] - s["t0"]
        for name, total in calls.items():
            out[f"{kind}.plans.covid.{name}_s"] = metric(total / n, "s", n)
        commits = sum(1 for s in keep.values() if s["layer"] == "operators.merge"
                      and s["label"].rsplit(".", 1)[-1] in MERGE_COMMITS
                      and keep.get(s["parent"], {}).get("layer") != "operators.merge")
        out[f"{kind}.operators.merge.commits"] = metric(commits / n, "count", n)
        if kind == "full":
            changed, csv_in = snaps[0]["fact_rows"], snaps[0]["csv_bytes"]
        else:
            changed = statistics.mean(s["changed_fact_rows"] for s in updates)
            csv_in = statistics.mean(p["csv_bytes"] + s["csv_bytes"] for p, s in zip(snaps, updates))
        written = fams.get("operators.merge", {}).get("output_rows", 0.0)
        out[f"{kind}.operators.merge.rows_written_per_changed_row"] = metric(written / n / changed, "ratio", n)
        out[f"{kind}.sources.csv_bytes_read_per_csv_byte"] = metric(
            eventlog.csv_bytes_under(spans, log, roots) / n / csv_in, "ratio", n)
    return out


# -- inputs ---------------------------------------------------------------------
def make_inputs(name: str, wl: dict, seed: int) -> str:
    """Generate the workload's inputs for ``seed`` once (untimed)."""
    data_root = os.path.join(WORK, "data")
    data_dir = os.path.join(data_root, f"{name}-{seed}")
    if os.path.exists(os.path.join(data_dir, ".done")):
        return data_dir
    if os.path.isdir(data_root):  # keep one input set per workload on disk
        for d in os.listdir(data_root):
            if d.startswith(f"{name}-"):
                shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)
    if wl["kind"] == "queries":
        import gen_tables

        gen_tables.write_tables(data_dir, wl["sf"], seed)
    else:
        import covid_gen

        covid_gen.write_snapshots(data_dir, wl["locations"], wl["days"], wl["updates"], seed)
    open(os.path.join(data_dir, ".done"), "w").close()
    return data_dir


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, "fsc_etl_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    run_id = f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    tmp = os.path.join(WORK, "tmp")
    for d in (run_dir, tmp, os.path.join(WORK, "spark-local"), os.path.join(WORK, "results")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # launcher JVM: no perf-data file
    import tempfile

    tempfile.tempdir = tmp
    host = {"nproc": nproc(), "load1_start": load1(), "seed": args.seed, "workload": args.workload,
            "seconds": args.seconds, "trace": args.trace}

    data_dir = make_inputs(args.workload, wl, args.seed)
    host["inputs_s"] = time.perf_counter() - t_start
    # Fixture-trained oracles are generated per checked query from the
    # generated tables (check_queries); point the engine's eager training
    # at no fixture so it neither trains every such oracle nor reads a
    # machine-wide test-data path.
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = os.path.join(WORK, "no-fixture")
    sys.path.insert(0, ROOT)
    # Import every plan module, the pipeline's too, before instrumenting.
    import __spark_entry__  # noqa: F401
    import fsc_etl_spark.plans.covid  # noqa: F401

    tracer = None
    eventlog_dir = None
    if args.trace:
        import spans

        tracer = spans.Tracer()
        tracer.instrument()
        eventlog_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(eventlog_dir, exist_ok=True)
    session = Session(run_dir, eventlog_dir, tracer)
    try:
        runner = run_queries if wl["kind"] == "queries" else run_covid
        res = runner(wl, args, data_dir, session, tracer)
    finally:
        session.close()
    host["load1_end"] = load1()
    host["wall_s"] = time.perf_counter() - t_start

    report = {"host": host, "shape": res["shape"], "check_s": res.get("check_s"),
              "op_s_by_query": res.get("op_s_by_query"), "attempted": res["attempted"], "failed": res["failed"],
              "checks": res["checks"], "end_to_end": res["e2e"]}
    if tracer:
        import eventlog

        span_rows = [vars(s) for s in tracer.spans]
        tracer.dump(os.path.join(WORK, "results", f"{run_id}.spans"))
        log = eventlog.parse_dir(eventlog_dir)
        manifest = None
        if wl["kind"] == "covid":
            with open(os.path.join(data_dir, "manifest.json")) as f:
                manifest = json.load(f)
        report["per_layer"] = per_layer(res, span_rows, log, session, manifest)
        report["tracing_overhead_frac"] = tracing_overhead(report)
    with open(os.path.join(WORK, "results", f"{run_id}.json"), "w") as f:
        json.dump(report, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    wanted = PER_LAYER if args.trace else END_TO_END
    source = report["per_layer"] if args.trace else report["end_to_end"]
    if wl["kind"] == "queries":
        metrics = {k: {"value": source[k]["value"], "unit": wanted[k]} for k in wanted}
    else:  # the covid workload reports its own metric set
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in source.items()}
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


def tracing_overhead(report: dict) -> float | None:
    """Traced pass time over the median untraced one recorded in this
    work dir for the same workload, shape and run length, minus one
    (None if none is recorded)."""
    e2e, host = report["end_to_end"], report["host"]
    key = "pass_s" if "pass_s" in e2e else "daily_update_s.p50"
    base = []
    results = os.path.join(WORK, "results")
    for fn in os.listdir(results):
        if not fn.endswith(".json"):
            continue
        with open(os.path.join(results, fn)) as f:
            rep = json.load(f)
        h = rep["host"]
        if (h["workload"], h["seconds"], h["trace"], rep["shape"]) == (host["workload"], host["seconds"], 0,
                                                                       report["shape"]):
            base.append(rep["end_to_end"][key]["value"])
    if not base:
        return None
    return e2e[key]["value"] / statistics.median(base) - 1.0


if __name__ == "__main__":
    sys.exit(main())
