#!/usr/bin/env python3
"""Daily-batch fraud benchmark.

    python3 perfbench/run.py --workload daily_ref_faithful --seed 1 --seconds 10 --trace 0

Run from the repository root. One Python process drives ``local[N]``
(N = the CPUs this process may use) through the engine's public entry
points: ``DailyBatch.run_day`` for the daily workloads and
``plans.queries_map()`` for the catalog. Inputs are generated from
``--seed`` under ``.perfbench_work/`` before anything is timed.

Workloads:

- ``daily_ref_faithful``: reference scale (~15.7k tx/day, 195 cards, 150
  terminals), default ``DailyBatch`` (faithful: every day re-scans the
  full history). Day 0 is the untimed warm-up; ``--seconds / 10`` days
  (at least 2) follow it, timed.
- ``daily_bulk_incremental``: 300k tx/day, cards scaled with rows,
  ``DailyBatch(incremental=True, atomic=True)``; 3 timed days. A run
  takes ~4 minutes, so it is not listed in BENCHMARK.json.
- ``catalog_sf0.1``: 14 of the 15 headline queries of ``bench.py`` over
  generated sf0.1-sized tables, each forced with a ``noop`` sink: a
  warm-up pass, then whole passes until ``--seconds`` have passed.

Every output is checked outside the timed regions (``checks.py``).
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` - the end-to-end metrics with ``--trace 0``,
the per-layer metrics of the traced run with ``--trace 1``. Lines
before it report every metric by name and unit. ``--trace 1`` also
writes every span to ``.perfbench_work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

# bench.py's 15 HEADLINE queries less groupby_agg: on sf0.1-sized data
# its sum_disc_price disagrees with its DuckDB oracle in the last double
# digit on every seed tried (a per-row double -> DECIMAL(28,10) cast that
# Spark rounds from the shortest decimal repr and DuckDB from the exact
# binary value), so the check would fail every run. Re-add it once the
# query or its oracle computes the product in decimal.
HEADLINE = [
    "scan_filter_project", "join_chain", "topk_per_group",
    "timeband_window", "decreasing_triple", "asof_join", "scd2_apply",
    "sessionize", "first_per_group", "tpch_q3_shape", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "text_quality", "sim_cosine_topk",
]
HERE = os.path.dirname(os.path.abspath(__file__))
REF_ROWS = 15_700
WORKLOADS = {
    "daily_ref_faithful": {"rows": REF_ROWS, "incremental": False},
    "daily_bulk_incremental": {"rows": 300_000, "incremental": True, "timed_days": 3},
    "catalog_sf0.1": {},
}
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "work_s": "s", "peak_rss_mb": "MB"}
DAY_LAYERS = [
    ("csv_source.stg_transactions", ("s", "jobs")),
    ("xlsx.stg_passport_blacklist", ("s", "jobs")),
    ("xlsx.stg_terminals", ("s", "jobs")),
    ("warehouse.dwh_fact_passport_blacklist", ("s", "jobs", "files", "bytes")),
    ("warehouse.dwh_fact_transactions", ("s", "jobs", "files", "bytes")),
    ("warehouse.rep_fraud", ("s", "jobs", "files", "bytes")),
    ("scd2.dwh_dim_terminals_hist", ("s", "jobs", "files", "bytes")),
    ("fraud_rules.REP_FRAUD_passport", ("s", "jobs")),
    ("fraud_rules.REP_FRAUD_contract", ("s", "jobs")),
    ("fraud_rules.REP_FRAUD_diff_cities", ("s", "jobs")),
    ("fraud_rules.REP_FRAUD_attempt_amount", ("s", "jobs")),
    ("audit.meta_loading", ("s", "jobs", "files")),
    ("pipeline.day", ("self_s", "jobs", "tasks", "failed_tasks")),
]
# incremental mode runs the four rules as one stage
INCREMENTAL_ONLY = ["fraud_rules.REP_FRAUD_rules.s", "fraud_rules.REP_FRAUD_rules.jobs"]
PER_LAYER = (
    [f"{layer}.{m}" for layer, ms in DAY_LAYERS for m in ms]
    + ["warehouse.history_scan.s", "session.get_spark.s", "seed_dml.load_seed_dims.s"]
    + [f"plans.{q}.{m}" for q in HEADLINE for m in ("s", "jobs", "exchanges")]
)


def unit_of(metric: str) -> str:
    last = metric.rsplit(".", 1)[-1]
    return "s" if last in ("s", "self_s") else "B" if last == "bytes" else "count"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--drop-mart-row", action="store_true",
                    help="negative control: drop one mart row before the check")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(TZ="UTC", TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                      PYSPARK_PYTHON=sys.executable,
                      SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    time.tzset()


def start_spark(work: str):
    """The JVM's heap is fixed at 2 GB and touched at start (-Xms = -Xmx,
    AlwaysPreTouch): G1 otherwise grows the heap by its measured GC time,
    which put 1.6-2.6 GB of run-to-run noise into ``peak_rss_mb``. The
    metric then moves with the memory outside the Java heap: Python,
    its workers, and the JVM's off-heap and native memory."""
    from etl_pipeline_for_detection_banking_fraud_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    return get_spark(
        app_name="perfbench", master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
                " -Xms2g -XX:+AlwaysPreTouch",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })


def descendants(root: int) -> set[int]:
    """Process ids of every process below ``root``."""
    parent = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            pass
    tree, todo = set(), [root]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(c for c, pp in parent.items() if pp == p and c not in tree)
    return tree - {root}


def stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin (it exits on EOF, and its
    Python workers with it) and wait until every child process is gone."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    children = descendants(gw.proc.pid)
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{p}") for p in children):
        if time.monotonic() > deadline:
            raise RuntimeError(f"child processes still running: {sorted(children)}")
        time.sleep(0.1)


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and all its
    descendants: Python, the JVM and any Python workers."""
    kb = 0
    for p in descendants(os.getpid()) | {os.getpid()}:
        try:
            with open(f"/proc/{p}/status") as f:
                kb += next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return kb / 1024


def cpu_jiffies() -> tuple[int, int]:
    """The machine's stolen and total CPU time so far, in clock ticks."""
    with open("/proc/stat") as f:
        jiffies = [int(x) for x in f.readline().split()[1:]]
    return jiffies[7], sum(jiffies)


def steal_report(before, after) -> tuple:
    """Report line: the share of the machine's CPU time stolen by the
    hypervisor (virtual CPUs waiting for a host CPU) while the work was
    timed, a sign of a disturbed run."""
    (s0, t0), (s1, t1) = before, after
    return ("steal_share", (s1 - s0) / max(1, t1 - t0), "1", "of the machine's CPU time, while timed")


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class NullTracer:
    """Stand-in for ``Tracer`` when tracing is off."""

    def bind(self, spark):
        pass

    def span(self, name, watch=None):
        return contextlib.nullcontext()


# -- daily workloads ---------------------------------------------------------------

def new_batch(spark, root, dims, incremental):
    from etl_pipeline_for_detection_banking_fraud_spark.pipeline import DailyBatch

    return DailyBatch(spark, root, dims, incremental=incremental, atomic=incremental)


def run_day(batch, day) -> float:
    t = time.perf_counter()
    batch.run_day(day.transactions, day.blacklist, day.terminals)
    return time.perf_counter() - t


def run_daily(args, cfg, work, tracer, out):
    import checks
    import feed as feed_mod

    timed_days = cfg.get("timed_days", max(2, round(args.seconds / 10)))
    feed = feed_mod.generate(os.path.join(work, "feed"), args.seed, cfg["rows"], timed_days + 1)

    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = start_spark(work)
    tracer.bind(spark)
    try:
        from etl_pipeline_for_detection_banking_fraud_spark.sources.seed_dml import load_seed_dims

        with tracer.span("seed_dml.load_seed_dims"):
            dims = load_seed_dims(spark, feed.ddl)
        # day 0 is the untimed warm-up; the timed days continue its warehouse
        batch = new_batch(spark, os.path.join(work, "warehouse"), dims, cfg["incremental"])
        run_day(batch, feed.days[0])
        setup_s = time.perf_counter() - t0
        jiffies = cpu_jiffies()
        times = [run_day(batch, day) for day in feed.days[1:]]
        steal = steal_report(jiffies, cpu_jiffies())
        peak = tree_peak_rss_mb()

        if args.trace:
            with tracer.span("warehouse.history_scan"):
                batch.wh.read_transactions().write.format("noop").mode("overwrite").save()
            out["layers"] = _day_layers(tracer, timed_from=1)
            out["layers"].update(_catalog_companion(spark, tracer, work, args.seed))

        reference = None
        if cfg["incremental"]:
            reference = new_batch(spark, os.path.join(work, "faithful"), dims, False)
            for day in feed.days:
                run_day(reference, day)
        failed_days, notes = checks.check_daily(
            batch.wh, feed, os.path.join(work, "duckdb"), args.drop_mart_row,
            reference_wh=reference.wh if reference else None)
        stored = du(batch.wh.root) / feed.feed_bytes
        mix = fraud_mix(batch.wh, feed)
    finally:
        stop_spark(spark)

    timed_tx = sum(len(t) for t in feed.tx[1:])
    out.update(
        attempted=len(feed.days), failed=len(failed_days), notes=notes,
        e2e={"setup_s": setup_s, "op_p50_s": statistics.median(times),
             "work_s": sum(times), "peak_rss_mb": peak},
        report=[("setup_s", setup_s, "s", "session start, seed dims, warm-up day 0"),
                ("tx_per_s", timed_tx / sum(times), "1/s", f"{timed_tx} tx over {len(times)} days"),
                ("day_p50_s", statistics.median(times), "s",
                 f"n={len(times)} days; too few for a tail percentile"),
                ("stored_bytes_per_feed_byte", stored, "B/B", f"feed {feed.feed_bytes} B"),
                ("peak_rss_mb", peak, "MB", "Python + JVM + workers, sum of VmHWM"), steal],
        day_times=times, mix=mix)


def fraud_mix(wh, feed) -> list[str]:
    """Mart rows each day added, per rule, and the blacklist's size, next
    to the reference's 3-day replay (``feed.REF_*``)."""
    import feed as feed_mod

    rules = {feed_mod.EVENT_PASSPORT: "passport", feed_mod.EVENT_CONTRACT: "contract",
             feed_mod.EVENT_CITIES: "cities", feed_mod.EVENT_AMOUNT: "amount"}
    added = {(r["report_dt"], r["event_type"]): r["count"]
             for r in wh.read("rep_fraud").groupBy("report_dt", "event_type").count().collect()}
    lines = []
    for d, day in enumerate(feed.days):
        mart = ", ".join(f"{short} {added.get((day.date, ev), 0)}" for ev, short in rules.items())
        lines.append(f"day {d}: {len(feed.tx[d])} tx, blacklist {len(feed.blacklist[d])} rows,"
                     f" mart +{mart}")
    total = ", ".join(f"{short} {sum(v for (_, e), v in added.items() if e == ev)}"
                      for ev, short in rules.items())
    ref = ", ".join(f"{rules[ev]} {n}" for ev, n in feed_mod.REF_MART.items())
    blacklist = "/".join(str(sum(feed_mod.REF_BLACKLIST_ADDS[:k + 1]))
                         for k in range(feed_mod.REF_DAYS))
    lines.append(f"mart after {len(feed.days)} days: {total} over {sum(map(len, feed.tx))} tx"
                 f" (reference, 3 days: {ref} over {feed_mod.REF_TX} tx, blacklist {blacklist})")
    return lines


def _day_layers(tracer, timed_from: int) -> dict:
    from tracer import DAY, median_by_key

    days = tracer.named(DAY)[timed_from:]
    tracer.resolve_counts()
    layers = median_by_key([tracer.day_metrics(d) for d in days])
    for name in ("session.get_spark", "seed_dml.load_seed_dims", "warehouse.history_scan"):
        spans = tracer.named(name)
        if spans:
            layers[f"{name}.s"] = spans[0]["end"] - spans[0]["start"]
    return layers


# -- catalog workload --------------------------------------------------------------

def run_query(spark, qmap, name, data):
    qmap[name](spark, data).write.format("noop").mode("overwrite").save()


def run_catalog(args, cfg, work, tracer, out):
    import catalog
    import checks

    data = catalog.generate(os.path.join(work, "catalog"), args.seed)
    spark = oracle = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = start_spark(work)
        tracer.bind(spark)
        from etl_pipeline_for_detection_banking_fraud_spark.plans import queries_map

        qmap = queries_map()
        for name in HEADLINE:       # warm-up pass
            try:
                run_query(spark, qmap, name, data)
            except Exception as e:  # noqa: BLE001 - a failing query is reported, not fatal
                print(f"warm-up {name}: {type(e).__name__}: {e}", file=sys.stderr)
        setup_s = time.perf_counter() - t0

        times: dict[str, list[float]] = {q: [] for q in HEADLINE}
        raised: dict[str, int] = {}
        passes, start, jiffies = 0, time.perf_counter(), cpu_jiffies()
        while passes == 0 or time.perf_counter() - start < args.seconds:
            for name in HEADLINE:
                t = time.perf_counter()
                try:
                    with tracer.span(f"plans.{name}"):
                        run_query(spark, qmap, name, data)
                except Exception:  # noqa: BLE001
                    raised[name] = raised.get(name, 0) + 1
                    continue
                times[name].append(time.perf_counter() - t)
            passes += 1
        steal = steal_report(jiffies, cpu_jiffies())
        peak = tree_peak_rss_mb()

        if args.trace:
            layers = _plans_layers(spark, tracer, qmap, data)
            _daily_companion(spark, tracer, work, args.seed)
            layers.update(_day_layers(tracer, timed_from=1))
            out["layers"] = layers

        # The DuckDB oracle answers in a child process while this one
        # collects every query's rows for the check.
        answers_path = os.path.join(work, "oracle.pickle")
        oracle = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "checks.py"), data, answers_path, *HEADLINE],
            env=dict(os.environ, PYTHONPATH=os.getcwd()))
        results = {}
        for name in HEADLINE:
            try:
                results[name] = qmap[name](spark, data).toPandas()
            except Exception as e:  # noqa: BLE001 - check_catalog reports it as not run
                print(f"check {name}: {type(e).__name__}: {e}", file=sys.stderr)
        if oracle.wait() != 0:
            raise RuntimeError(f"catalog oracle exited with {oracle.returncode}")
        with open(answers_path, "rb") as f:
            bad = checks.check_catalog(results, pickle.load(f))
    finally:
        if oracle is not None:
            oracle.kill()
            oracle.wait()
        if spark is not None:
            stop_spark(spark)

    execs = [t for ts in times.values() for t in ts]
    if not execs:
        raise RuntimeError(f"no catalog query ran: {raised}")
    attempted = len(execs) + sum(raised.values())
    failed = sum(raised.values()) + sum(len(times[q]) for q in bad)
    per_query = {q: statistics.median(ts) for q, ts in times.items() if ts}
    p90 = statistics.quantiles(execs, n=10)[8] if len(execs) > 1 else execs[0]
    out.update(
        attempted=attempted, failed=failed,
        notes=[f"{k}: {v}" for k, v in bad.items()] + [f"{k}: raised {v}x" for k, v in raised.items()],
        e2e={"setup_s": setup_s, "op_p50_s": statistics.median(execs),
             "work_s": sum(per_query.values()), "peak_rss_mb": peak},
        report=[("setup_s", setup_s, "s", "session start, warm-up pass"),
                ("catalog_s", sum(per_query.values()), "s",
                 f"sum of the {len(per_query)} per-query medians"),
                ("query_p50_s", statistics.median(execs), "s", f"n={len(execs)} executions"),
                ("query_p90_s", p90, "s", f"n={len(execs)} executions"),
                ("peak_rss_mb", peak, "MB", "Python + JVM + workers, sum of VmHWM"), steal]
        + [(f"query.{k}", v, "s", f"median of {len(times[k])}") for k, v in per_query.items()])


def _plans_layers(spark, tracer, qmap, data) -> dict:
    """Per-query median time and jobs, plus exchange counts from the
    executed (final, adaptive) plan, counted outside every span."""
    tracer.resolve_counts()
    rows = {}
    for name in HEADLINE:
        spans = tracer.named(f"plans.{name}")
        rows[f"plans.{name}.s"] = statistics.median(s["end"] - s["start"] for s in spans)
        rows[f"plans.{name}.jobs"] = statistics.median(
            tracer.inclusive(s, "own_jobs") for s in spans)
        rows[f"plans.{name}.exchanges"] = _exchanges(qmap[name](spark, data))
    return rows


def _exchanges(df) -> int:
    """Hash-partitioning exchanges of the executed plan (``bench.py``'s
    ``_plan_counts`` logic: execute, then count the final adaptive plan)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan().execute().count()
    plan = qe.executedPlan().toString().split("== Initial Plan ==")[0]
    return plan.count("Exchange hashpartitioning")


def _catalog_companion(spark, tracer, work, seed) -> dict:
    """Traced runs of a daily workload also time one catalog pass, so the
    ``plans`` layer is on record for every workload."""
    import catalog
    from etl_pipeline_for_detection_banking_fraud_spark.plans import queries_map

    data = catalog.generate(os.path.join(work, "catalog"), seed)
    qmap = queries_map()
    for name in HEADLINE:
        with tracer.span(f"plans.{name}"):
            run_query(spark, qmap, name, data)
    return _plans_layers(spark, tracer, qmap, data)


def _daily_companion(spark, tracer, work, seed) -> None:
    """Traced runs of the catalog workload also replay two
    reference-scale faithful days, so the pipeline layers are on record
    for every workload."""
    import feed as feed_mod
    from etl_pipeline_for_detection_banking_fraud_spark.sources.seed_dml import load_seed_dims

    feed = feed_mod.generate(os.path.join(work, "feed"), seed, REF_ROWS, 2)
    with tracer.span("seed_dml.load_seed_dims"):
        dims = load_seed_dims(spark, feed.ddl)
    batch = new_batch(spark, os.path.join(work, "warehouse"), dims, incremental=False)
    for day in feed.days:
        run_day(batch, day)
    with tracer.span("warehouse.history_scan"):
        batch.wh.read_transactions().write.format("noop").mode("overwrite").save()


# -- main --------------------------------------------------------------------------

def main(argv=None) -> int:
    args = parse_args(argv)
    cfg = WORKLOADS[args.workload]
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, HERE)
    from tracer import Tracer

    tracer = Tracer() if args.trace else NullTracer()
    if args.trace:
        tracer.install()
    out: dict = {}
    try:
        (run_catalog if args.workload.startswith("catalog") else run_daily)(
            args, cfg, work, tracer, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, value, unit, note in out["report"]:
        print(f"{name} = {value:.6g} {unit}  ({note})")
    ratio = out["failed"] / out["attempted"]
    print(f"ops_failed_ratio = {ratio:.6g}  ({out['failed']} of {out['attempted']} ops failed)")
    for n in out["notes"]:
        print(f"check: {n}")
    for line in out.get("mix", []):
        print(f"fraud mix: {line}")

    if args.trace:
        layers = out["layers"]
        names = [m for m in PER_LAYER + INCREMENTAL_ONLY if m in layers]
        metrics = {m: {"value": layers[m], "unit": unit_of(m)} for m in names}
        missing = [m for m in PER_LAYER if m not in layers]
        if missing:
            print(f"trace: not measured on this workload: {', '.join(missing)}")
        trace_path = os.path.join(os.getcwd(), ".perfbench_work",
                                  f"trace-{args.workload}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "e2e_traced": out["e2e"], "day_times": out.get("day_times"),
                       "layers": layers, "spans": tracer.dump()}, f, indent=1, default=str)
        for m in names:
            print(f"{m} = {layers[m]:.6g} {unit_of(m)}")
        print(f"traced e2e (for the tracing overhead): "
              + ", ".join(f"{k}={v:.6g}" for k, v in out["e2e"].items()))
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in out["e2e"].items()}
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
