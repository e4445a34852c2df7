"""In-memory spans around the engine's layer boundaries.

The wrappers are installed from the benchmark's own code (the package is
not modified). Each span records its name, start, end and parent, and
runs under its own Spark job group, so the status tracker later gives
the jobs, tasks and failed tasks it caused. Warehouse-writing spans also
record the files and bytes that appeared under their table directory.

DataFrames are lazy: a span around ``fraud_rules.rule*`` or
``scd2.apply_increment`` would time only plan building. Stage time
therefore comes from ``DailyBatch._audited_stage``, the pipeline's one
per-stage hook; the actions outside any stage get their own wrappers
(``Warehouse.append_mart``, ``pipeline.flush_meta``,
``DailyBatch.clear_stg_tables``).
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

# stage name passed to _audited_stage -> (layer, table directory it writes)
STAGES = {
    "stg_transactions": ("csv_source", None),
    "stg_passport_blacklist": ("xlsx", None),
    "stg_terminals": ("xlsx", None),
    "dwh_fact_passport_blacklist": ("warehouse", "dwh_fact_passport_blacklist"),
    "dwh_fact_transactions": ("warehouse", "dwh_fact_transactions"),
    "dwh_dim_terminals_hist": ("scd2", "dwh_dim_terminals_hist"),
    "REP_FRAUD_passport": ("fraud_rules", None),
    "REP_FRAUD_contract": ("fraud_rules", None),
    "REP_FRAUD_diff_cities": ("fraud_rules", None),
    "REP_FRAUD_attempt_amount": ("fraud_rules", None),
    "REP_FRAUD_rules": ("fraud_rules", None),
}
DAY = "pipeline.day"
MART = "warehouse.rep_fraud"
AUDIT = "audit.meta_loading"


def _tree_files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:  # removed between listing and stat
                pass
    return out


class Tracer:
    """Spans kept in memory; ``resolve_counts()`` reads Spark job ids once the
    work is done, and ``dump`` writes everything out."""

    def __init__(self):
        self.sc = None          # set by bind() once the session exists
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str, watch: str | None = None):
        """Time the block as span ``name``. ``watch`` names a directory
        whose new files and bytes the span is charged with; the walk
        before and after is recorded as the span's ``book`` time so the
        parent's self time excludes it."""
        t0 = time.perf_counter()
        before = _tree_files(watch) if watch else None
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "group": f"perfbench-{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc._jsc.clearJobGroup()
            if watch:
                after = _tree_files(watch)
                new = [p for p, n in after.items() if before.get(p) != n]
                rec["files"] = len(new)
                rec["bytes"] = sum(after[p] for p in new)
            rec["book"] = (rec["start"] - t0) + (time.perf_counter() - rec["end"])

    # -- wrappers -------------------------------------------------------------

    def install(self) -> None:
        """Wrap the pipeline's stage hook and its out-of-stage actions."""
        from etl_pipeline_for_detection_banking_fraud_spark import pipeline
        from etl_pipeline_for_detection_banking_fraud_spark.sources.warehouse import Warehouse

        tracer = self
        batch_cls = pipeline.DailyBatch
        run_day, stage = batch_cls.run_day, batch_cls._audited_stage
        clear, flush = batch_cls.clear_stg_tables, pipeline.flush_meta
        append_mart = Warehouse.append_mart

        def traced_run_day(self, *a, **kw):
            with tracer.span(DAY):
                return run_day(self, *a, **kw)

        @contextlib.contextmanager
        def traced_stage(self, name, date_global):
            layer, table = STAGES.get(name, ("pipeline", None))
            watch = os.path.join(self.wh.root, table) if table else None
            with tracer.span(f"{layer}.{name}", watch=watch):
                with stage(self, name, date_global):
                    yield

        def traced_clear(self, *a, **kw):
            with tracer.span(AUDIT, watch=os.path.join(self.wh.root, "meta_loading")):
                return clear(self, *a, **kw)

        def traced_flush(wh, *a, **kw):
            with tracer.span(AUDIT, watch=os.path.join(wh.root, "meta_loading")):
                return flush(wh, *a, **kw)

        def traced_append_mart(self, df, table="rep_fraud"):
            with tracer.span(MART, watch=os.path.join(self.root, table)):
                return append_mart(self, df, table)

        batch_cls.run_day = traced_run_day
        batch_cls._audited_stage = traced_stage
        batch_cls.clear_stg_tables = traced_clear
        pipeline.flush_meta = traced_flush
        Warehouse.append_mart = traced_append_mart

    # -- counts ---------------------------------------------------------------

    def resolve_counts(self) -> None:
        """Jobs, tasks and failed tasks per span (exclusive of child
        spans, which run under their own group). A stage id is counted
        once, for the first span whose job ran it."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        seen: set[int] = set()
        for rec in self.spans:
            jobs = sorted(st.getJobIdsForGroup(rec["group"]))
            tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    if s in seen:
                        continue
                    seen.add(s)
                    si = st.getStageInfo(s)
                    if si is not None:
                        tasks += si.numCompletedTasks + si.numFailedTasks
                        failed += si.numFailedTasks
            rec.update(own_jobs=len(jobs), own_tasks=tasks, own_failed=failed)

    # -- aggregation ----------------------------------------------------------

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def inclusive(self, rec: dict, key: str) -> int:
        return rec.get(key, 0) + sum(self.inclusive(c, key) for c in self.children(rec))

    def named(self, name: str, under: dict | None = None) -> list[dict]:
        """Spans called ``name`` (below ``under`` if given), outermost only:
        a span nested in a same-named span is already inside its time."""
        ids = None
        if under is not None:
            ids, todo = set(), [under]
            while todo:
                for c in self.children(todo.pop()):
                    ids.add(c["id"])
                    todo.append(c)
        by_id = {s["id"]: s for s in self.spans}
        return [s for s in self.spans if s["name"] == name
                and (ids is None or s["id"] in ids)
                and not (s["parent"] is not None and by_id[s["parent"]]["name"] == name)]

    def day_metrics(self, day: dict) -> dict[str, float]:
        """One day's per-layer figures from its span subtree."""
        out: dict[str, float] = {}
        names = {s["name"] for s in self.spans if s["parent"] == day["id"]}
        for name in names | {MART}:
            spans = self.named(name, under=day)
            if not spans:
                continue
            out[f"{name}.s"] = sum(s["end"] - s["start"] for s in spans)
            out[f"{name}.jobs"] = sum(self.inclusive(s, "own_jobs") for s in spans)
            if any("files" in s for s in spans):
                out[f"{name}.files"] = sum(s.get("files", 0) for s in spans)
                out[f"{name}.bytes"] = sum(s.get("bytes", 0) for s in spans)
        kids = self.children(day)
        out[f"{DAY}.s"] = day["end"] - day["start"]
        out[f"{DAY}.self_s"] = out[f"{DAY}.s"] - sum(
            (c["end"] - c["start"]) + c["book"] for c in kids)
        out[f"{DAY}.jobs"] = self.inclusive(day, "own_jobs")
        out[f"{DAY}.tasks"] = self.inclusive(day, "own_tasks")
        out[f"{DAY}.failed_tasks"] = self.inclusive(day, "own_failed")
        return out

    def dump(self) -> list[dict]:
        return [{k: v for k, v in s.items() if k != "group"} for s in self.spans]


def median_by_key(rows: list[dict]) -> dict[str, float]:
    keys = sorted({k for r in rows for k in r})
    return {k: statistics.median([r.get(k, 0) for r in rows]) for k in keys}
