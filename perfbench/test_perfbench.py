"""Checks of the benchmark itself.

    python3 -m pytest perfbench -q                 # fast checks only
    PERFBENCH_SLOW=1 python3 -m pytest perfbench -q  # + traced runs (~6 min)

The slow checks run ``run.py`` as a subprocess from the repository
root: two traced runs of one seed (span accounting and repeatable
counts) and the negative control (a dropped mart row must trip the gate).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import feed as feed_mod  # noqa: E402
import run  # noqa: E402

slow = pytest.mark.skipif(not os.environ.get("PERFBENCH_SLOW"),
                          reason="set PERFBENCH_SLOW=1 to run the traced benchmark runs")
SEED = 7


def _files(root):
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as f:
            out[name] = f.read()
    return out


def test_feed_is_deterministic(tmp_path):
    a = feed_mod.generate(str(tmp_path / "a"), 3, 2000, 2)
    b = feed_mod.generate(str(tmp_path / "b"), 3, 2000, 2)
    assert _files(a.root) == _files(b.root)
    c = feed_mod.generate(str(tmp_path / "c"), 4, 2000, 2)
    assert _files(a.root) != _files(c.root)


def test_feed_formats(tmp_path):
    from etl_pipeline_for_detection_banking_fraud_spark.sources.seed_dml import parse_seed_dml
    from etl_pipeline_for_detection_banking_fraud_spark.sources.xlsx import (
        _EXCEL_EPOCH, _records, read_xlsx_rows)

    feed = feed_mod.generate(str(tmp_path), 5, 2000, 2)
    parsed = parse_seed_dml(feed.ddl)
    assert [len(parsed[t]) for t in ("cards", "accounts", "clients")] == [
        len(feed.cards), len(feed.accounts), len(feed.clients)]
    assert any(c["patronymic"] is None for c in parsed["clients"])
    assert any(c["passport_valid_to"] is None for c in parsed["clients"])

    day = feed.days[1]
    raw = read_xlsx_rows(day.blacklist)
    assert raw[-1] == [None, None]                       # trailing all-NULL rows
    bl = _records(day.blacklist, ["date", "passport"])
    assert [(_EXCEL_EPOCH + dt.timedelta(days=r["date"]), r["passport"]) for r in bl] \
        == feed.blacklist[1]
    assert feed.blacklist[1][:len(feed.blacklist[0])] == feed.blacklist[0]   # cumulative
    terms = _records(day.terminals, ["terminal_id", "terminal_type", "terminal_city",
                                     "terminal_address"])
    assert [tuple(r.values()) for r in terms] == feed.terminals[1]
    assert all("\u0400" <= r["terminal_city"][0] <= "\u04ff" for r in terms)   # Cyrillic
    # SCD2 by day 1: one terminal added, one dropped, one address and one city change
    before, after = ({t[0]: t for t in feed.terminals[d]} for d in (0, 1))
    assert len(after.keys() - before.keys()) == 1 and len(before.keys() - after.keys()) == 1
    assert sum(before[k] != after[k] for k in before.keys() & after.keys()) == 2

    with open(day.transactions, encoding="utf-8") as f:
        header, first = f.readline(), f.readline()
    assert header.startswith("transaction_id;transaction_date;amount;")
    assert "," in first.split(";")[2] and first.split(";")[1].startswith("2021-03-02")

    rules = {(p.rule, p.positive) for p in feed.planted}
    for rule in (feed_mod.EVENT_PASSPORT, feed_mod.EVENT_CONTRACT,
                 feed_mod.EVENT_CITIES, feed_mod.EVENT_AMOUNT):
        assert {(rule, True), (rule, False)} <= rules


def test_fraud_mix_follows_the_reference(tmp_path):
    """A 3-day reference-scale feed grows the blacklist as the reference
    does and, through the DuckDB oracle, gives a mart near its rule-1/2
    counts (the bad clients and accounts come in whole-card steps)."""
    import checks

    feed = feed_mod.generate(str(tmp_path / "feed"), 1, run.REF_ROWS, 3)
    assert [len(b) for b in feed.blacklist] == [7, 15, 24]
    con = checks.oracle_replay(feed, 3, str(tmp_path / "spill"))
    mart = dict(con.sql("SELECT event_type, count(*) FROM mart GROUP BY 1").fetchall())
    for rule in (feed_mod.EVENT_PASSPORT, feed_mod.EVENT_CONTRACT):
        assert abs(mart[rule] / feed_mod.REF_MART[rule] - 1) < 0.35, mart


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == run.PER_LAYER
    assert [m["unit"] for m in spec["per_layer"]] == [run.unit_of(m) for m in run.PER_LAYER]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert all(w["name"] in run.WORKLOADS for w in spec["workloads"])


def _run(*args) -> dict:
    cmd = [sys.executable, "perfbench/run.py", *args]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _trace(workload) -> dict:
    with open(os.path.join(ROOT, ".perfbench_work", f"trace-{workload}-{SEED}.json")) as f:
        return json.load(f)


@slow
def test_traced_runs_account_for_each_day_and_repeat_their_counts():
    workload = "daily_ref_faithful"
    traces = []
    for _ in range(2):
        result = _run("--workload", workload, "--seed", str(SEED), "--seconds", "10",
                      "--trace", "1")
        assert result["correct"], result
        assert set(run.PER_LAYER) <= set(result["metrics"])
        traces.append(_trace(workload))

    # each timed day: child spans + their bookkeeping + self time == the
    # day span, and the day span matches the day's wall time measured
    # outside the tracer
    t = traces[0]
    spans = t["spans"]
    days = [s for s in spans if s["name"] == "pipeline.day"][1:]
    assert len(days) == len(t["day_times"])
    for day, wall in zip(days, t["day_times"]):
        kids = [s for s in spans if s["parent"] == day["id"]]
        dur = day["end"] - day["start"]
        self_s = dur - sum(k["end"] - k["start"] + k["book"] for k in kids)
        assert self_s >= 0
        assert abs(dur - wall) <= 0.01 + 0.01 * wall, (dur, wall)
        ends = sorted((k["start"], k["end"]) for k in kids)
        assert all(a[1] <= b[0] for a, b in zip(ends, ends[1:])), "child spans overlap"

    counts = [{k: v for k, v in tr["layers"].items()
               if k.rsplit(".", 1)[-1] in ("jobs", "files", "bytes", "tasks", "failed_tasks",
                                           "exchanges")} for tr in traces]
    differing = sorted(k for k in counts[0] if counts[0][k] != counts[1].get(k))
    assert not differing, f"counts that do not repeat: {differing}"


@slow
def test_negative_control_trips_the_gate():
    result = _run("--workload", "daily_ref_faithful", "--seed", str(SEED), "--seconds", "10",
                  "--trace", "0", "--drop-mart-row")
    assert not result["correct"] and result["failed"] > 0
