"""Correctness gates, run outside every timed region.

- Daily replay: the warehouse (facts, SCD2 dimension, fraud mart) is
  matched value for value against the independent DuckDB oracle in
  ``tests/ref_oracle.py``, fed from the generator's own rows. Incremental
  mode is matched on a faithful replay's distinct hit set instead. Every
  planted positive must be in the mart and every boundary negative out.
- Catalog: each headline query's rows are matched against its
  ``oracle_sql`` entry with ``tests/test_oracle_parity.py``'s
  normalisation.

Each mismatch is charged to the day (or query) it belongs to, so the
caller can count failed operations.
"""

from __future__ import annotations

import collections
import datetime as dt

import pandas as pd

FACT_COLS = ["transaction_id", "transaction_date", "amount", "card_num",
             "oper_type", "oper_result", "terminal"]
HIST_COLS = ["terminal_id", "terminal_type", "terminal_city", "terminal_address",
             "effective_from", "effective_to", "deleted_flg"]
MART_COLS = ["event_dt", "passport", "fio", "phone", "event_type", "report_dt"]


def _norm(v):
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.replace(tzinfo=None)
    return v


def _bag(rows) -> collections.Counter:
    return collections.Counter(tuple(_norm(v) for v in r) for r in rows)


def _day(v) -> dt.date:
    v = _norm(v)
    return v.date() if isinstance(v, dt.datetime) else v


def oracle_replay(feed, n_days: int, spill_dir: str):
    """The DuckDB oracle's warehouse after the first ``n_days`` days. Its
    self-joins are quadratic per card, so memory is capped and DuckDB
    spills to ``spill_dir`` rather than exhausting the machine."""
    from tests import ref_oracle

    con = ref_oracle.make_oracle()
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{spill_dir}'")
    con.execute("SET max_temp_directory_size = '4GB'")
    frames = [pd.DataFrame(rows, columns=cols) for rows, cols in (
        (feed.cards, ["card_num", "account", "create_dt", "update_dt"]),
        (feed.accounts, ["account", "valid_to", "client", "create_dt", "update_dt"]),
        (feed.clients, ["client_id", "last_name", "first_name", "patronymic",
                        "date_of_birth", "passport_num", "passport_valid_to", "phone",
                        "create_dt", "update_dt"]))]
    ref_oracle.load_dims(con, *frames)
    for d in range(n_days):
        tx = pd.DataFrame(feed.tx[d], columns=FACT_COLS)
        tx["amount"] = tx["amount"].astype(str)
        bl = pd.DataFrame(feed.blacklist[d], columns=["dt", "passport"])
        term = pd.DataFrame(feed.terminals[d], columns=HIST_COLS[:4])
        ref_oracle.run_day(con, tx, bl, term, feed.days[d].date)
    return con


def check_daily(wh, feed, spill_dir: str, drop_mart_row: bool = False,
                reference_wh=None) -> tuple[set, list[str]]:
    """Match the replayed warehouse against the oracle. Returns the days
    with a mismatch and a description of each.

    With ``reference_wh`` (incremental mode) the mart's distinct hit set
    is matched against that faithful replay instead, as
    ``tests/test_incremental_rules.py`` does: at 300k tx/day the DuckDB
    oracle's per-card self-joins over the whole history spill tens of GB."""
    failed: set = set()
    notes: list[str] = []

    def spark_rows(w, table, cols):
        return list(w.read(table).select(*cols).toPandas().itertuples(index=False, name=None))

    mart = spark_rows(wh, "rep_fraud", MART_COLS)
    if drop_mart_row:          # negative control: the gate must trip
        mart = sorted(mart, key=repr)[1:]

    def compare(label, got, want, day_of):
        got, want = _bag(got), _bag(want)
        if got == want:
            return
        bad = list((got - want).items()) + list((want - got).items())
        failed.update(day_of(r) for r, _ in bad)
        notes.append(f"{label}: {len(bad)} row(s) differ, e.g. {bad[0][0]}")

    if reference_wh is not None:
        hit = lambda rows: {r[:5] for r in rows}  # noqa: E731  (report_dt dropped)
        compare("rep_fraud hit set", hit(mart),
                hit(spark_rows(reference_wh, "rep_fraud", MART_COLS)), lambda r: _day(r[0]))
        n_fact = wh.read_transactions().count()
        if n_fact != sum(map(len, feed.tx)):
            failed.add(feed.days[-1].date)
            notes.append(f"dwh_fact_transactions: {n_fact} rows")
    else:
        con = oracle_replay(feed, len(feed.days), spill_dir)
        duck = lambda sql: con.sql(sql).fetchall()  # noqa: E731
        compare("dwh_fact_transactions", spark_rows(wh, "dwh_fact_transactions", FACT_COLS),
                duck(f"SELECT {', '.join(FACT_COLS)} FROM fact_tx"), lambda r: _day(r[1]))
        compare("dwh_fact_passport_blacklist",
                spark_rows(wh, "dwh_fact_passport_blacklist", ["date", "passport"]),
                duck("SELECT dt, passport FROM fact_bl"), lambda r: _day(r[0]))
        compare("dwh_dim_terminals_hist", spark_rows(wh, "dwh_dim_terminals_hist", HIST_COLS),
                duck(f"SELECT {', '.join(HIST_COLS)} FROM hist"), lambda r: r[4])
        compare("rep_fraud", mart, duck(f"SELECT {', '.join(MART_COLS)} FROM mart"),
                lambda r: r[5])

    hits = {(r[4], r[1], _norm(r[0])) for r in mart}
    for p in feed.planted:
        if ((p.rule, p.passport, p.event_dt) in hits) != p.positive:
            failed.add(p.event_dt.date())
            notes.append(f"planted {'positive missing' if p.positive else 'negative present'}:"
                         f" {p.rule} / {p.why}")
    return failed, notes


def catalog_oracle(data_dir: str, names: list[str]) -> dict[str, tuple[list[str], list]]:
    """Each query's oracle answer over the tables in ``data_dir``: its
    lower-cased column names and its rows normalised as
    ``tests/test_oracle_parity.py`` does."""
    import duckdb

    from catalog import TABLES
    from etl_pipeline_for_detection_banking_fraud_spark.plans import oracle_sql_map
    from tests.test_oracle_parity import _pandas_rows

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    sqls = oracle_sql_map()
    out = {}
    for name in names:
        rel = con.sql(sqls[name])
        out[name] = ([c.lower() for c in rel.columns], _pandas_rows(rel.df()))
    return out


def check_catalog(results: dict, oracle: dict) -> dict[str, str]:
    """``results`` maps query name -> Spark pandas frame, ``oracle`` is
    ``catalog_oracle``'s answer. Returns the queries that disagree, with
    the reason."""
    from tests.test_oracle_parity import _pandas_rows

    bad = {}
    for name, (cols, want) in oracle.items():
        pdf = results.get(name)
        if pdf is None:
            bad[name] = "did not run"
        elif [c.lower() for c in pdf.columns] != cols:
            bad[name] = "column mismatch"
        elif (got := _pandas_rows(pdf)) != want:
            bad[name] = f"rows differ ({len(got)} vs oracle {len(want)})"
    return bad


if __name__ == "__main__":
    # python3 perfbench/checks.py DATA_DIR OUT.pickle QUERY... (repository
    # root on PYTHONPATH): write catalog_oracle's answer for the queries
    import pickle
    import sys

    with open(sys.argv[2], "wb") as f:
        pickle.dump(catalog_oracle(sys.argv[1], sys.argv[3:]), f)
