"""Deterministic reference-shaped daily feed for the benchmark.

Writes what the engine's daily batch consumes, in the formats FIXTURES.md
§1-§8 documents:

- ``transactions_DDMMYYYY.txt``: ``;``-separated CSV, header row,
  decimal-comma amounts, one calendar date per file;
- ``passport_blacklist_DDMMYYYY.xlsx``: cumulative since the first day,
  Excel-serial dates, trailing all-NULL rows;
- ``terminals_DDMMYYYY.xlsx``: full daily snapshot with Cyrillic cities,
  carrying the SCD2 add, drop, address-change and city-change cases
  (all by day 1, so a 2-day feed has them);
- ``ddl_dml.sql``: single-row ``insert into ... values (...)`` seed rows
  for cards, accounts and clients, some contracts and passports expiring
  inside the window.

Every fraud rule gets at least one planted positive and one boundary
negative (``Feed.planted``). The same ``(seed, rows_per_day, n_days)``
gives the same bytes. The generator also keeps the typed rows it wrote
(``Feed.tx`` etc.), so the correctness oracle is fed from the generator,
not from the engine's own readers.

    python3 perfbench/feed.py OUT_DIR --seed 1 --rows 15700 --days 8
"""

from __future__ import annotations

import argparse
import collections
import datetime as dt
import os
import zipfile
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np

START = dt.date(2021, 3, 1)
FAR_FUTURE = dt.date(2030, 1, 1)
EXCEL_EPOCH = dt.date(1899, 12, 30)

EVENT_PASSPORT = "blocked or expired passport"
EVENT_CONTRACT = "invalid contract"
EVENT_CITIES = "ops in diff cities less one hour"
EVENT_AMOUNT = "amount guessing"

CITIES = [
    "Москва", "Санкт-Петербург", "Новосибирск", "Екатеринбург", "Казань",
    "Нижний Новгород", "Челябинск", "Самара", "Омск", "Ростов-на-Дону",
    "Уфа", "Красноярск", "Воронеж", "Пермь", "Волгоград", "Краснодар",
    "Саратов", "Тюмень", "Тольятти", "Ижевск", "Барнаул", "Ульяновск",
    "Иркутск", "Хабаровск", "Ярославль", "Владивосток", "Махачкала",
    "Томск", "Оренбург", "Кемерово",
]
STREETS = [
    "ул. Ленина", "ул. Мира", "пр. Победы", "ул. Садовая", "ул. Школьная",
    "1-й Электрозаводский пер.", "ул. Гагарина", "наб. Речная",
]
LAST = ["Иванов", "Петров", "Сидоров", "Смирнов", "Кузнецов", "Попов",
        "Васильев", "Соколов", "Михайлов", "Новиков", "Фёдоров", "Морозов"]
FIRST = ["Иван", "Пётр", "Сергей", "Алексей", "Дмитрий", "Андрей",
         "Михаил", "Николай", "Олег", "Павел"]
PATRONYMIC = ["Иванович", "Петрович", "Сергеевич", "Алексеевич",
              "Дмитриевич", "Андреевич", None]
OPER_TYPES = ["PAYMENT", "WITHDRAW", "DEPOSIT"]
N_TERMINALS = 150
EMPTY_BLACKLIST_ROWS = 17
REJECT_SHARE = 0.1

# The fraud mix is derived from the reference's 3-day replay (faithful
# mode): 47,116 tx; a blacklist of 7 -> 15 -> 24 rows; a mart of 1100
# rows = 747 passport + 296 contract + 10 diff-cities + 47 amount. All
# 1043 rule-1/2 rows come from the third day's full-history scan
# (re-running that day's rules re-inserts exactly 1043), so the
# reference's passports and contracts go bad on its second day
# (valid_to 2021-03-02) and flag only the third day's transactions.
# Here a batch of clients and accounts goes bad on day 1 of every 3-day
# cycle, sized so that the next day's SUCCESS traffic of the batch is
# ``REF_MART`` scaled by rows per day; a 3-day faithful replay then
# reproduces the reference's mart. Every figure the generator yields is
# printed by ``run.py`` next to these.
REF_TX = 47_116
REF_DAYS = 3
REF_BLACKLIST_ADDS = (7, 8, 9)
REF_MART = {EVENT_PASSPORT: 747, EVENT_CONTRACT: 296, EVENT_CITIES: 10, EVENT_AMOUNT: 47}
# A card's transaction in a city other than its home city is a rule-3
# hit paired with the card's transactions of the hour around it: 3.2-4.0
# (mean 3.7) distinct hits per away transaction, measured on this
# generator at 80 tx per card per day, so the reference's 10 hits per
# 47,116 tx give the share of away transactions. Rule 4 is not steered:
# random traffic (10% REJECT, log-uniform amounts) yields 39-64 hits per
# 47k tx.
HITS_PER_AWAY = 3.7
TRAVEL = REF_MART[EVENT_CITIES] / REF_TX / HITS_PER_AWAY


@dataclass
class Day:
    date: dt.date
    transactions: str
    blacklist: str
    terminals: str


@dataclass
class Planted:
    """One planted case: a mart hit that must be present (``positive``)
    or must be absent (a boundary negative)."""

    rule: str
    passport: str
    event_dt: dt.datetime
    positive: bool
    why: str


@dataclass
class Feed:
    root: str
    ddl: str
    days: list[Day]
    cards: list[tuple]
    accounts: list[tuple]
    clients: list[tuple]
    tx: list[list[tuple]] = field(default_factory=list)          # per day
    blacklist: list[list[tuple]] = field(default_factory=list)   # per day
    terminals: list[list[tuple]] = field(default_factory=list)   # per day
    planted: list[Planted] = field(default_factory=list)

    @property
    def feed_bytes(self) -> int:
        paths = [self.ddl] + [p for d in self.days
                              for p in (d.transactions, d.blacklist, d.terminals)]
        return sum(os.path.getsize(p) for p in paths)


def _digits(rng: np.random.Generator, n: int, width: int, used: set) -> list[str]:
    out = []
    while len(out) < n:
        s = "".join(str(d) for d in rng.integers(0, 10, width))
        if s[0] != "0" and s not in used:
            used.add(s)
            out.append(s)
    return out


def _nearest(pool: list, target: float, weight) -> list:
    """Take from ``pool``, in its order, each candidate that brings the
    summed weight nearer to ``target``."""
    picked, total = [], 0.0
    for c in list(pool):
        if abs(total + weight(c) - target) < abs(total - target):
            picked.append(c)
            total += weight(c)
            pool.remove(c)
    return picked


def _amount(cents: int) -> str:
    return f"{cents // 100},{cents % 100:02d}"


# -- XLSX (stdlib zipfile; the subset sources/xlsx.py parses) -----------------

_CT = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
       '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
       '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
       '<Default Extension="xml" ContentType="application/xml"/>'
       '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
       '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
       '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
       '</Types>')
_RELS = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
         '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
         '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
         '</Relationships>')
_WB = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
       '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
       'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
       '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>')
_WB_RELS = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
            '</Relationships>')
_NS = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def write_xlsx(path: str, header: list[str], rows: list[tuple], empty_rows: int = 0) -> None:
    """One-sheet workbook: strings go to sharedStrings, numbers inline;
    ``empty_rows`` styled-but-empty rows trail the data, as in the
    reference's blacklist sheets."""
    shared: dict[str, int] = {}
    cols = "ABCDEFGHIJ"
    xml_rows = []
    for r, values in enumerate([tuple(header)] + list(rows), start=1):
        cells = []
        for c, v in enumerate(values):
            ref = f"{cols[c]}{r}"
            if v is None:
                continue
            if isinstance(v, str):
                idx = shared.setdefault(v, len(shared))
                cells.append(f'<c r="{ref}" t="s"><v>{idx}</v></c>')
            else:
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
        xml_rows.append(f'<row r="{r}">{"".join(cells)}</row>')
    for r in range(len(rows) + 2, len(rows) + 2 + empty_rows):
        cells = "".join(f'<c r="{cols[c]}{r}" s="1"/>' for c in range(len(header)))
        xml_rows.append(f'<row r="{r}">{cells}</row>')
    sheet = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             f'<worksheet {_NS}><sheetData>{"".join(xml_rows)}</sheetData></worksheet>')
    sst = "".join(f"<si><t>{_esc(s)}</t></si>" for s in shared)
    sst = (f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           f'<sst {_NS} count="{len(shared)}" uniqueCount="{len(shared)}">{sst}</sst>')
    parts = [("[Content_Types].xml", _CT), ("_rels/.rels", _RELS),
             ("xl/workbook.xml", _WB), ("xl/_rels/workbook.xml.rels", _WB_RELS),
             ("xl/worksheets/sheet1.xml", sheet), ("xl/sharedStrings.xml", sst)]
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in parts:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, text.encode("utf-8"))


def _sql(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return f"'{v.isoformat()}'"


def _write_ddl(path: str, cards, accounts, clients) -> None:
    tables = [
        ("cards", "card_num, account, create_dt, update_dt", cards),
        ("accounts", "account, valid_to, client, create_dt, update_dt", accounts),
        ("clients", "client_id, last_name, first_name, patronymic, date_of_birth, "
                    "passport_num, passport_valid_to, phone, create_dt, update_dt", clients),
    ]
    with open(path, "w", encoding="utf-8") as f:
        for name, cols, rows in tables:
            f.write(f"create table {name} ({cols});\n")
            for r in rows:
                f.write(f"insert into {name} ({cols}) values "
                        f"({', '.join(_sql(v) for v in r)});\n")


# -- the generator -------------------------------------------------------------

def generate(root: str, seed: int, rows_per_day: int, n_days: int) -> Feed:
    """Write the feed under ``root`` and return its description."""
    if n_days < 2:
        raise ValueError("the SCD2 and planted cases need at least 2 days")
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng(seed)
    dates = [START + dt.timedelta(days=i) for i in range(n_days)]

    # Entity counts scale with rows so a card sees ~80 tx/day, as in the
    # reference (15.7k tx/day over 195 cards, 77 accounts, 50 clients).
    n_clients = max(50, round(rows_per_day / 314))
    n_accounts = round(n_clients * 1.54)
    n_cards = round(n_accounts * 2.53)

    planted_names = ["p1_pos", "p1_neg", "bl_case", "c2_pos", "c2_neg",
                     "r3_pos", "r3_neg_gap", "r3_neg_version",
                     "r4_pos", "r4_neg_order", "r4_neg_span", "bl_retro"]
    n_plant = len(planted_names)
    scale = rows_per_day * REF_DAYS / REF_TX
    bl_adds = [round(REF_BLACKLIST_ADDS[d % REF_DAYS] * scale) for d in range(n_days)]
    used: set = set()
    passports = [f"{s[:4]} {s[4:]}" for s in _digits(rng, n_clients + sum(bl_adds), 10, used)]
    bl_strangers = iter(passports[n_clients:])
    clients = []
    for i in range(n_clients):
        cid = f"VIP-{1000 + i}" if i % 10 == 9 else str(1000 + i)
        ph = "".join(str(d) for d in rng.integers(0, 10, 10))
        clients.append([
            cid, LAST[rng.integers(len(LAST))], FIRST[rng.integers(len(FIRST))],
            PATRONYMIC[rng.integers(len(PATRONYMIC))],
            dt.date(1950, 1, 1) + dt.timedelta(days=int(rng.integers(0, 18000))),
            # NULL (never expires) or far future: no rule tells them apart
            passports[i], None if rng.random() < 0.3 else FAR_FUTURE,
            f"+7 {ph[:3]} {ph[3:6]}-{ph[6:8]}-{ph[8:]}",
            dt.date(1900, 1, 1), None,
        ])
    accounts = []
    for i, acc in enumerate(_digits(rng, n_accounts, 12, used)):
        client = clients[i if i < n_clients else int(rng.integers(n_plant, n_clients))][0]
        accounts.append(["40817810" + acc, FAR_FUTURE, client, dt.date(1900, 1, 1), None])
    cards = []
    for i, num in enumerate(_digits(rng, n_cards, 16, used)):
        acc = accounts[i if i < n_accounts else int(rng.integers(n_plant, n_accounts))][0]
        cards.append([" ".join(num[k:k + 4] for k in range(0, 16, 4)), acc,
                      dt.date(2001, 1, 1), None])
    # Planted cases: card k -> account k -> client k for k < n_plant (the
    # loops above map index to index and send every other row to
    # n_plant and up), so random traffic never touches them.
    plant = {}
    for k, name in enumerate(planted_names):
        clients[k][6] = None
        plant[name] = (cards[k][0], clients[k][5])
    clients[0][6] = dates[0]              # p1_pos: passport expires day 0
    clients[1][6] = dates[1]              # p1_neg: expires on its tx day
    accounts[3][1] = dates[0]             # c2_pos: contract ends day 0
    accounts[4][1] = dates[1]             # c2_neg: ends on its tx day

    # Bad entities (see REF_MART): on day 1 of every 3-day cycle a batch
    # of clients goes bad, alternately by passport expiry and by a
    # blacklist entry of that date, and a batch of other clients'
    # accounts by contract end. Each batch is sized by its expected
    # SUCCESS transactions on the following day.
    succ_per_card = rows_per_day * (1 - REJECT_SHARE) / (n_cards - n_plant)
    cards_of_acc = collections.Counter(c[1] for c in cards[n_plant:])
    cards_of_client = collections.Counter()
    for a in accounts:
        cards_of_client[a[2]] += cards_of_acc[a[0]]
    free_clients = list(range(n_plant, n_clients))
    rng.shuffle(free_clients)
    bl_new: dict[int, list[tuple]] = {d: [] for d in range(n_days)}
    bad_clients: set = set()
    for d in range(1, n_days, REF_DAYS):
        batch = _nearest(free_clients, REF_MART[EVENT_PASSPORT] * scale,
                         lambda i: cards_of_client[clients[i][0]] * succ_per_card)
        for j, i in enumerate(batch):
            if j % 2:
                bl_new[d].append((dates[d], clients[i][5]))
            else:
                clients[i][6] = dates[d]
            bad_clients.add(clients[i][0])
    free_accounts = [i for i in range(n_plant, n_accounts) if accounts[i][2] not in bad_clients]
    rng.shuffle(free_accounts)
    for d in range(1, n_days, REF_DAYS):
        for i in _nearest(free_accounts, REF_MART[EVENT_CONTRACT] * scale,
                          lambda i: cards_of_acc[accounts[i][0]] * succ_per_card):
            accounts[i][1] = dates[d]

    # Terminals: 150, a few per city; a card shops in its home city.
    term_ids = set()
    terminals = []
    while len(terminals) < N_TERMINALS + 2:
        prefix = "P" if rng.random() < 0.6 else "A"
        tid = f"{prefix}{int(rng.integers(1000, 10000))}"
        if tid in term_ids:
            continue
        term_ids.add(tid)
        city = CITIES[len(terminals) % len(CITIES)]
        addr = f"г. {city}, {STREETS[rng.integers(len(STREETS))]}, д. {int(rng.integers(1, 120))}"
        terminals.append([tid, "POS" if prefix == "P" else "ATM", city, addr])
    t_added = terminals.pop()              # SCD2: new on day 1, gone from day 2
    t_dropped = terminals.pop()            # SCD2: gone from day 1
    t_addr, t_city = terminals[0], terminals[1]
    t_city_new = CITIES[(CITIES.index(t_city[2]) + 1) % len(CITIES)]

    def snapshot(d: int) -> list[list]:
        snap = [list(t) for t in terminals]
        if d == 0:
            snap.append(list(t_dropped))
        if d == 1:
            snap.append(list(t_added))
        if d >= 1:
            snap[0][3] = t_addr[3] + " корп. 2"
            snap[1][2] = t_city_new
            snap[1][3] = f"г. {t_city_new}, {STREETS[0]}, д. 1"
        return snap

    home = rng.integers(0, len(CITIES), n_cards)
    tx_counter = int(rng.integers(10**10, 4 * 10**10))

    feed = Feed(root, os.path.join(root, "ddl_dml.sql"), [], cards, accounts, clients)
    blacklist: list[tuple] = []
    for d, day in enumerate(dates):
        snap = snapshot(d)
        by_city: dict[str, list[str]] = {}
        for t in snap:
            by_city.setdefault(t[2], []).append(t[0])
        all_ids = [t[0] for t in snap]

        # random traffic
        n = rows_per_day
        card_idx = rng.integers(n_plant, n_cards, n)
        secs = np.sort(rng.integers(0, 86400, n))
        cents = (np.exp(rng.uniform(np.log(100), np.log(5_000_000), n))).astype(np.int64)
        otype = rng.choice(3, n, p=[0.44, 0.28, 0.28])
        reject = rng.random(n) < REJECT_SHARE
        away = rng.random(n) < TRAVEL
        pick = rng.random(n)
        rows = []
        base = dt.datetime.combine(day, dt.time())
        for k in range(n):
            c = int(card_idx[k])
            pool = all_ids if away[k] else by_city.get(CITIES[home[c]]) or all_ids
            rows.append((base + dt.timedelta(seconds=int(secs[k])), int(cents[k]),
                         cards[c][0], OPER_TYPES[otype[k]],
                         "REJECT" if reject[k] else "SUCCESS",
                         pool[int(pick[k] * len(pool))]))
        rows.extend(_planted_rows(d, base, plant, snap, t_city_new, feed, dates))
        rows.sort(key=lambda r: r[0])
        ids = [str(tx_counter + k) for k in range(1, len(rows) + 1)]
        tx_counter += len(rows)
        feed.tx.append([(i, r[0], Decimal(r[1]).scaleb(-2), *r[2:])
                        for i, r in zip(ids, rows)])

        # cumulative blacklist: the day's new entries, topped up with
        # passports of no client to the reference's 7, 8, 9 a day; day 1
        # brings one dated before day 0, which flags a day-0 transaction
        # retroactively
        new = list(bl_new[d])
        if d == 0:
            new.append((day, plant["bl_case"][1]))
        if d == 1:
            new.append((dates[0] - dt.timedelta(days=1), plant["bl_retro"][1]))
        new += [(day, next(bl_strangers)) for _ in range(bl_adds[d] - len(new))]
        blacklist.extend(new)
        feed.blacklist.append(list(blacklist))
        feed.terminals.append([tuple(t) for t in snap])

        stamp = day.strftime("%d%m%Y")
        paths = Day(day, *(os.path.join(root, f"{stem}_{stamp}.{ext}") for stem, ext in (
            ("transactions", "txt"), ("passport_blacklist", "xlsx"), ("terminals", "xlsx"))))
        with open(paths.transactions, "w", encoding="utf-8", newline="\n") as f:
            f.write("transaction_id;transaction_date;amount;card_num;oper_type;"
                    "oper_result;terminal\n")
            f.writelines(f"{i};{r[0]:%Y-%m-%d %H:%M:%S};{_amount(r[1])};"
                         f"{r[2]};{r[3]};{r[4]};{r[5]}\n" for i, r in zip(ids, rows))
        write_xlsx(paths.blacklist, ["date", "passport"],
                   [((b[0] - EXCEL_EPOCH).days, b[1]) for b in blacklist],
                   empty_rows=EMPTY_BLACKLIST_ROWS)
        write_xlsx(paths.terminals,
                   ["terminal_id", "terminal_type", "terminal_city", "terminal_address"],
                   [tuple(t) for t in snap])
        feed.days.append(paths)

    _write_ddl(feed.ddl, cards, accounts, clients)
    feed.cards = [tuple(c) for c in cards]
    feed.accounts = [tuple(a) for a in accounts]
    feed.clients = [tuple(c) for c in clients]
    return feed


def _planted_rows(d, base, plant, snap, t_city_new, feed, dates):
    """The planted transactions of day ``d``; registers each expected
    (or expected-absent) mart hit in ``feed.planted``."""
    if d > 1:
        return []
    at = lambda h, m, s: base + dt.timedelta(hours=h, minutes=m, seconds=s)  # noqa: E731
    ta, tb = snap[2][0], snap[3][0]      # two terminals in different cities
    rows = []

    def tx(name, when, cents, result, term, rule=None, positive=None, why=""):
        card, passport = plant[name]
        rows.append((when, cents, card, "PAYMENT", result, term))
        if rule is not None:
            feed.planted.append(Planted(rule, passport, when, positive, why))

    if d == 0:
        tx("bl_case", at(9, 30, 0), 50000, "SUCCESS", ta, EVENT_PASSPORT, False,
           "transaction on the blacklist date itself")
        tx("bl_retro", at(9, 45, 0), 50000, "SUCCESS", ta, EVENT_PASSPORT, True,
           "blacklisted a day later with an earlier date")
        return rows
    tx("p1_pos", at(9, 0, 0), 50000, "SUCCESS", ta, EVENT_PASSPORT, True,
       "passport expired the day before")
    tx("p1_neg", at(9, 0, 0), 50000, "SUCCESS", ta, EVENT_PASSPORT, False,
       "passport expires on the transaction day")
    tx("bl_case", at(9, 30, 0), 50000, "SUCCESS", ta, EVENT_PASSPORT, True,
       "transaction the day after the blacklist date")
    tx("c2_pos", at(10, 0, 0), 50000, "SUCCESS", ta, EVENT_CONTRACT, True,
       "contract ended the day before")
    tx("c2_neg", at(10, 0, 0), 50000, "SUCCESS", ta, EVENT_CONTRACT, False,
       "contract ends on the transaction day")
    tx("r3_pos", at(11, 0, 0), 50000, "SUCCESS", ta)
    tx("r3_pos", at(11, 59, 59), 50000, "SUCCESS", tb, EVENT_CITIES, True,
       "two cities 3599 s apart")
    tx("r3_neg_gap", at(11, 0, 0), 50000, "SUCCESS", ta)
    tx("r3_neg_gap", at(12, 0, 0), 50000, "SUCCESS", tb, EVENT_CITIES, False,
       "two cities exactly 3600 s apart")
    # the city-changed terminal (snap[1]) now sits in t_city_new: a hop to
    # another terminal of that city is NOT a diff-cities hit under the
    # version in effect, although it is under the old one
    same = next(t[0] for t in snap[4:] if t[2] == t_city_new)
    tx("r3_neg_version", at(11, 0, 0), 50000, "SUCCESS", snap[1][0])
    tx("r3_neg_version", at(11, 10, 0), 50000, "SUCCESS", same, EVENT_CITIES, False,
       "same city under the SCD2 version in effect")
    tx("r4_pos", at(13, 0, 0), 30000, "REJECT", ta)
    tx("r4_pos", at(13, 10, 0), 20000, "REJECT", ta)
    tx("r4_pos", at(13, 19, 59), 10000, "SUCCESS", ta, EVENT_AMOUNT, True,
       "decreasing reject, reject, success within 1199 s")
    tx("r4_neg_order", at(13, 0, 0), 30000, "REJECT", ta)
    tx("r4_neg_order", at(13, 5, 0), 35000, "REJECT", ta)
    tx("r4_neg_order", at(13, 10, 0), 10000, "SUCCESS", ta, EVENT_AMOUNT, False,
       "amounts not strictly decreasing")
    tx("r4_neg_span", at(13, 0, 0), 30000, "REJECT", ta)
    tx("r4_neg_span", at(13, 10, 0), 20000, "REJECT", ta)
    tx("r4_neg_span", at(13, 20, 0), 10000, "SUCCESS", ta, EVENT_AMOUNT, False,
       "both gaps < 1200 s but the span is exactly 1200 s")
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rows", type=int, default=15700)
    ap.add_argument("--days", type=int, default=8)
    a = ap.parse_args()
    feed = generate(a.out_dir, a.seed, a.rows, a.days)
    print(f"{len(feed.days)} days, {sum(map(len, feed.tx))} tx, "
          f"{len(feed.cards)} cards, {feed.feed_bytes} bytes")


if __name__ == "__main__":
    main()
