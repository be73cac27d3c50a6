"""Seeded source generator for the warehouse benchmark.

Produces the reference-shaped inputs of FIXTURES.md section A from a
seed alone:

  A1  ohlcv.csv           daily OHLCV, literal `null` rows, 0.05 ticks,
                          6-decimal floats, holiday gaps
  A2  barchart.csv        multi-month quote snapshots, `mo`/`last` as text
      deltas/delta_NNNN.csv
                          one-day barchart deltas; each restates one
                          already-loaded date; some are holiday days
                          (no new rows) or `null` days (`last` is null)
  A5  cot.csv             weekly Tuesday COT positions (holiday weeks
                          shift to Monday), wide shape
  A6  usda/usda_00.csv    a messy USDA supply extract (typo'd and fused
                          headers, thousands separators, ghost columns,
                          junk first row, sparse rows)

Every writer also returns what it produced (rows, bytes, and for the
barchart the expected staged state after each delta), and `warehouse`
writes that to `manifest.json` next to the data and returns it. The same
seed always gives byte-identical files.

Usage, as a library: `gen.warehouse(seed, years, deltas, months, out)`.
"""
import datetime as dt
import json
import os
import random

TICK = 0.05
CONTRACT_MONTHS = [(3, "H"), (5, "K"), (7, "N"), (9, "U"), (12, "Z")]
COT_PLAYERS = ["com", "index", "ncom", "nrep"]
COUNTRIES = [
    "Brazil", "Vietnam", "Colombia", "Indonesia", "Ethiopia", "Honduras",
    "India", "Uganda", "Mexico", "Peru", "Guatemala", "Nicaragua", "China",
    "Malaysia", "Ivory", "Costa", "Tanzania", "Kenya", "Papua", "Laos",
    "Thailand", "Venezuela", "Ecuador", "Cameroon", "Madagascar", "Rwanda",
    "Burundi", "Salvador", "Panama", "Bolivia", "Togo", "Guinea", "Haiti",
    "Cuba", "Jamaica", "Yemen", "Zambia", "Malawi", "Nepal", "Sri"]


def ticks(x):
    """Round a price to the 0.05 tick grid, as an integer tick count."""
    return int(round(x / TICK))


def px(t):
    return t * TICK


def trading_days(rng, start, n_days):
    """`n_days` business days from `start`: weekends and fixed holidays
    are gaps, plus a few seeded exchange closures per year."""
    days, d = [], start
    closures = set()
    while len(days) < n_days:
        if d.month == 1 and d.day == 1:
            year_days = [d + dt.timedelta(k) for k in range(365)]
            closures |= set(rng.sample(year_days, 3))
        fixed = (d.month, d.day) in {(1, 1), (7, 4), (12, 25)}
        if d.weekday() < 5 and not fixed and d not in closures:
            days.append(d)
        d += dt.timedelta(1)
    return days


def write_text(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        f.write(text)
    return os.path.getsize(path)


# ---------------------------------------------------------------- A1
def ohlcv_csv(rng, days, null_share=0.017):
    """A1: `Date,Open,High,Low,Close,Adj Close,Volume`; literal `null`
    rows for missing prices."""
    lines = ["Date,Open,High,Low,Close,Adj Close,Volume"]
    level, nulls = ticks(120.0), 0
    for d in days:
        if rng.random() < null_share:
            lines.append(f"{d.isoformat()},null,null,null,null,null,null")
            nulls += 1
            continue
        level = max(ticks(40.0), level + rng.randint(-30, 30))
        o = level + rng.randint(-10, 10)
        c = level + rng.randint(-10, 10)
        hi = max(o, c) + rng.randint(0, 12)
        lo = min(o, c) - rng.randint(0, 12)
        lines.append(f"{d.isoformat()},{px(o):.6f},{px(hi):.6f},{px(lo):.6f},"
                     f"{px(c):.6f},{px(c):.6f},{rng.randint(0, 60000)}")
    return "\n".join(lines) + "\n", {"rows": len(days), "null_rows": nulls}


# ---------------------------------------------------------------- A2
BARCHART_HEADER = ("contract,timing,mo,change,prev_open,high,low,prev,"
                   "last,volume,oi,snapshot_date")


def contract_codes(day, months):
    """Codes of the `months` nearest listed contracts after `day`'s
    month (`KCH21` = March 2021): `mo` 1 is the front month."""
    out, y, m = [], day.year, day.month
    while len(out) < months:
        for cm, letter in CONTRACT_MONTHS:
            if (y, cm) > (day.year, day.month) and len(out) < months:
                out.append(f"KC{letter}{y % 100:02d}")
        y += 1
    return out


class Barchart:
    """A2 generator: one row per (snapshot_date, mo). Keeps the current
    price level per date so restatements can re-derive a loaded row."""

    def __init__(self, rng, months):
        self.rng, self.months = rng, months
        self.level = ticks(120.0)
        self.rows = {}  # (date, mo) -> last ticks (None for a null day)

    def day_rows(self, day, null_day=False):
        rng = self.rng
        self.level = max(ticks(40.0), self.level + rng.randint(-30, 30))
        out = []
        for mo, code in enumerate(contract_codes(day, self.months), start=1):
            last = self.level + 4 * mo + rng.randint(-3, 3)
            self.rows[(day, mo)] = None if null_day else last
            out.append(self.render(day, mo, code, last, null_day))
        return out

    def restate(self, day):
        """Rows re-sent for an already-loaded date with corrected prices:
        the DELETE-WHERE-EXISTS path of the upsert."""
        out = []
        for mo, code in enumerate(contract_codes(day, self.months), start=1):
            old = self.rows.get((day, mo))
            last = (old if old is not None else self.level) + self.rng.choice([-1, 1])
            self.rows[(day, mo)] = last
            out.append(self.render(day, mo, code, last, False))
        return out

    def render(self, day, mo, code, last, null_day):
        rng = self.rng
        prev = last + rng.randint(-8, 8)
        chg = last - prev
        change = "unch" if chg == 0 else f"{px(chg):+.2f}"
        hi = max(last, prev) + rng.randint(0, 6)
        lo = min(last, prev) - rng.randint(0, 6)
        last_txt = "null" if null_day else f"{px(last):.2f}"
        return (f"{code},close,{mo},{change},{px(prev + rng.randint(-4, 4)):.2f},"
                f"{px(hi):.2f},{px(lo):.2f},{px(prev):.2f},{last_txt},"
                f"{rng.randint(0, 20000)},{rng.randint(100, 90000)},{day.isoformat()}")

    def staged_state(self):
        """(rows, sum of `last` in ticks) of the staged store: null-`last`
        rows are filtered out by staging."""
        vals = [v for v in self.rows.values() if v is not None]
        return len(vals), sum(vals)


# ---------------------------------------------------------------- A5
def cot_csv(rng, days):
    """A5: one row per week on its Tuesday, shifted to Monday when the
    Tuesday is not a trading day."""
    trading = set(days)
    lines = ["date_actual," + ",".join(
        f"{p}_{side}" for p in COT_PLAYERS for side in ("long", "short"))]
    d = days[0] + dt.timedelta((1 - days[0].weekday()) % 7)
    n = 0
    while d <= days[-1]:
        day = d if d in trading else d - dt.timedelta(1)
        vals = [rng.randint(1000, 250000) for _ in range(8)]
        lines.append(day.isoformat() + "," + ",".join(map(str, vals)))
        n += 1
        d += dt.timedelta(7)
    return "\n".join(lines) + "\n", {"rows": n}


# ---------------------------------------------------------------- A6
def thousands(n):
    return f"{n:,}"


def usda_csv(rng, n_countries):
    """A6: a messy extracted supply table. The normalizer must lower-case
    and rename the headers, repair the all-null COUNTRY column from its
    neighbour, drop the `Unnamed` index and the ghost column, strip the
    separators, skip the junk first row, drop the sparse rows and split
    the space-fused `area exports` column."""
    lines = ['Unnamed: 0,Supply,COUNTRY,Beginning,PRODUCTIO,area exports,Imports',
             ',Units,,"1,000",480,Bales 170,']
    kept = 0
    for i, name in enumerate(rng.sample(COUNTRIES, n_countries)):
        if rng.random() < 0.15:
            lines.append(f"{i},,,,,,")
            continue
        b, p = rng.randint(50, 40000), rng.randint(100, 60000)
        a, e = rng.randint(10, 9000), rng.randint(10, 40000)
        lines.append(f'{i},{name},,"{thousands(b)}","{thousands(p)}",'
                     f'"{thousands(a)} {thousands(e)}",')
        kept += 1
    return "\n".join(lines) + "\n", {"rows": len(lines) - 1, "kept_rows": kept}


def warehouse(seed, years, deltas, months, out):
    """Every warehouse source for one benchmark run, plus the manifest."""
    rng = random.Random(seed)
    n_hist = years * 252
    days = trading_days(rng, dt.date(2010, 1, 4), n_hist + deltas + 1)
    hist = days[:n_hist]
    files = {}

    text, info = ohlcv_csv(rng, hist)
    files["ohlcv"] = dict(info, bytes=write_text(f"{out}/ohlcv.csv", text),
                          path="ohlcv.csv")

    bc = Barchart(rng, months)
    rows = [BARCHART_HEADER]
    for i, d in enumerate(hist):
        rows += bc.day_rows(d, null_day=(i % 97 == 41))
    staged_rows, staged_ticks = bc.staged_state()
    files["barchart"] = {
        "path": "barchart.csv", "rows": len(rows) - 1,
        "bytes": write_text(f"{out}/barchart.csv", "\n".join(rows) + "\n"),
        "staged_rows": staged_rows, "staged_last_ticks": staged_ticks}

    text, info = cot_csv(rng, hist)
    files["cot"] = dict(info, bytes=write_text(f"{out}/cot.csv", text),
                        path="cot.csv")

    # one report; the manifest lists reports, one per season
    text, info = usda_csv(rng, 24)
    p = "usda/usda_00.csv"
    files["usda"] = [dict(info, path=p, season="2010/11",
                          bytes=write_text(f"{out}/{p}", text))]

    # one-day deltas after the history: trading days, holidays (only the
    # restatement) and null days (`last` is null); the first three loads
    # are one of each, so every run exercises all three
    delta_list, loaded = [], list(hist)
    for k in range(deltas):
        day = days[n_hist + k]
        kind = "holiday" if k % 7 == 1 else "null" if k % 11 == 2 else "trading"
        restated = loaded[-rng.randint(2, 20)]
        body = [BARCHART_HEADER]
        if kind != "holiday":
            body += bc.day_rows(day, null_day=(kind == "null"))
            loaded.append(day)
        body += bc.restate(restated)
        staged_rows, staged_ticks = bc.staged_state()
        p = f"deltas/delta_{k:04d}.csv"
        delta_list.append({
            "path": p, "day": day.isoformat(), "kind": kind,
            "restated": restated.isoformat(), "rows": len(body) - 1,
            "null_rows": months if kind == "null" else 0,
            "bytes": write_text(f"{out}/{p}", "\n".join(body) + "\n"),
            "staged_rows": staged_rows, "staged_last_ticks": staged_ticks})
    files["deltas"] = delta_list
    manifest = {"seed": seed, "years": years, "months": months,
                "first_day": hist[0].isoformat(), "last_day": hist[-1].isoformat(),
                "files": files}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest
