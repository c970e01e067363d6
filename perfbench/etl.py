"""The etl_ingest workload's inputs and its expected outcome.

Inputs are seeded monthly drops of the reference's three raw CSV feeds
(orders, order_items, products) plus one events parquet file per month,
all derived from the sf0.1 TPC-H-ish tables:

- orders     <- ``orders``   (order_id = o_orderkey, user_id = o_custkey)
- order_items <- ``lineitem`` (id = l_orderkey * 32 + the item's position
  in its order, as (l_orderkey, l_linenumber) repeats in the fixture);
  each item carries its order's ``order_timestamp`` and ``date``
- products   <- ``part``     (department = p_type)
- events     <- ``events``   (contiguous event_id slices, plus re-sent
  events with a later ``ts``)

Set-up lands a history drop and runs it through ``run_all``, which
creates the warehouse tables: a sample of ``HISTORY_MONTHS`` months of
orders, their items and the products they reference.  Monthly drops
follow, with no products feed (the catalog is not a monthly feed, so
``run_all`` skips the products job); each carries that month's new
orders and items, amendments of history orders (a later timestamp on the
same day) and new items for history orders.  The
reference's RI is circular (SURVEY §2.12): orders are semi-joined to
order_items and order_items to orders, so a new month's orders and items
are filtered out, and only amendments and add-on items land.  The last
drop restates every history item.

Dirty rows (FIXTURES.md A, "dirty-row cases") are injected into the
history drop (1%) and every monthly drop (a seeded 0.5-1.5%), with each
case at least once.
The restatement is an already-validated re-export and carries none, so
its reject branches are empty.

`Model` replays the documented semantics of `pipelines.run_all` drop by
drop in Python (permissive casts, rejects, latest-wins and arbitrary
dedup, the circular RI, merge latest-wins) and the events stream merge
(latest-wins per ``event_id``).  It is told which jobs completed and
which committed, because a job that raises after its commit (known
defect b, see workloads.py) leaves its raw files in place for the next
drop.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random

import duckdb

#: history length: one month, about 30 ``date`` partitions per table
HISTORY_MONTHS = 1
#: share of the history months' orders that the history holds
HISTORY_SAMPLE = 0.2
#: monthly drops a run can draw (a run uses as many as its time allows)
MAX_MONTHS = 24
AMENDED_ORDERS = 20
ADDON_ITEMS = 40
EVENTS_PER_MONTH = 2000
RESENT_EVENTS = 100

ORDERS_HEADER = [
    "order_num", "order_id", "user_id", "order_timestamp",
    "total_amount", "date", "sheet_name", "source_file",
]
ITEMS_HEADER = [
    "id", "order_id", "user_id", "days_since_prior_order", "product_id",
    "add_to_cart_order", "reordered", "order_timestamp", "date",
    "sheet_name", "source_file",
]
PRODUCTS_HEADER = ["product_id", "department_id", "department", "product_name"]

_TS = "%Y-%m-%d %H:%M:%S"


class Source:
    """The sf0.1 tables the drops are cut from, read once per run."""

    def __init__(self, sf_dir: str):
        con = duckdb.connect()
        p = lambda t: os.path.join(sf_dir, f"{t}.parquet")  # noqa: E731
        self.orders = con.sql(
            f"SELECT o_orderkey, o_custkey, o_totalprice, "
            f"CAST(o_orderdate AS DATE) d FROM read_parquet('{p('orders')}') "
            f"ORDER BY o_orderkey"
        ).fetchall()
        self.items: dict[int, list[tuple]] = {}
        for ok, pk in con.sql(
            f"SELECT l_orderkey, l_partkey FROM read_parquet('{p('lineitem')}') "
            f"ORDER BY l_orderkey, l_linenumber, l_partkey"
        ).fetchall():
            lines = self.items.setdefault(ok, [])
            lines.append((pk, len(lines)))
        self.parts = {
            pk: (name, ptype)
            for pk, name, ptype in con.sql(
                f"SELECT p_partkey, p_name, p_type FROM read_parquet('{p('part')}')"
            ).fetchall()
        }
        types = sorted({ptype for _name, ptype in self.parts.values()})
        self.departments = {t: f"d{i}" for i, t in enumerate(types)}
        self.events = con.sql(
            f"SELECT event_id, ts, user_id, event_type, value, props "
            f"FROM read_parquet('{p('events')}') ORDER BY event_id"
        ).arrow()
        con.close()
        self.months = sorted({d.replace(day=1) for _, _, _, d in self.orders})


def _month_key(d: dt.date) -> str:
    return d.strftime("%Y%m")


class Drops:
    """Seeded drop generator.  ``history()``, ``month(i)`` and
    ``restatement()`` each return ``{feed: rows}`` with rows as lists of
    CSV strings; the same seed gives byte-identical files."""

    def __init__(self, src: Source, seed: int):
        self.src = src
        self.seed = seed
        rng = random.Random(seed)
        span = HISTORY_MONTHS + MAX_MONTHS
        self.start = rng.randrange(0, len(src.months) - span + 1)
        self.history_months = set(src.months[self.start:self.start + HISTORY_MONTHS])
        self.drop_months = src.months[self.start + HISTORY_MONTHS:self.start + span]
        by_month: dict[dt.date, list[tuple]] = {}
        for o in src.orders:
            by_month.setdefault(o[3].replace(day=1), []).append(o)
        self.by_month = by_month
        # time of day per order, fixed for the run
        self._tod = {}
        self.history_orders = [
            o for m in sorted(self.history_months) for o in by_month[m]
            if rng.random() < HISTORY_SAMPLE
        ]
        self.dirty_rate = [rng.uniform(0.005, 0.015) for _ in range(MAX_MONTHS)]

    # -- row renderers ----------------------------------------------------
    def _ts(self, o, bump_min: int = 0) -> dt.datetime:
        key = o[0]
        if key not in self._tod:
            r = random.Random(self.seed * 1_000_003 + key)
            self._tod[key] = r.randrange(60, 20 * 3600)
        base = dt.datetime.combine(o[3], dt.time()) + dt.timedelta(seconds=self._tod[key])
        return base + dt.timedelta(minutes=bump_min)

    def _order_row(self, o, sheet, src_file, bump_min=0, amount=None):
        ts = self._ts(o, bump_min)
        amt = o[2] if amount is None else amount
        return [f"n{o[0]}", str(o[0]), str(o[1]), ts.strftime(_TS),
                f"{amt:.2f}", o[3].isoformat(), sheet, src_file]

    def _item_rows(self, o, sheet, src_file, rng, bump_min=0, lines=None):
        ts = self._ts(o, bump_min).strftime(_TS)
        out = []
        for pk, ln in lines if lines is not None else self.src.items.get(o[0], []):
            out.append([
                str(o[0] * 32 + ln), str(o[0]), str(o[1]),
                str(rng.randrange(0, 31)), str(pk), str(ln + 1),
                str(rng.randrange(0, 2)), ts, o[3].isoformat(), sheet, src_file,
            ])
        return out

    def _product_rows(self, pks):
        out = []
        for pk in sorted(pks):
            name, ptype = self.src.parts[pk]
            out.append([str(pk), self.src.departments[ptype], ptype, name])
        return out

    # -- dirty rows (FIXTURES.md A) ----------------------------------------
    def _dirty(self, feeds, rate, rng):
        """Append dirty copies of clean rows: every case at least once,
        and about ``rate`` of each feed's rows in all."""
        orders, items, products = feeds["orders"], feeds["order_items"], feeds["products"]

        def times(rows, cases):
            return [c for c in range(cases) for _ in range(1 + int(rate * len(rows) / cases))]

        for case in times(orders, 5):
            r = list(rng.choice(orders))
            if case == 0:
                r[1] = ""  # null PK
            elif case == 1:
                r[2] = "abc"  # bad cast
            elif case == 2:
                r[3] = "not-a-ts"
            elif case == 4:
                # same order_id, older timestamp: loses latest-wins
                ts = dt.datetime.strptime(r[3], _TS) - dt.timedelta(hours=1)
                r[3], r[4] = ts.strftime(_TS), "0.01"
            orders.append(r)  # case 3: exact duplicate
        for k, case in enumerate(times(items, 5)):
            r = list(rng.choice(items))
            if case == 0:
                r[0] = ""
            elif case == 1:
                r[4] = "x9"
            elif case == 2:
                r[7] = "not-a-ts"
            elif case == 4:
                r[0], r[1] = str(10**13 + k), str(10**12 + k)  # orphan FK
            items.append(r)
        for k, case in enumerate(times(products, 3) if products else ()):
            r = list(rng.choice(products))
            if case == 0:
                r[0] = ""
            elif case == 1:
                r[3] = ""  # duplicate id, null-name variant
            else:
                r[0] = str(10**9 + k)  # no item references it
            products.append(r)

    def history(self) -> dict:
        rng = random.Random(self.seed * 7 + 1)
        feeds = {"orders": [], "order_items": [], "products": []}
        pks = set()
        for o in self.history_orders:
            sheet = "s" + _month_key(o[3])
            feeds["orders"].append(self._order_row(o, sheet, "history.xlsx"))
            feeds["order_items"] += self._item_rows(o, sheet, "history.xlsx", rng)
            pks |= {pk for pk, _ in self.src.items.get(o[0], [])}
        feeds["products"] = self._product_rows(pks)
        self._dirty(feeds, 0.01, rng)
        return feeds

    def month(self, i: int) -> dict:
        m = self.drop_months[i]
        rng = random.Random(self.seed * 7919 + i + 2)
        src_file = f"drop_{_month_key(m)}.xlsx"
        feeds = {"orders": [], "order_items": [], "products": []}
        for j, o in enumerate(self.by_month[m]):
            sheet = f"s{j % 2}"
            feeds["orders"].append(self._order_row(o, sheet, src_file))
            feeds["order_items"] += self._item_rows(o, sheet, src_file, rng)
        # amendments: a history order re-sent later the same day with a
        # new amount, and its items re-sent with the new timestamp
        bump = 10 * (i + 1)
        for o in rng.sample(self.history_orders, AMENDED_ORDERS):
            feeds["orders"].append(
                self._order_row(o, "amend", src_file, bump, round(o[2] * 1.01, 2))
            )
            feeds["order_items"] += self._item_rows(o, "amend", src_file, rng, bump)
        # add-on items for history orders (positions 30 and 31 are new)
        for k, o in enumerate(rng.sample(self.history_orders, ADDON_ITEMS)):
            pk = rng.choice(list(self.src.parts))
            ln = 30 + (i + k) % 2
            feeds["order_items"] += self._item_rows(o, "addon", src_file, rng, bump, [(pk, ln)])
        self._dirty(feeds, self.dirty_rate[i], rng)
        return feeds

    def restatement(self) -> dict:
        """Items restatement: every history item re-sent, already
        validated, with its order's timestamp and corrected
        ``days_since_prior_order`` and ``reordered`` values.  It is an
        order_items-only feed, so ``run_all`` runs that job alone."""
        rng = random.Random(self.seed * 31 + 5)
        items = []
        for o in self.history_orders:
            items += self._item_rows(o, "restate", "restate.xlsx", rng)
        return {"orders": [], "order_items": items, "products": []}

    def events(self, i: int):
        """Month ``i``'s events: a contiguous slice of the events table
        (``i = -1`` is the history's slice) plus re-sent events from
        earlier slices with ``ts`` one second later and a new value."""
        import pyarrow as pa
        import pyarrow.compute as pc

        ev = self.src.events
        rng = random.Random(self.seed * 104729 + i + 3)
        n = ev.num_rows
        base = (self.seed * EVENTS_PER_MONTH) % max(1, n - EVENTS_PER_MONTH * (MAX_MONTHS + 1))
        lo = base + (i + 1) * EVENTS_PER_MONTH
        part = ev.slice(lo, EVENTS_PER_MONTH)
        if i < 0:
            return part
        idx = sorted(rng.sample(range(base, lo), RESENT_EVENTS))
        resent = ev.take(pa.array(idx))
        resent = resent.set_column(
            1, "ts", pc.add(resent["ts"], pa.scalar(dt.timedelta(seconds=i + 1)))
        ).set_column(4, "value", pc.add(resent["value"], pa.scalar(float(i + 1))))
        return pa.concat_tables([part, resent])


def write_drop(raw_dir: str, feeds: dict, tag: str) -> int:
    """Land one drop's CSVs in the raw zone; returns their bytes."""
    headers = {"orders": ORDERS_HEADER, "order_items": ITEMS_HEADER, "products": PRODUCTS_HEADER}
    n = 0
    for feed, rows in feeds.items():
        if not rows:
            continue
        d = os.path.join(raw_dir, feed)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{feed}_{tag}.csv")
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(headers[feed])
            w.writerows(rows)
        n += os.path.getsize(path)
    return n


# -- expected outcome --------------------------------------------------------
def _long(s):
    try:
        return int(s)
    except ValueError:
        return None


def _double(s):
    try:
        return float(s)
    except ValueError:
        return None


def _ts_or_none(s):
    try:
        return dt.datetime.strptime(s, _TS)
    except ValueError:
        return None


def _typed_orders(rows):
    out = []
    for r in rows:
        oid, uid, ts = _long(r[1]), _long(r[2]), _ts_or_none(r[3])
        if oid is None or uid is None or ts is None:
            continue  # rejected
        out.append({
            "order_num": r[0], "order_id": oid, "user_id": uid,
            "order_timestamp": ts, "total_amount": _double(r[4]),
            "date": dt.date.fromisoformat(r[5]), "sheet_name": r[6],
            "source_file": r[7],
        })
    return out


def _typed_items(rows):
    out = []
    for r in rows:
        v = {
            "id": _long(r[0]), "order_id": _long(r[1]), "user_id": _long(r[2]),
            "days_since_prior_order": _long(r[3]), "product_id": _long(r[4]),
            "add_to_cart_order": _long(r[5]), "reordered": _long(r[6]),
            "order_timestamp": _ts_or_none(r[7]),
            "date": dt.date.fromisoformat(r[8]), "sheet_name": r[9],
            "source_file": r[10],
        }
        if None in (v["id"], v["order_id"], v["user_id"], v["product_id"], v["order_timestamp"]):
            continue
        out.append(v)
    return out


def _latest(rows, key):
    """Newest ``order_timestamp`` per key; equal rows collapse."""
    best = {}
    for r in rows:
        k = r[key]
        if k not in best or r["order_timestamp"] > best[k]["order_timestamp"]:
            best[k] = r
    return best


class Model:
    """The documented outcome of the drops, replayed in Python.

    ``apply_drop`` takes the drop's feeds and what the run observed: the
    jobs whose raw files were archived (completed) and the tables whose
    version moved (committed).  Files of a job that did not complete stay
    pending and are read again by the next drop, as in the raw zone."""

    def __init__(self):
        self.orders: dict[int, dict] | None = None
        self.items: dict[int, dict] | None = None
        self.products_must: set[str] = set()
        self.products_may: set[str] = set()
        self.pending = {"orders": [], "order_items": [], "products": []}
        self.events: dict[int, tuple] = {}

    def apply_drop(self, feeds: dict, completed: set, committed: set) -> None:
        for feed, rows in feeds.items():
            if rows:
                self.pending[feed].append(rows)
        for job in ("orders", "order_items", "products"):
            if not self.pending[job]:
                continue
            rows = [r for f in self.pending[job] for r in f]
            if job in committed:
                getattr(self, f"_merge_{job}")(rows)
            if job not in completed:
                return  # run_all raised here; later jobs never ran
            self.pending[job] = []

    def _merge_orders(self, rows):
        src = _latest(_typed_orders(rows), "order_id")
        if self.items is not None:  # graceful RI: no items table, no filter
            keys = {r["order_id"] for r in self.items.values()}
            src = {k: v for k, v in src.items() if k in keys}
        self.orders = _merge_latest(self.orders, src)

    def _merge_order_items(self, rows):
        keys = set(self.orders or ())
        typed = [r for r in _typed_items(rows) if r["order_id"] in keys]
        self.items = _merge_latest(self.items, _latest(typed, "id"))

    def _merge_products(self, rows):
        groups: dict[str, list] = {}
        for r in rows:
            pid = r[0] or None
            if pid is not None:
                groups.setdefault(pid, []).append(r[3] or None)
        ref = {str(r["product_id"]) for r in (self.items or {}).values()}
        for pid, names in groups.items():
            if self.items is not None and pid not in ref:
                continue
            if all(names):
                self.products_must.add(pid)
            # a null-name variant may be the arbitrary dedup survivor,
            # which validation then drops: either outcome is legal
            if any(names):
                self.products_may.add(pid)

    def apply_events(self, table) -> None:
        for r in table.to_pylist():
            cur = self.events.get(r["event_id"])
            if cur is None or r["ts"] >= cur["ts"]:
                self.events[r["event_id"]] = r


def _merge_latest(target, src):
    """LakeTable create, or merge with ``latest_by``: the newest
    ``order_timestamp`` per key wins across target and source, the
    source on ties."""
    if target is None:
        return dict(src)
    out = dict(target)
    for k, r in src.items():
        if k not in out or r["order_timestamp"] >= out[k]["order_timestamp"]:
            out[k] = r
    return out
