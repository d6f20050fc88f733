"""Seeded JSON-lines backlog for the lake-ingest workload, and its
DuckDB reference.

A backlog is three topic directories (clicks, orders, cdc), each holding
``files`` JSON-lines files. Clean traffic follows the reference Kafka
producer's distributions as the engine's own generator records them
(e_commerce_data_pipeline_spark/sources/generator.py, module docstring
and constants): a 70/20/10 click/order/CDC mix, 80/15/5
UPDATE/INSERT/DELETE CDC operations, ~30% anonymous users, a pool of 20
concurrent sessions, 100 users, the same 8-product catalog, 1..3-item
carts and 5 events per second. The values are copied here rather than
imported, so the inputs do not move when engine code changes.

On top of clean events the generator plants, at known counts:

- corrupt lines (truncated JSON, non-JSON garbage, JSON without an
  ``event_id``), which bronze must route away;
- duplicate ``event_id``s (a byte-identical re-send of an earlier line,
  possibly in a later file), which silver must collapse;
- out-of-order timestamps (lines are shuffled, and a share carry an
  event time hours before their neighbours);
- orders with an unknown ``order_status``, which validation marks
  invalid and the quality gate's in-set expectation catches.

The reference producer emits no defects, so their rates are this
benchmark's own choice (see ``CORRUPT_RATE`` and the rates below it).

The same seed gives the same bytes. Only the standard library and
DuckDB are used, so the reference never touches Spark.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

TOPICS = {
    "clicks": "ecommerce.user_clicks",
    "orders": "ecommerce.orders",
    "cdc": "ecommerce.inventory_changes",
}

# Reference-producer traffic, as sources/generator.py records it.
MIX = (("clicks", 0.7), ("orders", 0.2), ("cdc", 0.1))
CDC_OPS = (("UPDATE", 0.8), ("INSERT", 0.15), ("DELETE", 0.05))
ANON_SHARE = 0.3
N_SESSIONS = 20
N_USERS = 100
MAX_CART = 3
EVENTS_PER_S = 5
PRODUCTS = (
    ("P001", "Wireless Mouse", "Electronics", 29.99),
    ("P002", "Mechanical Keyboard", "Electronics", 89.99),
    ("P003", "Yoga Mat", "Sports", 24.99),
    ("P004", "Water Bottle", "Sports", 14.99),
    ("P005", "Coffee Maker", "Kitchen", 79.99),
    ("P006", "Desk Lamp", "Home", 39.99),
    ("P007", "Notebook Set", "Books", 12.99),
    ("P008", "Blender", "Kitchen", 59.99),
)
CLICK_TYPES = (
    "page_view",
    "product_view",
    "search",
    "add_to_cart",
    "remove_from_cart",
    "wishlist_add",
    "checkout_start",
)
DEVICE_TYPES = ("mobile", "desktop", "tablet")
ORDER_STATUSES = ("pending", "confirmed", "shipped", "delivered", "cancelled", "refunded")
WAREHOUSES = ("WH-US-EAST", "WH-US-WEST", "WH-EU-CENTRAL", "WH-APAC")

# Planted-defect rates, per clean event of a topic. Not from the
# reference (it emits no defects): chosen so that a 20k-event backlog
# carries every defect kind on every topic, a few to a few hundred times,
# while clean traffic stays ~97% of the lines.
CORRUPT_RATE = 0.004
DUP_RATE = 0.02
LATE_RATE = 0.01
BAD_STATUS_RATE = 0.01
LATE_S = (2 * 3600, 4 * 3600)  # how far a late event lags its position

# A backlog of 4.5k events or more at 5 events/s crosses midnight, so
# gold has two days (20k events span ~67 minutes).
START = datetime(2024, 3, 1, 23, 45, 0)


@dataclass
class Backlog:
    root: str
    lines: dict = field(default_factory=dict)  # topic -> written line count
    corrupt: dict = field(default_factory=dict)  # topic -> planted corrupt lines
    dups: dict = field(default_factory=dict)  # topic -> planted duplicate lines
    late: dict = field(default_factory=dict)  # topic -> planted late events
    bad_status: int = 0
    bytes: int = 0

    @property
    def events(self) -> int:
        return sum(self.lines.values())

    def topic_dir(self, topic: str) -> str:
        return os.path.join(self.root, topic)


def _pick(rng: random.Random, weighted) -> str:
    roll = rng.random()
    for value, share in weighted:
        roll -= share
        if roll < 0:
            return value
    return weighted[-1][0]


def _envelope(rng, event_id: str, event_type: str, ts: str) -> dict:
    anon = rng.random() < ANON_SHARE
    return {
        "event_id": event_id,
        "event_type": event_type,
        "timestamp": ts,
        "session_id": f"sess-{rng.randrange(N_SESSIONS)}",
        "user_id": None if anon else f"user-{rng.randrange(N_USERS)}",
    }


def _click(rng, i, ts):
    pid, _, category, _ = rng.choice(PRODUCTS)
    return {
        **_envelope(rng, f"evt-{i:010d}", "user_click", ts),
        "click_type": rng.choice(CLICK_TYPES),
        "page_url": f"https://shop.example.com/p/{pid}",
        "device_type": rng.choice(DEVICE_TYPES),
        "product_id": pid,
        "category": category,
    }


def _order(rng, i, ts, bad_status):
    items = []
    total = 0.0
    for _ in range(rng.randint(1, MAX_CART)):
        pid, name, category, price = rng.choice(PRODUCTS)
        qty = rng.randint(1, 3)
        disc = rng.choice((0.0, 10.0, 20.0))
        total += qty * price * (1 - disc / 100)
        items.append(
            {
                "product_id": pid,
                "product_name": name,
                "category": category,
                "quantity": qty,
                "unit_price": price,
                "discount_pct": disc,
            }
        )
    return {
        **_envelope(rng, f"evt-{i:010d}", "order", ts),
        "order_id": f"ord-{i:010d}",
        "order_status": "lost" if bad_status else rng.choice(ORDER_STATUSES),
        "items": items,
        "total_amount": round(total, 2),
    }


def _cdc(rng, i, ts):
    op = _pick(rng, CDC_OPS)
    pid, name, _, _ = rng.choice(PRODUCTS)
    warehouse = rng.choice(WAREHOUSES)
    stock = rng.randrange(500)

    def image(qty):
        return {
            "product_id": pid,
            "product_name": name,
            "sku": f"SKU-{pid}",
            "stock_quantity": qty,
            "reorder_level": 50,
            "warehouse_id": warehouse,
            "last_updated": ts,
        }

    return {
        **_envelope(rng, f"evt-{i:010d}", "inventory_cdc", ts),
        "operation": op,
        "table_name": "inventory",
        "before": None if op == "INSERT" else image(stock),
        "after": None if op == "DELETE" else image(max(0, stock + rng.randint(-10, 10))),
        "lsn": f"0/{i:08X}",
    }


def _corrupt(rng, i) -> str:
    kind = i % 3
    if kind == 0:
        return '{"event_id": "bad-%d", "event_type": "user_cl' % i
    if kind == 1:
        return "garbage line %d %x" % (i, rng.getrandbits(32))
    return json.dumps({"event_type": "user_click", "timestamp": "2024-03-01 23:45:00"})


def generate(root: str, seed: int, events: int, files: int) -> Backlog:
    """Write a backlog of ``events`` clean events under ``root``, one
    stream at 5 events/s split by topic, and return its planted-defect
    counts."""
    rng = random.Random(seed)
    out = Backlog(root)
    lines: dict[str, list[str]] = {short: [] for short, _ in MIX}
    for short, _ in MIX:
        out.corrupt[short] = out.dups[short] = out.late[short] = 0
    for i in range(events):
        short = _pick(rng, MIX)
        t = START + timedelta(seconds=i // EVENTS_PER_S)
        if rng.random() < LATE_RATE:
            out.late[short] += 1
            t -= timedelta(seconds=rng.randrange(*LATE_S))
        ts = t.strftime("%Y-%m-%d %H:%M:%S")
        if short == "clicks":
            ev = _click(rng, i, ts)
        elif short == "orders":
            bad = rng.random() < BAD_STATUS_RATE
            out.bad_status += bad
            ev = _order(rng, i, ts, bad)
        else:
            ev = _cdc(rng, i, ts)
        topic_lines = lines[short]
        topic_lines.append(json.dumps(ev, separators=(",", ":")))
        if rng.random() < DUP_RATE:
            topic_lines.append(topic_lines[-1])
            out.dups[short] += 1
        if rng.random() < CORRUPT_RATE:
            topic_lines.append(_corrupt(rng, out.corrupt[short]))
            out.corrupt[short] += 1
    for short, topic_lines in lines.items():
        rng.shuffle(topic_lines)
        d = out.topic_dir(short)
        os.makedirs(d, exist_ok=True)
        per = -(-len(topic_lines) // files)
        for k in range(files):
            chunk = topic_lines[k * per : (k + 1) * per]
            path = os.path.join(d, f"part-{k:03d}.jsonl")
            with open(path, "w") as f:
                f.write("\n".join(chunk) + "\n")
            out.bytes += os.path.getsize(path)
        out.lines[short] = len(topic_lines)
    return out


# --------------------------------------------------------------------------
# DuckDB reference over the generated files
# --------------------------------------------------------------------------


# what bronze's from_json keeps: parseable JSON carrying an event_id
# (DuckDB evaluates both sides of AND, so the extract is guarded)
_VALID = (
    "CASE WHEN json_valid(line) "
    "THEN json_extract_string(line, '$.event_id') IS NOT NULL ELSE false END"
)


def _lines_view(con, name: str, d: str) -> None:
    con.execute(
        f"""CREATE OR REPLACE VIEW {name} AS
        SELECT line FROM read_csv('{d}/*.jsonl', columns={{'line': 'VARCHAR'}},
             header=false, delim=chr(1), quote='', escape='',
             auto_detect=false)"""
    )
    con.execute(
        # a table, not a view: the optimizer would otherwise push later
        # json_extract filters below the validity filter
        f"""CREATE OR REPLACE TABLE {name}_ok AS
        SELECT DISTINCT line FROM {name} WHERE {_VALID}"""
    )


def reference(backlog: Backlog) -> dict:
    """Everything a correct pass must reproduce, computed by DuckDB."""
    import duckdb

    con = duckdb.connect()
    ref: dict = {"valid_rows": {}, "corrupt": {}, "silver_rows": {}}
    for short in TOPICS:
        _lines_view(con, short, backlog.topic_dir(short))
        total, ok = con.execute(
            f"""SELECT count(*),
                       count(*) FILTER (WHERE {_VALID})
                FROM {short}"""
        ).fetchone()
        ref["valid_rows"][short] = ok
        ref["corrupt"][short] = total - ok
        # duplicates are byte-identical re-sends, so distinct lines are
        # distinct event_ids
        ref["silver_rows"][short] = con.execute(
            f"SELECT count(DISTINCT json_extract_string(line, '$.event_id')) FROM {short}_ok"
        ).fetchone()[0]
    statuses = ", ".join(f"'{s}'" for s in ORDER_STATUSES)
    ref["revenue"] = sorted(
        con.execute(
            f"""WITH o AS (
                  SELECT CAST(json_extract_string(line, '$.timestamp') AS TIMESTAMP) AS ts,
                         json_extract_string(line, '$.order_status') AS status,
                         unnest(CAST(json_extract(line, '$.items') AS JSON[])) AS item
                  FROM orders_ok)
                SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
                       json_extract_string(item, '$.category') AS category,
                       CAST(sum(CAST(round(
                           CAST(json_extract(item, '$.quantity') AS INTEGER)
                           * CAST(json_extract(item, '$.unit_price') AS DOUBLE)
                           * (1.0 - coalesce(CAST(json_extract(item, '$.discount_pct') AS DOUBLE), 0.0) / 100.0)
                           * 1000) AS BIGINT)) AS BIGINT) AS revenue_milli
                FROM o WHERE status IN ({statuses})
                GROUP BY 1, 2"""
        ).fetchall()
    )
    ref["bad_status"] = con.execute(
        f"""SELECT count(*) FROM orders_ok
            WHERE json_extract_string(line, '$.order_status') NOT IN ({statuses})"""
    ).fetchone()[0]
    # session windows: a click opens a new session when it comes more than
    # the gap after the previous click of the same user (windows that
    # touch merge)
    ref["sessions"] = con.execute(
        """WITH c AS (
              SELECT json_extract_string(line, '$.user_id') AS u,
                     epoch(CAST(json_extract_string(line, '$.timestamp') AS TIMESTAMP)) AS t
              FROM clicks_ok),
            g AS (SELECT u, t, t - lag(t) OVER (PARTITION BY u ORDER BY t) AS gap FROM c)
           SELECT count(*) FILTER (WHERE gap IS NULL OR gap > 600), count(*) FROM g"""
    ).fetchone()
    con.close()
    return ref
