"""Seeded inputs and answer checks for the gateway benchmark.

Everything the app is sent comes from here and is a function of the
run's ``--seed``. Each generator also states what the program must
answer — flattened row counts, checksums, the oracle tables DuckDB
runs the same query text over — computed from the generator's own
knowledge of the document shape, never by calling the program's
flatteners.
"""

from __future__ import annotations

import csv
import hashlib
import io
import json
import math
import random

EVENTS = ("view", "click", "cart", "buy", "share", "search", "login", "logout")
COUNTRIES = ("us", "de", "fr", "br", "in", "jp", "gb", "ca", "mx", "kr", "it", "es")
OSES = ("ios", "android", "web", "desktop")
PLANS = ("free", "pro", "team", "enterprise")
SKUS = tuple(f"sku-{i:03d}" for i in range(40))
TAGS = ("new", "promo", "mobile", "retarget", "organic", "paid", "email")

T0 = 1_700_000_000  # first event timestamp (epoch seconds)
USER_IDS = 10_000  # user ids of the query tables' events


# ------------------------------------------------------------------ ingest


class IngestStream:
    """Batches of nested event documents for the ``ingest`` workload.

    Batch ``k`` is a pure function of ``(seed, k)``, so two clients may
    take batches in any order and the acknowledged set still has a
    checksum known to the generator. New top-level keys drift in every
    ``drift_every`` batches (``attr_1``, ``attr_2``, …), so the
    warehouse keeps running ``ADD COLUMN`` during the run.
    """

    def __init__(self, seed: int, docs_per_batch: int = 100,
                 vertical_share: float = 0.2, drift_every: int = 40):
        self.seed = seed
        self.docs_per_batch = docs_per_batch
        self.vertical_share = vertical_share
        self.drift_every = drift_every

    def batch(self, k: int) -> tuple[str, bytes, dict]:
        """→ (flatten style, JSON body, expected {rows, amount, users, docs})."""
        rng = random.Random(self.seed * 1_000_003 + k)
        style = "vertical" if rng.random() < self.vertical_share else "horizontal"
        drift = k // self.drift_every
        docs, rows, amount, users = [], 0, 0, 0
        for j in range(self.docs_per_batch):
            eid = k * self.docs_per_batch + j
            n_tags = rng.randrange(0, 4)
            n_items = rng.randrange(0, 3)
            doc = {
                "event_id": eid,
                "user": {
                    "id": rng.randrange(5_000),
                    "country": rng.choice(COUNTRIES),
                    "device": {"os": rng.choice(OSES), "version": rng.randrange(1, 20)},
                },
                "event": rng.choice(EVENTS),
                "ts": T0 + eid,
                "amount_cents": rng.randrange(100_000),
                "score": round(rng.random(), 6),
                "tags": [rng.choice(TAGS) for _ in range(n_tags)],
                "items": [
                    {"sku": rng.choice(SKUS), "qty": rng.randrange(1, 5)}
                    for _ in range(n_items)
                ],
            }
            if drift and rng.random() < 0.5:
                doc[f"attr_{rng.randrange(1, drift + 1)}"] = rng.randrange(1000)
            # horizontal: one row per document; vertical: arrays
            # explode, sibling arrays as a cross product
            n = 1 if style == "horizontal" else max(1, n_tags) * max(1, n_items)
            rows += n
            amount += doc["amount_cents"] * n
            users += doc["user"]["id"] * n
            docs.append(doc)
        body = json.dumps(docs).encode()
        return style, body, {"rows": rows, "amount": amount, "users": users,
                             "docs": self.docs_per_batch}


# ------------------------------------------------------------ query tables

EVENT_COLS = ("event_id", "user_id", "user_country", "event", "ts",
              "amount", "price", "session_os", "note")


def event_docs(seed: int, n: int) -> tuple[list[dict], dict[str, list]]:
    """``n`` nested event documents plus the flat columns a horizontal
    flatten of them must produce (``note`` is sparse: NULL in 70% of
    rows)."""
    rng = random.Random(seed * 7919 + 1)
    cols: dict[str, list] = {c: [] for c in EVENT_COLS}
    docs = []
    for i in range(n):
        doc = {
            "event_id": i,
            "user": {"id": rng.randrange(USER_IDS), "country": rng.choice(COUNTRIES)},
            "event": rng.choice(EVENTS),
            "ts": T0 + i * 7,
            "amount": rng.randrange(100_000),
            "price": round(rng.uniform(0.5, 500.0), 2),
            "session": {"os": rng.choice(OSES)},
        }
        note = None
        if rng.random() < 0.3:
            note = f"n{rng.randrange(10_000)}"
            doc["note"] = note
        docs.append(doc)
        for c, v in zip(EVENT_COLS, (i, doc["user"]["id"], doc["user"]["country"],
                                     doc["event"], doc["ts"], doc["amount"],
                                     doc["price"], doc["session"]["os"], note)):
            cols[c].append(v)
    return docs, cols


USER_COLS = ("user_id", "plan", "country", "signup_day")


def user_docs(seed: int, n: int) -> tuple[list[dict], dict[str, list]]:
    rng = random.Random(seed * 104_729 + 2)
    cols: dict[str, list] = {c: [] for c in USER_COLS}
    docs = []
    for uid in range(n):
        doc = {"user_id": uid, "plan": rng.choice(PLANS),
               "country": rng.choice(COUNTRIES), "signup_day": rng.randrange(2000)}
        docs.append(doc)
        for c in USER_COLS:
            cols[c].append(doc[c])
    return docs, cols


# ------------------------------------------------------- interactive texts

# Ten templates; 3, 5 and 9 use forms stock Spark rejects (``//``,
# ``QUALIFY``), so their texts cross the dialect bridge on a plan miss.
# ``{k} > 0`` is a nonce: always true, and different in every text the
# run sends, so a fresh text is sure to miss the plan cache.
TEMPLATES = (
    "SELECT user_id, event_id, amount FROM events WHERE user_id >= {u} AND {k} > 0 "
    "ORDER BY user_id, event_id LIMIT 20",
    "SELECT event, count(*) AS n, sum(amount) AS s FROM events "
    "WHERE user_country = '{c}' AND {k} > 0 GROUP BY event ORDER BY event",
    "SELECT user_id, sum(amount) AS s FROM events WHERE event = '{e}' AND {k} > 0 "
    "GROUP BY user_id ORDER BY s DESC, user_id LIMIT 20",
    "SELECT ts // 3600 AS bucket, count(*) AS n, sum(amount) AS s FROM events "
    "WHERE ts >= {t0} AND ts < {t1} AND {k} > 0 GROUP BY 1 ORDER BY 1 LIMIT 100",
    "SELECT u.plan AS plan, count(*) AS n, avg(e.price) AS p FROM events e "
    "JOIN users u ON e.user_id = u.user_id WHERE e.event = '{e}' AND {k} > 0 "
    "GROUP BY u.plan ORDER BY u.plan",
    "SELECT user_id, event_id, amount FROM events WHERE user_country = '{c}' "
    "AND event = '{e}' AND {k} > 0 QUALIFY row_number() OVER "
    "(PARTITION BY user_id ORDER BY amount DESC, event_id) = 1 "
    "ORDER BY amount DESC, event_id LIMIT 20",
    "SELECT session_os, count(DISTINCT user_id) AS users FROM events "
    "WHERE amount > {a} AND {k} > 0 GROUP BY session_os ORDER BY session_os",
    "SELECT count(*) AS n, min(amount) AS lo, max(amount) AS hi, "
    "sum(price) AS p FROM events WHERE ts BETWEEN {t0} AND {t1} AND {k} > 0",
    "SELECT u.country AS country, e.event AS event, count(*) AS n FROM events e "
    "JOIN users u ON e.user_id = u.user_id WHERE u.plan = '{p}' AND {k} > 0 "
    "GROUP BY 1, 2 ORDER BY n DESC, 1, 2 LIMIT 10",
    "SELECT amount // 10000 AS band, count(*) AS n FROM events "
    "WHERE user_country = '{c}' AND {k} > 0 GROUP BY 1 ORDER BY 1",
)
DUCKDB_ONLY = (3, 5, 9)
STOCK = tuple(i for i in range(len(TEMPLATES)) if i not in DUCKDB_ONLY)
FRESH_EVERY = 5  # request 5, 10, 15, … of each client is a fresh text
MAX_CLIENTS = 64


def _fill(template: str, rng: random.Random, n_events: int, k: int) -> str:
    """A template with seeded parameters and nonce ``k``. Answer sizes
    do not depend on the parameters (limits that always fill, fixed
    group counts, ten whole hours of events), so the per-window work
    stays the same from seed to seed."""
    hours = max(1, (n_events * 7) // 3600 - 11)
    t0 = (T0 // 3600 + 1 + rng.randrange(hours)) * 3600
    return template.format(
        u=rng.randrange(USER_IDS // 2), c=rng.choice(COUNTRIES), e=rng.choice(EVENTS),
        t0=t0, t1=t0 + 36_000, a=rng.randrange(10_000, 90_000), p=rng.choice(PLANS), k=k,
    )


class QueryMix:
    """The interactive query stream. ``pool_size`` texts, the same number
    from each template with seeded parameters, repeat; the pool fits the
    engine's 256-entry plan cache. Every ``FRESH_EVERY``-th request of a
    client is instead a fresh text, which misses it: its nonce is used
    by no other text of the run. Fresh texts alternate between the
    DuckDB-only templates, which cross the dialect bridge, and the
    others, starting with a DuckDB-only one. Answers are mostly JSON:
    1 request in 10 asks for NDJSON and 1 in 10 for CSV.

    Each client walks its own seeded permutation of the pool, so every
    window sees the same mix; only the parameters change with the
    seed."""

    def __init__(self, seed: int, n_events: int, pool_size: int = 20):
        self.n_events = n_events
        self.seed = seed
        rng = random.Random(seed * 31 + 3)
        self.pool = [_fill(TEMPLATES[i % len(TEMPLATES)], rng, n_events, k=1 + i)
                     for i in range(pool_size)]

    def stream(self, client: int):
        """Endless (text, format) iterator for one client; a client that
        runs in several windows keeps its iterator."""
        assert 0 <= client < MAX_CLIENTS
        rng = random.Random(self.seed * 1_000_033 + client)
        order = list(self.pool)
        rng.shuffle(order)
        n = j = 0
        while True:
            if n % FRESH_EVERY == FRESH_EVERY - 1:
                group = DUCKDB_ONLY if j % 2 == 0 else STOCK
                tpl = group[(j // 2 + client) % len(group)]
                k = len(self.pool) + 1 + j * MAX_CLIENTS + client
                t = _fill(TEMPLATES[tpl], rng, self.n_events, k)
                j += 1
            else:
                t = order[(n - n // FRESH_EVERY) % len(order)]
            yield t, {3: "ndjson", 6: "csv"}.get(n % 10, "json")
            n += 1


# ---------------------------------------------------- result comparisons


def parse_rows(fmt: str, body: bytes) -> list:
    """Rows of a json / ndjson / csv answer; CSV fields come back as the
    numbers they spell (``null`` as None)."""
    text = body.decode()
    if fmt == "json":
        return json.loads(text)
    if fmt == "ndjson":
        return [json.loads(line) for line in text.splitlines() if line]
    out = []
    for rec in list(csv.reader(io.StringIO(text)))[1:]:
        row = []
        for v in rec:
            if v == "null":
                row.append(None)
                continue
            try:
                row.append(float(v))
            except ValueError:
                row.append(v)
        out.append(row)
    return out


def canonical(rows) -> list[list]:
    """JSON-safe rows with every number as a float (Spark and DuckDB
    type sums and averages differently; values are what is compared)."""
    out = []
    for r in rows:
        vals = r.values() if isinstance(r, dict) else r
        out.append([float(v) if isinstance(v, (int, float)) and not isinstance(v, bool)
                    else v for v in vals])
    return out


def digest(rows: list[list]) -> str:
    """Order-sensitive digest with floats at 12 significant digits."""
    norm = [[f"{v:.12g}" if isinstance(v, float) else v for v in r] for r in rows]
    return hashlib.sha1(json.dumps(norm).encode()).hexdigest()


def same_rows(a: list[list], b: list[list]) -> bool:
    """Ordered equality, floats within 1e-9 relative."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True
