"""Seeded input generators for the benchmark.

Everything the program under test sees is made here from an integer seed:
the raw `events`, `orders` and `documents` tables (same columns and value
shapes as the repository's test fixtures), the interactive workload's
statement and warm-up streams, the order in which the corpus arrives and
the producer's batch split. The same seed always gives identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np

#: every event and order lies in [EPOCH, EPOCH + SPAN_DAYS); the engine's
#: clock is pinned to NOW so `LAST nd` windows are deterministic
EPOCH = datetime(2024, 1, 1)
SPAN_DAYS = 30
NOW = datetime(2024, 1, 31)
N_PARTITIONS = 4  # envelope.N_PARTITIONS: `_partition = key % 4`

EVENT_TYPES = ("view", "click", "purchase", "error", "signup")
ORDER_STATUS = ("O", "F", "P")
ORDER_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def micros(dt: datetime) -> int:
    """Microseconds since the Unix epoch of a naive UTC datetime."""
    return int((dt - datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def events_table(n: int, seed: int):
    """`events`: strictly increasing `ts` across the span, so `ORDER BY _ts`
    has no ties and every LAST window has a unique answer."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    span_us = SPAN_DAYS * 86_400 * 1_000_000 - n
    ts = np.sort(rng.integers(0, span_us, n)) + np.arange(n) + micros(EPOCH)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, 2000, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.uniform(1.0, 500.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def orders_table(n: int, seed: int):
    """`orders` (and, through the envelope, `payments`), dated inside the
    same 30 days as `events` so joins take ordinary LAST windows."""
    import pyarrow as pa

    rng = np.random.default_rng(seed + 1)
    day_us = 86_400 * 1_000_000
    dates = micros(EPOCH) + rng.integers(0, SPAN_DAYS - 1, n) * day_us
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, 15_000, n, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(ORDER_STATUS)[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500_000.0, n), 2)),
            "o_orderdate": pa.array(dates.astype("datetime64[us]")),
            "o_orderpriority": pa.array(
                np.array(ORDER_PRIORITY)[rng.integers(0, 5, n)]
            ),
        }
    )


def documents_table(n: int, seed: int):
    """`documents`: bag-of-words texts from a 30-word vocabulary; one doc in
    twenty is a near-duplicate (an earlier text plus " dup"), as in the
    fixtures, so the dedup stage has clusters to find."""
    import pyarrow as pa

    rng = np.random.default_rng(seed + 2)
    lengths = rng.integers(8, 96, n)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 11:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), lengths[i])]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def permuted(table, seed: int):
    """The same rows in a seed-chosen order."""
    return table.take(np.random.default_rng(seed).permutation(table.num_rows))


def write_table(table, sf_dir: str, name: str) -> str:
    """Write one raw table where `TopicCatalog` looks for it."""
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, f"{name}.parquet")
    pq.write_table(table, path)
    return path


# -- the interactive statement stream ------------------------------------


@dataclass(frozen=True)
class Statement:
    """One KAFSQL statement, the template it was drawn from and the
    template's parameters (the output checks rebuild the answer from them)."""

    kind: str
    sql: str
    params: tuple = ()

    def param(self, name: str):
        return dict(self.params)[name]


#: the fixed dashboard panels: re-issued verbatim, so the result cache can
#: serve every repeat within its TTL. (schema column, topic, LAST days)
DASHBOARD = (
    ("_partition", "events", 7),
    ("event_type", "events", 1),
    ("status", "orders", 3),
    ("method", "payments", 3),
)

#: (kind, weight): the statement mix of the interactive client
MIX = (
    ("dashboard", 30),
    ("range", 25),
    ("agg", 15),
    ("topk", 10),
    ("tail", 7),
    ("join", 7),
    ("meta", 6),
)

META = ("SHOW TOPICS", "SHOW PARTITIONS FROM events", "DESCRIBE orders", "EXPLAIN")


def _randint(rng: np.random.Generator, lo: int, hi: int) -> int:
    """Uniform integer in [lo, hi)."""
    return int(rng.integers(lo, hi))


def _dashboard(panel: int) -> Statement:
    col, topic, days = DASHBOARD[panel]
    latest = ", max(_ts) AS latest" if col == "_partition" else ""
    sql = f"SELECT {col}, count(*) AS n{latest} FROM {topic} LAST {days}d GROUP BY {col}"
    return Statement("dashboard", sql, (("panel", panel),))


def _meta(which: str, days: int) -> Statement:
    sql = (
        f"EXPLAIN SELECT _partition, _offset FROM events LAST {days}d"
        if which == "EXPLAIN"
        else which
    )
    return Statement("meta", sql, (("which", which),))


def statement(kind: str, rng: np.random.Generator, n_events: int) -> Statement:
    """Draw one statement of `kind`. Offsets stay inside each partition's
    `n_events / 4` records, so every range read has a known row count."""
    per_part = n_events // N_PARTITIONS
    if kind == "dashboard":
        return _dashboard(_randint(rng, 0, len(DASHBOARD)))
    if kind == "meta":
        return _meta(META[_randint(rng, 0, len(META))], _randint(rng, 1, SPAN_DAYS))
    if kind == "range":
        width = _randint(rng, 100, 1000)
        lo = _randint(rng, 0, per_part - width)
        part = _randint(rng, 0, N_PARTITIONS)
        sql = (
            f"SELECT _partition, _offset, _ts, _key FROM events "
            f"WHERE _partition = {part} AND _offset >= {lo} "
            f"AND _offset <= {lo + width - 1} LAST {SPAN_DAYS}d LIMIT 100000"
        )
        params = (("partition", part), ("lo", lo), ("hi", lo + width - 1))
    elif kind == "agg":
        days = _randint(rng, 1, 15)
        sql = (
            f"SELECT _partition, count(*) AS n, "
            f"sum(json_value(_value, '$.amount')) AS total FROM events "
            f"LAST {days}d GROUP BY _partition"
        )
        params = (("days", days),)
    elif kind == "topk":
        cut = EPOCH + timedelta(days=_randint(rng, 1, SPAN_DAYS))
        k = _randint(rng, 10, 200)
        sql = (
            f"SELECT _offset, _partition, _ts FROM events "
            f"WHERE _ts <= '{cut:%Y-%m-%d %H:%M:%S}' ORDER BY _ts DESC LIMIT {k}"
        )
        params = (("cut", cut), ("k", k))
    elif kind == "tail":
        n = _randint(rng, 10, 500)
        sql = f"SELECT _partition, _offset, _key FROM events TAIL {n}"
        params = (("n", n),)
    elif kind == "join":
        within, days = _randint(rng, 2, 16), _randint(rng, 1, 3)
        sql = (
            f"SELECT o._key AS okey, json_value(p._value, '$.method') AS method "
            f"FROM orders o JOIN payments p ON o._key = p._key "
            f"WITHIN {within}m LAST {days}d LIMIT 100000"
        )
        params = (("within_min", within), ("days", days))
    else:
        raise ValueError(f"unknown statement kind {kind!r}")
    return Statement(kind, sql, params)


def warmup_stream(seed: int, n_events: int) -> list[Statement]:
    """One statement of every plan shape the mix can send (each kind and
    each introspection statement), then every dashboard panel twice, last:
    the second sighting puts the panel's rows in the result cache, so the
    timed loop starts with the dashboard as a long-lived client sees it."""
    rng = np.random.default_rng(seed)
    panels = [_dashboard(i) for i in range(len(DASHBOARD))]
    return (
        [statement(k, rng, n_events) for k, _ in MIX if k not in ("dashboard", "meta")]
        + [_meta(which, _randint(rng, 1, SPAN_DAYS)) for which in META]
        + panels
        + panels
    )


def statement_stream(seed: int, n: int, n_events: int) -> list[Statement]:
    """`n` statements whose kinds follow MIX closely in every stretch of the
    stream, however short the run: kinds are interleaved by smooth weighted
    round-robin from seeded starting credits, and each statement's
    parameters are drawn from the seed."""
    rng = np.random.default_rng(seed)
    weights = np.array([w for _, w in MIX], dtype=float)
    credit = rng.uniform(0.0, weights.sum(), len(MIX))
    out = []
    for _ in range(n):
        credit += weights
        i = int(np.argmax(credit))
        credit[i] -= weights.sum()
        out.append(statement(MIX[i][0], rng, n_events))
    return out


# -- the producer's batch split --------------------------------------------


def batch_ranges(seed: int, n: int, n_batches: int, jitter: float = 0.3) -> list[tuple[int, int]]:
    """Split arrival positions [0, n) into `n_batches` consecutive half-open
    ranges whose sizes vary by up to +/-`jitter` around n / n_batches."""
    rng = np.random.default_rng(seed)
    w = 1.0 + rng.uniform(-jitter, jitter, n_batches)
    cuts = np.round(np.concatenate([[0.0], np.cumsum(w / w.sum())]) * n).astype(int)
    cuts[-1] = n
    return [(int(a), int(b)) for a, b in zip(cuts[:-1], cuts[1:])]
