"""Seeded load generator for the benchmark.

Two kinds of input:

* An MQTT replay corpus (JSON lines in the ``mqtt-replay`` source format)
  for the streaming workloads, plus the counts the engine must produce
  from it. The counts are computed here with an MQTT filter matcher of
  our own, not the engine's, so the conservation checks are independent.
* Monitoring tables (``events``, ``documents``) for the batch workloads,
  generated from a fixed data seed, so their DuckDB oracle digests can be
  computed once and stored with the benchmark (``oracle.json``).

The batch tables are calibrated against the repository's sf0.1 test
tables (``python3 perfbench/calibrate.py <sf0.1 dir>`` prints both
columns; the benchmark itself never reads that directory):

=============================  ==================  ==================
statistic                      sf0.1               generated
=============================  ==================  ==================
events rows, days, users       100,000, 30, 1,500  100,000, 30, 1,500
event types (largest share)    5 (0.203)           5 (0.202)
distinct ``props``             100                 100
value mean / p50 / p99         49.9 / 34.8 / 228   49.9 / 34.4 / 230
events per user, median        66                  67
documents rows                 5,000               5,000
tokens per doc p10/p50/p90     19 / 54 / 90        18 / 56 / 92
vocabulary (largest share)     31 (0.034)          31 (0.034)
docs ending in ``dup``         250                 250
docs in exact-copy groups      16                  10
English share, sources         0.412, 20           0.416, 20
dedup oracle pairs             256                 263
=============================  ==================  ==================

The panel oracles' row counts agree the same way (e.g. 128,512 against
128,249 rows for ``mqtt_fanout_window_rate``, equal for five panels).

The corpus's settings are chosen, not measured, except the hot share:

* two brokers with different filter sets, because per-broker fan-out is
  the production composition (each message is matched only against its
  own broker's filters, and a broker that has no filter for a topic
  counts it under ``unknown``); the 60/40 message split between them is
  arbitrary, uneven only so a per-broker mix-up changes the counts;
* one hot filter carrying ~18% of the traffic, the share the reference's
  busiest filter has (~1,833 of 10k msg/s), so key skew is present; the
  other family shares are arbitrary, chosen so every configured filter
  and the ``unknown`` fallback receive traffic;
* a fixed share (5%, arbitrary) of events out of order by up to 90 s,
  inside the jobs' 2-minute watermark, so no event is late and every
  event is counted;
* about ten minutes of event time, so that one-minute rate windows close
  (the watermark passes them) during the replay and append-mode output
  is exercised, not only the final flush.
"""

from __future__ import annotations

import json
import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta

CONNECTION_TOPIC = "$connection"
WATERMARK_S = 120
WINDOW_S = 60
MAX_DISORDER_S = 90
OUT_OF_ORDER_SHARE = 0.05
HOT_SHARE = 0.183
CORPUS_START = datetime(2024, 1, 1)

#: Broker address -> subscribed topic filters, as a two-broker deployment
#: config would list them.
BROKERS: dict[str, tuple[str, ...]] = {
    "tcp://mqtt.hsl.fi:1883": (
        "/hfp/v2/journey/#",
        "/hfp/v2/journey/ongoing/+/+/+/+/7280/#",
        "/hfp/v2/journey/ongoing/+/ferry/#",
        "/hfp/v2/journey/ongoing/+/metro/#",
        "/hfp/v2/journey/ongoing/apc/#",
    ),
    "wss://mqtt-dev.hsl.fi:443": (
        "/hfp/v2/journey/#",
        "gtfsrt/v2/fi/hsl/tu",
        "gtfsrt/dev/fi/hsl/sa",
        "gtfsrt/dev/fi/hsl/vp/#",
    ),
}

# topic family -> share of messages; "hot" is the 7280 route family that
# the second filter of the first broker selects
_FAMILIES = (
    ("hot", HOT_SHARE),
    ("bus", 0.35),
    ("ferry", 0.08),
    ("metro", 0.08),
    ("apc", 0.06),
    ("tu", 0.08),
    ("vp", 0.06),
    ("sa", 0.03),
    ("other", 1.0 - HOT_SHARE - 0.35 - 0.08 - 0.08 - 0.06 - 0.08 - 0.06 - 0.03),
)


def _topic(family: str, rng: random.Random) -> str:
    veh = rng.randrange(1, 1500)
    route = rng.choice(("1001", "2550", "4611", "550", "9787"))
    if family == "hot":
        return f"/hfp/v2/journey/ongoing/vp/bus/0012/{veh:05d}/7280/1"
    if family in ("bus", "ferry", "metro"):
        return f"/hfp/v2/journey/ongoing/vp/{family}/0022/{veh:05d}/{route}/2"
    if family == "apc":
        return f"/hfp/v2/journey/ongoing/apc/bus/0018/{veh:05d}/{route}/1"
    if family == "tu":
        return "gtfsrt/v2/fi/hsl/tu"
    if family == "sa":
        return "gtfsrt/dev/fi/hsl/sa"
    if family == "vp":
        return f"gtfsrt/dev/fi/hsl/vp/{veh}"
    return f"ext/telemetry/{veh}"


def topic_matches(topic: str, topic_filter: str) -> bool:
    """MQTT filter match: ``+`` is one whole level, ``#`` is every
    remaining level (zero or more), a leading ``/`` is an empty level."""
    t, f = topic.split("/"), topic_filter.split("/")
    for i, part in enumerate(f):
        if part == "#":
            return True
        if i >= len(t) or (part != "+" and part != t[i]):
            return False
    return len(t) == len(f)


@dataclass
class Corpus:
    """One replay corpus and the outputs the engine must produce from it.

    Every count is per broker reader: each configured broker gets its own
    replay reader over the same file, so the union stream carries every
    line ``readers`` times. ``rate_rows`` holds only the windows that the
    final watermark closes.
    """

    lines: list[str]
    readers: int
    messages: int  # message lines (connection events excluded)
    closed_messages: int  # messages inside the windows the watermark closes
    counters: dict[tuple[str, str], int] = field(default_factory=dict)
    rate_rows: dict[tuple[str, str, str], int] = field(default_factory=dict)
    connection: dict[str, tuple[int, int]] = field(default_factory=dict)

    @property
    def union_rows(self) -> int:
        """Rows the union stream delivers to each query."""
        return len(self.lines) * self.readers

    def write(self, path: str) -> str:
        with open(path, "w") as f:
            f.write("\n".join(self.lines) + "\n")
        return path


def make_corpus(
    seed: int,
    n_messages: int,
    span_s: float = 630.0,
    brokers: dict[str, tuple[str, ...]] = BROKERS,
) -> Corpus:
    """Seeded corpus of ``n_messages`` messages over ``span_s`` seconds of
    event time, with connect events up front and one connection drop and
    reconnect on the second broker half way through."""
    rng = random.Random(seed)
    names = [b for b in brokers]
    shares = [s for _, s in _FAMILIES]
    families = [f for f, _ in _FAMILIES]
    recs: list[dict] = [
        {"broker": b, "topic": CONNECTION_TOPIC, "payload": "connect",
         "ts": CORPUS_START.isoformat()}
        for b in names
    ]
    drop_at = n_messages // 2
    step = span_s / n_messages
    for i in range(n_messages):
        base = CORPUS_START + timedelta(seconds=i * step)
        if i == drop_at:
            for k, event in enumerate(("connection_lost", "connect")):
                recs.append({"broker": names[-1], "topic": CONNECTION_TOPIC,
                             "payload": event,
                             "ts": (base + timedelta(seconds=k)).isoformat()})
        ts = base
        if rng.random() < OUT_OF_ORDER_SHARE:
            ts = base - timedelta(seconds=rng.uniform(1.0, MAX_DISORDER_S))
        family = rng.choices(families, shares)[0]
        recs.append({
            "broker": names[0] if rng.random() < 0.6 else names[1],
            "topic": _topic(family, rng),
            "payload": json.dumps({"spd": round(rng.uniform(0, 30), 1)}),
            "ts": ts.isoformat(timespec="microseconds"),
        })
    return expected_counts(recs, brokers)


def expected_counts(
    recs: list[dict], brokers: dict[str, tuple[str, ...]] = BROKERS
) -> Corpus:
    """What the counter, connection-state and windowed-rate jobs must emit
    for ``recs`` replayed once per configured broker.

    A window ``[start, start + 60 s)`` is emitted in append mode once the
    watermark, max event time minus two minutes, reaches its end; the
    windows the final watermark has not reached stay open and emit
    nothing. An out-of-order event counts in the window of its own
    timestamp, not of its position in the file."""
    readers = len(brokers)
    counters: Counter = Counter()
    windows: Counter = Counter()
    last: dict[str, tuple] = {}  # latest (ts, event) per broker
    lost: Counter = Counter()
    max_ts = max(datetime.fromisoformat(r["ts"]) for r in recs)
    final_wm = max_ts - timedelta(seconds=WATERMARK_S)
    messages = closed = 0
    for r in recs:
        broker, topic = r["broker"], r["topic"]
        ts = datetime.fromisoformat(r["ts"])
        if topic == CONNECTION_TOPIC:
            last[broker] = max(last.get(broker, (ts, "")), (ts, r["payload"]))
            lost[broker] += r["payload"] == "connection_lost"
            continue
        messages += 1
        matched = [f for f in dict.fromkeys(brokers[broker])
                   if topic_matches(topic, f)] or ["unknown"]
        start = ts.replace(second=0, microsecond=0)
        is_closed = start + timedelta(seconds=WINDOW_S) <= final_wm
        closed += is_closed
        for f in matched:
            counters[(broker, f)] += readers
            if is_closed:
                windows[(start.isoformat(), broker, f)] += readers
    return Corpus(
        lines=[json.dumps(r) for r in recs],
        readers=readers,
        messages=messages,
        closed_messages=closed,
        counters=dict(counters),
        rate_rows=dict(windows),
        connection={b: (int(last[b][1] == "connect"), lost[b] * readers)
                    for b in last},
    )


# ---------------------------------------------------------------------------
# Batch tables
# ---------------------------------------------------------------------------

#: Data seed of the batch tables. Fixed so the stored oracle digests stay
#: valid; the run seed only shuffles the query order.
DATA_SEED = 42
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("de", 0.14), ("fr", 0.15), ("es", 0.15))


def events_table(n: int, seed: int = DATA_SEED):
    """``events``: ``n`` rows over 30 days, 1500 users, five event types,
    exponential values (mean 50), ``props`` JSON with 100 distinct keys."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    span_us = 30 * 86_400 * 1_000_000
    start_us = (CORPUS_START - datetime(1970, 1, 1)) // timedelta(microseconds=1)
    ts = np.sort(rng.integers(0, span_us, n)) + start_us
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, 5, n)], pa.string()
        ),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
        ),
    })


def documents_table(n: int, seed: int = DATA_SEED):
    """``documents``: ``n`` texts of 10-100 words from a 30-word vocabulary;
    5% are another document's text plus the token ``dup`` (planted
    near-duplicates, a few of them copies of each other)."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed + 1)
    texts = [
        " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k))
        for k in rng.integers(10, 101, n)
    ]
    for i in sorted(rng.choice(n, n // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = [x for x, _ in LANGS]
    probs = np.array([p for _, p in LANGS])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(
            [langs[i] for i in rng.choice(len(langs), n, p=probs / probs.sum())],
            pa.string(),
        ),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


#: (events rows, documents rows) per batch input size: the sf0.1 test
#: tables' row counts.
SIZES = {"full": (100_000, 5_000)}


def write_tables(out_dir: str, size: str = "full") -> str:
    """Write ``events.parquet`` and ``documents.parquet`` under ``out_dir``."""
    import os

    import pyarrow.parquet as pq

    n_events, n_docs = SIZES[size]
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(events_table(n_events), os.path.join(out_dir, "events.parquet"))
    pq.write_table(
        documents_table(n_docs), os.path.join(out_dir, "documents.parquet")
    )
    return out_dir

