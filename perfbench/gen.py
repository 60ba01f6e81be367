"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical inputs and the same planted truth. Inputs are written as
Parquet with pyarrow, before any timing starts, so the engine only ever
sees the generated files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- telemetry

ROW_US = 500_000        # one raw row every 0.5 s
BUCKET_ROWS = 10        # 5 s CPD buckets hold 10 raw rows
LEVELS = np.arange(5_000.0, 60_000.0, 10_000.0)  # load levels, 10 t apart
STATES = ["idle", "loadToDump", "dumping", "TRUCK_JUNK_STATE", None]
SW_STATES = ["start", "stop", "fault", "dump"]
PRNDL = ["park", "drive", "reverse", "n"]


def pg_ts_text(us: int) -> str:
    """Postgres ``timestamptz::text`` of a UTC epoch-microsecond value."""
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))
    s = t.strftime("%Y-%m-%d %H:%M:%S.%f").rstrip("0").rstrip(".")
    return s + "+00"


def event_hash(device_id: str, us: int) -> str:
    """The silver layer's ``raw_event_hash_id``, recomputed with hashlib."""
    return hashlib.sha256(f"{device_id}|{pg_ts_text(us)}".encode()).hexdigest()


@dataclass
class Telemetry:
    path: str
    rows: int                      # raw rows written
    survivors: int                 # rows the silver filter must keep
    partitions: int                # device-date partitions
    # device_date -> epoch seconds of each planted level shift's bucket
    change_points: dict[str, list[int]] = field(default_factory=dict)
    # (device_id, epoch us) of rows whose hash the check recomputes
    hash_sample: list[tuple[str, int]] = field(default_factory=list)


def telemetry(path: str, seed: int, devices: int, dates: int,
              rows_per_part: int) -> Telemetry:
    """Raw, string-typed telemetry (the bronze layer's 11 columns), one
    landing file per device-date partition.

    Load weight follows piecewise-constant levels, 10 t apart, with
    +-300 kg noise; each level lasts 20-40 CPD buckets, so every planted
    shift is far above the PELT penalty and above its min segment size.
    A partition of at least 60 buckets gets at least one shift.
    About 0.5% of rows carry a NULL timestamp or device id, which the
    silver transform must drop."""
    rng = np.random.default_rng([seed, 1])
    day0 = dt.datetime(2025, 7, 28)
    n = rows_per_part
    seq = np.arange(n)
    cols: dict[str, list] = {k: [] for k in (
        "timestamp", "device_id", "system_engaged", "parking_brake_applied",
        "current_position", "current_speed", "load_weight", "state",
        "software_state", "prndl", "extras")}
    truth: dict[str, list[int]] = {}
    sample: list[tuple[str, int]] = []
    dropped = 0
    for d in range(devices):
        dev = f"truck-775g-{d:03d}"
        for k in range(dates):
            day = day0 + dt.timedelta(days=k)
            base_us = int((day - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
            # the partition starts at a random bucket-aligned second
            base_us += int(rng.integers(0, 3600)) * 5 * 1_000_000
            us = base_us + seq * ROW_US + rng.integers(0, 1000, n)
            # piecewise-constant load levels, consecutive levels distinct
            starts, level = [0], np.empty(n)
            cur = rng.integers(0, len(LEVELS))
            pos = 0
            while pos < n:
                seg = int(rng.integers(20, 41)) * BUCKET_ROWS
                level[pos:pos + seg] = LEVELS[cur]
                pos += seg
                if pos <= n - 20 * BUCKET_ROWS:
                    starts.append(pos)
                    cur = (cur + rng.integers(1, len(LEVELS))) % len(LEVELS)
                elif pos < n:
                    level[pos:] = LEVELS[cur]
                    pos = n
            key = f"{dev}_{day:%Y-%m-%d}"
            truth[key] = [int((base_us + s * ROW_US) // 1_000_000) for s in starts[1:]]
            load = level + rng.uniform(-300, 300, n)
            lat = 33.2404 + rng.uniform(0, 0.036, n)
            lon = -97.8407 + rng.uniform(0, 0.0144, n)
            alt = rng.uniform(0, 300, n)
            null_ts = rng.random(n) < 0.003
            null_dev = (rng.random(n) < 0.002) & ~null_ts
            dropped += int(null_ts.sum() + null_dev.sum())
            ts_txt = [
                (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(u))).strftime(
                    "%Y-%m-%d %H:%M:%S.%f")
                for u in us
            ]
            for i in rng.choice(n, 3, replace=False):
                if not (null_ts[i] or null_dev[i]):
                    sample.append((dev, int(us[i])))
            cols["timestamp"] += [None if z else t for z, t in zip(null_ts, ts_txt)]
            cols["device_id"] += [None if z else dev for z in null_dev]
            cols["system_engaged"] += list(np.where(rng.random(n) < 0.5, "t", "f"))
            cols["parking_brake_applied"] += list(
                np.where(rng.random(n) < 0.5, "true", "false"))
            cols["current_position"] += [
                f"{{{a:.7f},{b:.7f},{c:.2f}}}" for a, b, c in zip(lat, lon, alt)]
            cols["current_speed"] += [f"{v:.4f}" for v in rng.uniform(0, 55, n)]
            cols["load_weight"] += [f"{v:.3f}" for v in load]
            cols["state"] += [STATES[i] for i in rng.integers(0, len(STATES), n)]
            cols["software_state"] += [SW_STATES[i] for i in rng.integers(0, 4, n)]
            cols["prndl"] += [PRNDL[i] for i in rng.integers(0, 4, n)]
            cols["extras"] += [f'{{"fw":{i}}}' for i in rng.integers(0, 9, n)]
    # one landing file per device-date partition
    os.makedirs(path)
    table = pa.table({k: pa.array(v, pa.string()) for k, v in cols.items()})
    for i in range(devices * dates):
        pq.write_table(table.slice(i * n, n), f"{path}/part-{i:05d}.parquet")
    return Telemetry(path, table.num_rows, table.num_rows - dropped,
                     devices * dates, truth, sample)


# ------------------------------------------------------------------ corpus

STOPWORD = "the"  # one of the Gopher gate's required stopwords


@dataclass
class Corpus:
    path: str
    eval_path: str
    docs: int
    survivors: set[int]            # ids curate_corpus must return
    exact_groups: list[list[int]]  # byte-identical copies, original first
    near_pairs: list[tuple[int, int]]   # (original, one-word variant)
    contaminated: dict[int, int]   # eval query id -> its corpus copy id


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        w = "".join(rng.choice(letters, int(rng.integers(4, 9))))
        if w not in ("have", "with", "that"):
            words.add(w)
    return sorted(words)


def corpus(path: str, eval_path: str, seed: int, docs: int,
           eval_docs: int) -> Corpus:
    """A document corpus with planted gate failures, exact copies (one
    large copy group plus many pairs), one-word near-duplicates and
    eval-set contamination, at disjoint ids."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(_vocab(rng, 5000))

    def body(words: int) -> list[str]:
        return list(vocab[rng.integers(0, len(vocab), words)])

    texts = [" ".join([STOPWORD] + body(int(rng.integers(40, 61))))
             for _ in range(docs)]
    slots = iter(rng.permutation(docs).tolist())

    def take(k: int) -> list[int]:
        return [next(slots) for _ in range(k)]

    # gate failures: no required stopword, or fewer than 10 words
    for i in take(docs * 8 // 100):
        texts[i] = " ".join(body(50))
    for i in take(docs * 7 // 100):
        texts[i] = " ".join([STOPWORD] + body(5))
    # exact copies: one large group, then pairs
    exact_groups = [take(1 + docs // 400)]
    exact_groups += [take(2) for _ in range(docs * 4 // 100 // 2)]
    for g in exact_groups:
        for i in g[1:]:
            texts[i] = texts[g[0]]
    # near duplicates: the variant differs in exactly one word
    near_pairs = []
    for _ in range(docs * 5 // 100):
        a, b = take(2)
        words = texts[a].split(" ")
        j = int(rng.integers(1, len(words)))
        words[j] = next(w for w in vocab[rng.integers(0, len(vocab), 4)]
                        if w != words[j])
        texts[b] = " ".join(words)
        near_pairs.append((a, b))
    # contamination: each eval document is copied verbatim into the corpus
    eval_texts = [" ".join([STOPWORD] + body(int(rng.integers(40, 61))))
                  for _ in range(eval_docs)]
    contaminated = {}
    for q, i in enumerate(take(eval_docs)):
        texts[i] = eval_texts[q]
        contaminated[q] = i

    # the corpus lands as 8 shards, the eval set as one file
    os.makedirs(path)
    shard = -(-docs // 8)
    for i in range(0, docs, shard):
        pq.write_table(pa.table({
            "doc_id": pa.array(range(i, min(i + shard, docs)), pa.int64()),
            "text": pa.array(texts[i:i + shard], pa.string())}),
            f"{path}/part-{i // shard:05d}.parquet")
    pq.write_table(pa.table({"qid": pa.array(range(eval_docs), pa.int64()),
                             "text": pa.array(eval_texts, pa.string())}),
                   eval_path)
    return Corpus(path, eval_path, docs,
                  _expected_survivors(texts, eval_texts),
                  exact_groups, near_pairs, contaminated)


def _grams(words: list[str], n: int) -> set[tuple[str, ...]]:
    return {tuple(words[i:i + n]) for i in range(len(words) - n + 1)}


def _expected_survivors(texts: list[str], eval_texts: list[str]) -> set[int]:
    """The curation chain's result recomputed in plain Python: the Gopher
    gate (>=10 words, >=1 required stopword; every other Gopher signal
    passes by construction), keep-lowest-id exact dedup, then drop any
    document sharing a word 4-gram with the eval set."""
    first: dict[str, int] = {}
    for i, t in enumerate(texts):
        w = t.split(" ")
        if len(w) >= 10 and STOPWORD in w and t not in first:
            first[t] = i
    dirty: set[tuple[str, ...]] = set()
    for t in eval_texts:
        dirty |= _grams(t.split(" "), 4)
    return {i for t, i in first.items() if not (_grams(t.split(" "), 4) & dirty)}


# -------------------------------------------------------------- analytics

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def analytic_tables(out_dir: str, seed: int, lineitems: int,
                    events: int) -> dict[str, int]:
    """TPC-H-shaped lineitem/orders/customer plus an ``events`` stream,
    in the schemas of the engine's contract queries. The event values the
    queries average and round are whole numbers: their sums are exact in
    any order, and an average over fewer than 128 of them never lands on
    a rounding tie at the sixth decimal. Returns rows per table."""
    rng = np.random.default_rng([seed, 3])
    n_ord, n_cust = lineitems // 4, max(lineitems // 40, 10)
    epoch = np.datetime64("1970-01-01T00:00:00", "us")

    def days(lo: str, hi: str, k: int) -> np.ndarray:
        a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
        return (a + rng.integers(0, (b - a).astype(np.int64), k)).astype(
            "datetime64[us]")

    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n_ord), 2)),
        "o_orderdate": pa.array(days("1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]),
    })
    qty = rng.integers(1, 51, lineitems).astype(float)
    price = (90_000 + rng.integers(0, 110_000, lineitems)) / 100.0
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, lineitems), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, lineitems), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, lineitems), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitems), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price, 2)),
        "l_discount": pa.array(rng.integers(0, 11, lineitems) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, lineitems) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, lineitems)]),
        "l_linestatus": pa.array([("O", "F")[i] for i in rng.integers(0, 2, lineitems)]),
        "l_shipdate": pa.array(days("1995-01-01", "2001-12-01", lineitems)),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, events)) + (
        np.datetime64("2024-01-01T00:00:00", "us") - epoch).astype(np.int64)
    events_t = pa.table({
        "event_id": pa.array(np.arange(events), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, max(events // 60, 5), events), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, events)]),
        "value": pa.array(rng.integers(1, 500, events).astype(float)),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, events)]),
    })
    tables = {"customer": customer, "orders": orders,
              "lineitem": lineitem, "events": events_t}
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
