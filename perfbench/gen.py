"""Seeded input generators. Pure Python: no Spark, no clock.

Every generator takes the seed as an argument and returns fully built
inputs, so a workload builds all of its input before it starts timing
and the same seed always gives byte-identical inputs.

- :func:`backfill_slices` builds binary pgoutput frame slices for one
  replication slot: BEGIN/COMMIT-wrapped transactions, one hot key that
  takes :data:`HOT_SHARE` of all changes, and a mid-stream migration that
  re-announces the relation with an added ``phone_number`` column (the
  reference's migration 002). Every slice opens with its Relation
  frame, because ``parse_pgoutput_binary`` resolves relation context
  inside one batch only.
- :func:`tail_log` builds the pgoutput-JSON change log of the tail that
  follows the backfill, with an open-loop arrival schedule.
- :func:`write_analytics_tables` writes the star-schema and corpus
  tables the read-only query mix runs on, in the shape of the repo's
  sf0.01 test data (:data:`ANALYTICS_ROWS`).
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import cdc_spark.cdc.pgoutput_wire as W

SCHEMA = "public"
TABLE = "accounts"
KEYS = ["id"]
PAYLOAD = ["seg", "bal", "phone_number"]
REL_ID = 16385
_MODE = 0xFFFFFFFF
# (is_key, name, type oid): bigint, text, double precision, text
COLUMNS_V1 = [(True, "id", 20), (False, "seg", 25), (False, "bal", 701)]
COLUMNS_V2 = COLUMNS_V1 + [(False, "phone_number", 25)]
N_SEGMENTS = 24
HOT_KEY = 0
HOT_SHARE = 0.3  # share of backfill changes that update HOT_KEY
BACKFILL_TX = 16  # changes per backfill transaction
TAIL_TX_MEAN = 4  # mean changes per tail transaction


@dataclass(frozen=True)
class Change:
    """One row change in source order. ``image`` is the full new row
    (column name -> text value) for 'c'/'u' and None for 'd'."""

    lsn: int
    op: str
    key: int
    image: dict | None


@dataclass
class Slice:
    """One backfill micro-batch: ``rows`` are ``(order, frame)`` pairs
    with a slot-global order, ``changes`` the row changes they carry
    (lsn = the frame's order, which is what the decoder reports)."""

    rows: list[tuple[int, bytes]]
    changes: list[Change]


@dataclass(frozen=True)
class TailChange:
    """A pgoutput-JSON change due ``due_s`` seconds after the tail
    starts; all changes of one transaction share one due time."""

    due_s: float
    change: Change
    doc: str


def _image(rng: random.Random, key: int, with_phone: bool) -> dict:
    img = {
        "id": str(key),
        "seg": f"seg{rng.randrange(N_SEGMENTS):02d}",
        "bal": f"{rng.randrange(-50_000, 1_000_000) / 100:.2f}",
    }
    if with_phone:
        img["phone_number"] = f"555-{rng.randrange(10_000):04d}"
    return img


def _cells(image: dict, columns) -> list[tuple[str, str | None]]:
    return [("t", image[name]) for _, name, _ in columns]


def backfill_slices(
    seed: int, slice_sizes: list[int], *, migrate_at: int = 1
) -> list[Slice]:
    """Binary frame slices of ``slice_sizes`` row changes each.

    Changes are mostly inserts of fresh keys; :data:`HOT_SHARE` of them
    update :data:`HOT_KEY`, and a few update or delete earlier keys.
    Slice ``migrate_at`` and every later one announce the relation with
    the added column, and their row images carry it."""
    rng = random.Random(seed)
    slices: list[Slice] = []
    order = 0
    next_key = HOT_KEY
    live: list[int] = []
    for s, size in enumerate(slice_sizes):
        migrated = s >= migrate_at
        cols = COLUMNS_V2 if migrated else COLUMNS_V1
        frames = [
            W.encode_relation(
                REL_ID,
                SCHEMA,
                TABLE,
                ord("d"),
                [(k, n, oid, _MODE) for k, n, oid in cols],
            )
        ]
        changes: list[Change] = []
        lsns: list[int] = []
        done = 0
        while done < size:
            n_tx = min(BACKFILL_TX, size - done)
            # BEGIN carries its own order as its lsn; row frames follow
            frames.append(
                W.encode_begin(order + len(frames), 1_000 * s, 10_000 * s + done)
            )
            for _ in range(n_tx):
                r = rng.random()
                if next_key == HOT_KEY or (r >= HOT_SHARE + 0.06):
                    key, op = next_key, "c"
                    next_key += 1
                    live.append(key)
                elif r < HOT_SHARE:
                    key, op = HOT_KEY, "u"
                elif r < HOT_SHARE + 0.04 or len(live) < 2:
                    key, op = live[rng.randrange(len(live))], "u"
                else:
                    i = rng.randrange(1, len(live))  # never the hot key
                    key, op = live[i], "d"
                    live[i] = live[-1]
                    live.pop()
                if op == "d":
                    frames.append(W.encode_delete(REL_ID, [("t", str(key))]))
                    image = None
                else:
                    image = _image(rng, key, migrated)
                    cells = _cells(image, cols)
                    frames.append(
                        W.encode_insert(REL_ID, cells)
                        if op == "c"
                        else W.encode_update(
                            REL_ID, cells, old=[("t", str(key))], old_kind="K"
                        )
                    )
                lsns.append(len(frames) - 1)
                changes.append(Change(0, op, key, image))
            frames.append(W.encode_commit(order, order + 1, 1_000 * s))
            done += n_tx
        rows = [(order + i, f) for i, f in enumerate(frames)]
        changes = [
            Change(order + i, c.op, c.key, c.image) for i, c in zip(lsns, changes)
        ]
        order += len(frames)
        slices.append(Slice(rows, changes))
    return slices


def _json_doc(c: Change, tx_id: int) -> str:
    d: dict = {
        "op": c.op,
        "schema": SCHEMA,
        "table": TABLE,
        "lsn": c.lsn,
        "tx_id": tx_id,
        "key": {"id": str(c.key)},
    }
    if c.image is not None:
        d["after"] = c.image
    return json.dumps(d, separators=(",", ":"))


def tail_log(
    seed: int,
    live_keys: list[int],
    *,
    first_lsn: int,
    first_new_key: int,
    rate: float,
    seconds: float,
) -> list[TailChange]:
    """Open-loop tail: transactions of 1..2*TAIL_TX_MEAN-1 changes arrive
    as a Poisson process at ``rate`` changes per second for
    ``seconds`` seconds. ~80 % updates of live keys, ~10 % deletes,
    ~10 % inserts (half of them re-insert a deleted key). Every image
    carries the migrated column."""
    rng = random.Random(seed ^ 0x7A11)
    live = [k for k in live_keys if k != HOT_KEY]
    dead: list[int] = []
    next_key = first_new_key
    lsn = first_lsn
    out: list[TailChange] = []
    t = 0.0
    tx = 0
    while True:
        n = rng.randint(1, 2 * TAIL_TX_MEAN - 1)
        t += rng.expovariate(rate / TAIL_TX_MEAN)
        if t >= seconds:
            return out
        tx += 1
        for _ in range(n):
            r = rng.random()
            if r < 0.8:
                key, op = live[rng.randrange(len(live))], "u"
            elif r < 0.9:
                i = rng.randrange(len(live))
                key, op = live[i], "d"
                live[i] = live[-1]
                live.pop()
                dead.append(key)
            else:
                if dead and rng.random() < 0.5:
                    key = dead.pop(rng.randrange(len(dead)))
                else:
                    key, next_key = next_key, next_key + 1
                op = "c"
                live.append(key)
            image = None if op == "d" else _image(rng, key, True)
            c = Change(lsn, op, key, image)
            out.append(TailChange(t, c, _json_doc(c, tx)))
            lsn += 1


# --- analytics tables ----------------------------------------------------

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small big query filter "
    "stream group customer index shard delta commit log replica slot"
).split()


# rows per table of the repo's sf0.01 test data (lineitem: ~4 lines per
# order, so ~60k rows); nation and region are fixed
ANALYTICS_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}


def write_analytics_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the ten query-layer tables (TPC-H-like star schema plus
    ``events``, ``documents`` and ``embeddings``) as one parquet file
    each under ``out_dir``, with :data:`ANALYTICS_ROWS` rows; returns
    rows per table."""
    import datetime as dt

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_ord, n_ev, n_doc, n_emb = (
        ANALYTICS_ROWS[t]
        for t in (
            "customer", "supplier", "part", "orders", "events", "documents",
            "embeddings",
        )
    )
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def money(lo, hi, n):
        return np.round(g.integers(lo * 100, hi * 100, n) / 100, 2)

    def days(base: dt.datetime, offs):
        return [base + dt.timedelta(days=int(d)) for d in offs]

    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), i32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(range(n_cust), i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(g.integers(0, 25, n_cust), i32),
                "c_acctbal": pa.array(money(-999, 9999, n_cust), f64),
                "c_mktsegment": list(
                    g.choice(
                        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"],
                        n_cust,
                    )
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(range(n_supp), i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(g.integers(0, 25, n_supp), i32),
                "s_acctbal": pa.array(money(-999, 9999, n_supp), f64),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(range(n_part), i64),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        g.choice(["blue", "red", "small", "old", "new", "hot"], n_part),
                        g.choice(["bolt", "gear", "ring", "rod", "anvil", "widget"], n_part),
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
                "p_type": list(
                    g.choice(
                        ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"],
                        n_part,
                    )
                ),
                "p_size": pa.array(g.integers(1, 51, n_part), i32),
                "p_retailprice": pa.array(money(900, 2000, n_part), f64),
            }
        ),
    }
    base = dt.datetime(1995, 1, 1)
    odays = g.integers(0, 2400, n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_ord), i64),
            "o_custkey": pa.array(g.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": list(g.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(money(1000, 500_000, n_ord), f64),
            "o_orderdate": pa.array(days(base, odays), ts),
            "o_orderpriority": list(
                g.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_ord,
                )
            ),
        }
    )
    lines = g.integers(1, 8, n_ord)
    l_ok = np.repeat(np.arange(n_ord), lines)
    l_no = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(l_ok)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_ok, i64),
            "l_partkey": pa.array(g.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(g.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(l_no, i32),
            "l_quantity": pa.array(g.integers(1, 51, n_li).astype(float), f64),
            "l_extendedprice": pa.array(money(900, 105_000, n_li), f64),
            "l_discount": pa.array(g.integers(0, 11, n_li) / 100, f64),
            "l_tax": pa.array(g.integers(0, 9, n_li) / 100, f64),
            "l_returnflag": list(g.choice(["A", "N", "R"], n_li)),
            "l_linestatus": list(g.choice(["O", "F"], n_li)),
            "l_shipdate": pa.array(
                days(base, odays[l_ok] + g.integers(1, 122, n_li)), ts
            ),
        }
    )
    # strictly increasing event times: as-of joins never see ties
    gaps = g.integers(1, 600_000_000, n_ev)
    ev0 = dt.datetime(2024, 1, 1)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(range(n_ev), i64),
            "ts": pa.array(
                [ev0 + dt.timedelta(microseconds=int(u)) for u in np.cumsum(gaps)],
                ts,
            ),
            "user_id": pa.array(g.integers(0, 150, n_ev), i64),
            "event_type": list(
                g.choice(["click", "view", "purchase", "signup", "error"], n_ev)
            ),
            "value": pa.array(money(0, 490, n_ev), f64),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and g.random() < 0.15:
            # near-duplicate of an earlier document: one word replaced
            words = texts[int(g.integers(0, i))].split(" ")
            words[int(g.integers(0, len(words)))] = str(g.choice(_WORDS))
        else:
            words = list(g.choice(_WORDS, int(g.integers(10, 90))))
        texts.append(" ".join(words))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_doc), i64),
            "text": texts,
            "lang": list(g.choice(["en", "de", "fr", "es", "zh"], n_doc)),
            "source": [f"src{k}" for k in g.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    emb = g.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_emb), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(g.integers(0, 10, n_emb), i32),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
