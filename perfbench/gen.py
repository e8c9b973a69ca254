"""Seeded input generator for the benchmark.

Every table has the schema of the repository's test fixtures (FIXTURES.md):
the TPC-H-ish star schema, ``events``, ``documents`` and ``embeddings``.
Values are drawn from the same domains the fixtures use (vocabulary,
segments, brands, date ranges, unit-norm embeddings), then three
shape-preserving transforms make each seed a different input:

- a seeded permutation of the row order;
- a seeded key offset, a multiple of ``KEY_STRIDE`` so every ``key % m``
  device the operators use sees the same residues (the rule
  ``tests/make_scale_fixture.py`` follows);
- a seeded word suffix on document text, so two seeds never share a
  corpus and every corpus memo of the program starts cold.

The same ``(seed, sizes)`` always gives byte-identical parquet files.
Nothing here imports Spark: the program sees only the files.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_STRIDE = 25_200_000  # multiple of lcm(1..10) * 90, as in make_scale_fixture

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

DAY_US = 86_400_000_000
ORDER_EPOCH = datetime.datetime(1995, 1, 1)
EVENT_EPOCH = datetime.datetime(2024, 1, 1)


@dataclass(frozen=True)
class Sizes:
    """Row counts of the generated tables (region and nation are fixed)."""

    customer: int
    supplier: int
    part: int
    orders: int
    lineitem: int
    events: int
    documents: int
    embeddings: int

    @classmethod
    def scaled(cls, sf: float) -> Sizes:
        """Fixture proportions at scale factor ``sf`` (sf0.1 is 600k
        lineitem); the corpus tables keep the fixtures' 500-row floor."""
        return cls(
            customer=int(150_000 * sf),
            supplier=max(10, int(10_000 * sf)),
            part=int(200_000 * sf),
            orders=int(1_500_000 * sf),
            lineitem=int(6_000_000 * sf),
            events=int(1_000_000 * sf),
            documents=max(500, int(50_000 * sf)),
            embeddings=max(500, int(20_000 * sf)),
        )


def _rng(*parts: int) -> np.random.Generator:
    return np.random.default_rng(list(parts))


def key_offset(seed: int) -> int:
    return (seed % 8) * KEY_STRIDE


def _write(path: str, table: pa.Table, rng: np.random.Generator) -> None:
    """Write ``table`` in a seeded row order."""
    perm = rng.permutation(table.num_rows)
    pq.write_table(table.take(pa.array(perm)), path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(epoch: datetime.datetime, micros: np.ndarray, unit: str, tz=None):
    base = int(epoch.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6)
    vals = base + micros.astype(np.int64)
    if unit == "ms":
        vals = vals // 1000
    return pa.array(vals, pa.timestamp(unit, tz=tz))


def star_tables(seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders, lineitem."""
    rng = _rng(seed, 1)
    off = key_offset(seed)
    n = sizes
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    ck = np.arange(n.customer)
    out["customer"] = pa.table({
        "c_custkey": pa.array(ck + off, pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n.customer), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n.customer),
        "c_mktsegment": rng.choice(SEGMENTS, n.customer),
    })
    sk = np.arange(n.supplier)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(sk + off, pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n.supplier), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n.supplier),
    })
    pk = np.arange(n.part)
    names = [f"{a} {b}" for a, b in zip(
        rng.choice(PART_ADJ, n.part), rng.choice(PART_NOUN, n.part))]
    price = np.round(900.0 + (pk % 1000) / 10.0, 1)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk + off, pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n.part)],
        "p_type": rng.choice(PART_TYPES, n.part),
        "p_size": pa.array(rng.integers(1, 51, n.part), pa.int32()),
        "p_retailprice": price,
    })
    span_days = (datetime.datetime(2001, 8, 1) - ORDER_EPOCH).days
    odays = rng.integers(0, span_days + 1, n.orders)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n.orders) + off, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n.customer, n.orders) + off, pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n.orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n.orders),
        "o_orderdate": _ts(ORDER_EPOCH, odays * DAY_US, "ms"),
        "o_orderpriority": rng.choice(PRIORITIES, n.orders),
    })
    li = n.lineitem
    part_of = rng.integers(0, n.part, li)
    qty = rng.integers(1, 51, li).astype(float)
    sdays = rng.integers(1, span_days + 95, li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n.orders, li) + off, pa.int64()),
        "l_partkey": pa.array(part_of + off, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n.supplier, li) + off, pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[part_of] * rng.uniform(0.9, 2.1, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts(ORDER_EPOCH, sdays * DAY_US, "ms"),
    })
    return out


def events_columns(seed: int, n: int, first_id: int = 0, tz=None) -> dict:
    """Event rows ``first_id .. first_id+n`` in event-time order."""
    rng = _rng(seed, 2, first_id)
    off = key_offset(seed)
    span = 30 * DAY_US
    micros = np.sort(rng.choice(span, n, replace=False))
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n) + off, pa.int64()),
        "ts": _ts(EVENT_EPOCH, micros, "us", tz=tz),
        "user_id": pa.array(rng.integers(0, max(10, n // 66), n) + off, pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def corpus_tables(seed: int, n_docs: int, n_vecs: int, tag: int = 0) -> dict[str, pa.Table]:
    """documents + embeddings. ``tag`` selects one of a seed's corpora:
    its word suffix makes the text of every ``(seed, tag)`` distinct."""
    rng = _rng(seed, 3, tag)
    off = key_offset(seed)
    suffix = f"_s{seed}t{tag}"
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.08:
            # near-duplicate of an earlier document: a few words changed
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 1 + int(rng.integers(0, 3))):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))] + suffix
            words.append("dup" + suffix)
        else:
            length = int(rng.integers(8, 95))
            words = [VOCAB[w] + suffix for w in rng.integers(0, len(VOCAB), length)]
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs) + off, pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(0.0, 1.0, (n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs) + off, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return {"documents": documents, "embeddings": embeddings}


def write_fixture(out_dir: str, seed: int, sizes: Sizes, tables=None) -> dict[str, int]:
    """Write the fixture tables (all ten, or ``tables``) as
    ``<out_dir>/<name>.parquet``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    all_tables = dict(star_tables(seed, sizes))
    all_tables["events"] = pa.table(events_columns(seed, sizes.events))
    all_tables.update(corpus_tables(seed, sizes.documents, sizes.embeddings))
    rng = _rng(seed, 9)
    rows = {}
    for name, table in all_tables.items():
        if tables is None or name in tables:
            _write(os.path.join(out_dir, f"{name}.parquet"), table, rng)
            rows[name] = table.num_rows
    return rows


def write_corpus(out_dir: str, seed: int, tag: int, n_docs: int, n_vecs: int) -> dict[str, int]:
    """A fresh corpus fixture directory for one corpus pass."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 10, tag)
    rows = {}
    for name, table in corpus_tables(seed, n_docs, n_vecs, tag).items():
        _write(os.path.join(out_dir, f"{name}.parquet"), table, rng)
        rows[name] = table.num_rows
    return rows


# --------------------------------------------------------------------- CDC

CHANGE_SCHEMA_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING, op STRING"
)


class ChangeLog:
    """The replica's expected state, kept as a plain dict, and the seeded
    change files that move it.

    The state is computed independently of the program: the seed snapshot
    plus every change in file order, applied here in Python. Each file
    holds ``batch`` changes on distinct keys: ~60% updates skewed toward
    recent keys, ~25% inserts of new keys and ~15% deletes.
    """

    def __init__(self, seed: int, replica_rows: int):
        self.seed = seed
        cols = events_columns(seed, replica_rows, tz="UTC")
        self.snapshot = pa.table(cols)
        self.state = {r["event_id"]: r for r in self.snapshot.to_pylist()}
        self.deleted: dict[int, dict] = {}  # last image of each deleted key
        self.next_id = key_offset(seed) + replica_rows
        self.files = 0

    def write_file(self, path: str, batch: int, mtime: float) -> int:
        rng = _rng(self.seed, 4, self.files)
        n_ins = int(round(batch * 0.25))
        n_del = int(round(batch * 0.15))
        n_upd = batch - n_ins - n_del
        live = np.array(sorted(self.state), dtype=np.int64)
        # recency skew: a key's weight grows with its rank in key order
        w = np.arange(1, len(live) + 1, dtype=float) ** 2
        picked = rng.choice(live, n_upd + n_del, replace=False, p=w / w.sum())
        fresh = pa.table(events_columns(
            self.seed, batch, first_id=self.files * batch, tz="UTC")).to_pylist()
        rows = []
        for i, key in enumerate(picked[:n_upd]):
            rows.append({**self.state[int(key)], "value": fresh[i]["value"],
                         "event_type": fresh[i]["event_type"], "op": "U"})
        for key in picked[n_upd:]:
            rows.append({**self.state[int(key)], "op": "D"})
        for new in fresh[n_upd + n_del:]:
            rows.append({**new, "event_id": self.next_id, "op": "U"})
            self.next_id += 1
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        for r in rows:
            key = r["event_id"]
            if r["op"] == "D":
                self.deleted[key] = self.state.pop(key)
            else:
                self.state[key] = {k: v for k, v in r.items() if k != "op"}
        table = pa.Table.from_pylist(rows, schema=_change_schema())
        pq.write_table(table, path)
        os.utime(path, (mtime, mtime))
        self.files += 1
        return len(rows)


def _change_schema() -> pa.Schema:
    return pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string()), ("op", pa.string()),
    ])
