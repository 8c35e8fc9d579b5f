"""Seeded input generators and the output models the checks compare with.

Every generator takes a ``random.Random`` built from the workload seed and
writes plain files; the program under test only ever sees those files. Each
generator also returns the model of what the pipeline must publish: per
topic, the number of messages and an order-insensitive digest of their
payloads (see ``Digest``). The payload model is the built-in BigQuery-CDC
envelope (``functions.transforms.bigquery_json``): the chosen image (before
for a Delete, else after) followed by ``_CHANGE_TYPE`` and ``tenant``.
``plans.cdc.RHAI_DEMO_SCRIPT``'s ``transform`` produces the same bytes.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import struct
from dataclasses import dataclass, field

MASK64 = (1 << 64) - 1


def value_hash(value: str) -> int:
    return int.from_bytes(
        hashlib.blake2b(value.encode(), digest_size=8).digest(), "little"
    )


@dataclass
class Digest:
    """Per-topic message count plus the sum (mod 2**64) of each payload's
    64-bit hash: equal digests mean equal multisets with overwhelming
    probability, and partial digests from separate publish calls add up."""

    counts: dict[str, int] = field(default_factory=dict)
    sums: dict[str, int] = field(default_factory=dict)

    def add(self, topic: str, value: str) -> None:
        self.add_partial(topic, 1, value_hash(value))

    def add_partial(self, topic: str, n: int, hash_sum: int) -> None:
        """Fold in ``n`` messages whose hashes sum to ``hash_sum``."""
        self.counts[topic] = self.counts.get(topic, 0) + n
        self.sums[topic] = (self.sums.get(topic, 0) + hash_sum) & MASK64

    def total(self) -> int:
        return sum(self.counts.values())


def envelope(op: str, db: str, before: dict | None, after: dict | None) -> str:
    """The BigQuery-CDC payload as Spark's ``to_json`` renders the map."""
    fields = dict(before if op == "Delete" else after)
    fields["_CHANGE_TYPE"] = "DELETE" if op == "Delete" else "UPSERT"
    fields["tenant"] = db
    return json.dumps(fields, separators=(",", ":"))


def demo_topic(db: str, table: str) -> str:
    """``topic(db, table)`` of ``plans.cdc.RHAI_DEMO_SCRIPT``."""
    return f"sink/{db}/changes.{table}"


def default_topic(db: str, table: str) -> str:
    """``PipelineConfig.topic_template``'s default, ``cdc.${db}.${table}``."""
    return f"cdc.{db}.{table}"


def mismatch(expected: Digest, got: Digest) -> int:
    """Changes missing, duplicated or wrong: per topic, the count
    difference, or the whole topic when counts agree but digests do not."""
    bad = 0
    for t in set(expected.counts) | set(got.counts):
        e, g = expected.counts.get(t, 0), got.counts.get(t, 0)
        if e != g:
            bad += abs(e - g)
        elif expected.sums.get(t, 0) != got.sums.get(t, 0):
            bad += e
    return bad


# --------------------------------------------------------------------------
# binary binlog (MySQL v4 events, row events v2)

# (db, table) pairs; GATED_OUT does not match BINLOG_REGEX
BINLOG_TABLES = [("shop", "orders"), ("shop", "customers"), ("audit", "events")]
BINLOG_REGEX = r"^shop\..*"
GATED_OUT = ("audit", "events")
BINLOG_COLUMNS = ["id", "name", "amount", "created"]
_T_LONG, _T_VARCHAR, _T_DATETIME2, _T_NEWDECIMAL = 3, 15, 18, 246
_COL_TYPES = bytes([_T_LONG, _T_VARCHAR, _T_NEWDECIMAL, _T_DATETIME2])
# VARCHAR(64) max length (LE u16), DECIMAL(10,2) as (precision, scale),
# DATETIME2 fsp=0
_COL_META = struct.pack("<H", 64) + bytes([10, 2]) + bytes([0])


def _event(ts: int, etype: int, body: bytes) -> bytes:
    return struct.pack("<IBIIIH", ts, etype, 1, 19 + len(body), 0, 0) + body


def _fde() -> bytes:
    body = struct.pack("<H", 4) + b"8.0.36".ljust(50, b"\x00")
    body += struct.pack("<I", 0) + bytes([19]) + bytes(39) + bytes([0])
    return _event(1_700_000_000, 0x0F, body)


def _table_map(table_id: int, db: str, table: str) -> bytes:
    body = table_id.to_bytes(6, "little") + b"\x01\x00"
    body += bytes([len(db)]) + db.encode() + b"\x00"
    body += bytes([len(table)]) + table.encode() + b"\x00"
    body += bytes([len(_COL_TYPES)]) + _COL_TYPES
    body += bytes([len(_COL_META)]) + _COL_META
    body += bytes([0])  # nullability bitmap: no nullable columns
    names = b"".join(bytes([len(c)]) + c.encode() for c in BINLOG_COLUMNS)
    body += bytes([4, len(names)]) + names  # optional metadata: COLUMN_NAME
    return _event(1_700_000_000, 0x13, body)


def _decimal_10_2(cents: int) -> bytes:
    """Positive DECIMAL(10,2): 8 integer digits in 4 bytes, 2 fraction
    digits in 1 byte, sign bit set for non-negative values."""
    raw = bytearray((cents // 100).to_bytes(4, "big") + bytes([cents % 100]))
    raw[0] ^= 0x80
    return bytes(raw)


def _datetime2(y: int, mo: int, d: int, h: int, mi: int, s: int) -> bytes:
    packed = (1 << 39) | ((y * 13 + mo) << 22) | (d << 17) | (h << 12)
    packed |= (mi << 6) | s
    return packed.to_bytes(5, "big")


def _row_values(rng: random.Random, rid: int):
    """One row as (wire bytes, decoded image the decoder must produce)."""
    name = "n%06d_%s" % (rid, "".join(rng.choices("abcdefghijklmnop", k=rng.randint(4, 24))))
    cents = rng.randint(1, 99_999_999)
    y, mo, d = rng.randint(2000, 2030), rng.randint(1, 12), rng.randint(1, 28)
    h, mi, s = rng.randint(0, 23), rng.randint(0, 59), rng.randint(1, 59)
    wire = (
        bytes([0])  # null bitmap
        + struct.pack("<i", rid)
        + bytes([len(name)]) + name.encode()
        + _decimal_10_2(cents)
        + _datetime2(y, mo, d, h, mi, s)
    )
    image = {
        "id": str(rid),
        "name": name,
        "amount": "%d.%02d" % (cents // 100, cents % 100),
        "created": f"{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}",
    }
    return wire, image


def write_binlog_files(
    rng: random.Random,
    out_dir: str,
    n_files: int,
    rows_per_file: int,
    rows_per_event: int = 200,
) -> tuple[Digest, int]:
    """Write ``n_files`` binlog files of ``rows_per_file`` changes each:
    WRITE/UPDATE/DELETE row events over BINLOG_TABLES. Returns the model
    digest (demo-script topics, gated table excluded) and the number of
    changes on the gated-out table."""
    os.makedirs(out_dir, exist_ok=True)
    model, gated = Digest(), 0
    rid = 0
    # each file takes a prefix of this fixed mix: tables in turn, and
    # WRITE : UPDATE : DELETE = 12 : 5 : 3 spread through each 20 rounds.
    # The seed only orders a file's events and fills the rows, so the work
    # per file does not depend on the seed
    ops = [{"W": 0x1E, "U": 0x1F, "D": 0x20}[c] for c in "WUWDWUWWUWDWWUWWDWUW"]
    mix = [(t_id, etype) for etype in ops for t_id in range(1, len(BINLOG_TABLES) + 1)]
    n_events = -(-rows_per_file // rows_per_event)
    for f_i in range(n_files):
        chunks = [b"\xfebin", _fde()]
        for t_id, (db, table) in enumerate(BINLOG_TABLES, start=1):
            chunks.append(_table_map(t_id, db, table))
        events = (mix * (n_events // len(mix) + 1))[:n_events]
        rng.shuffle(events)
        left = rows_per_file
        for t_id, etype in events:
            m = min(left, rows_per_event)
            left -= m
            db, table = BINLOG_TABLES[t_id - 1]
            op = {0x1E: "Insert", 0x1F: "Update", 0x20: "Delete"}[etype]
            body = t_id.to_bytes(6, "little") + b"\x01\x00" + struct.pack("<H", 2)
            body += bytes([len(BINLOG_COLUMNS), 0b1111])
            if etype == 0x1F:
                body += bytes([0b1111])
            imgs = []
            for _ in range(m):
                wire, img = _row_values(rng, rid)
                before, after = (None, img) if etype == 0x1E else (img, None)
                if etype == 0x1F:
                    wire2, after = _row_values(rng, rid)
                    wire += wire2
                imgs.append(wire)
                rid += 1
                if (db, table) == GATED_OUT:
                    gated += 1
                else:
                    model.add(demo_topic(db, table), envelope(op, db, before, after))
            chunks.append(_event(1_700_000_100 + f_i, etype, body + b"".join(imgs)))
        name = os.path.join(out_dir, f"bin.{f_i:06d}.binlog")
        with open(name + ".tmp", "wb") as f:
            f.write(b"".join(chunks))
        os.rename(name + ".tmp", name)
    return model, gated


# --------------------------------------------------------------------------
# JSON-lines change feed (open-loop tail)

JSON_TABLES = [("app", "users"), ("app", "carts"), ("app", "payments")]


class JsonChangeMaker:
    """Deterministic JSON-lines changes. Each row's images carry ``due``,
    the epoch-millisecond instant the schedule says it was due, so the
    publish side can measure per-change latency from the payload."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.k = 0

    def line(self, due_ms: int) -> tuple[str, str, str]:
        """Returns (feed line, topic, expected payload)."""
        rng, k = self.rng, self.k
        self.k += 1
        db, table = JSON_TABLES[rng.randrange(len(JSON_TABLES))]
        op = rng.choices(("Insert", "Update", "Delete"), (6, 3, 1))[0]
        img = {
            "id": str(k),
            "v": "v%d_%d" % (k, rng.randrange(1_000_000)),
            "qty": str(rng.randrange(1000)),
            "due": str(due_ms),
        }
        before = img if op != "Insert" else None
        after = img if op != "Delete" else None
        rec = {
            "op": op, "db": db, "table": table, "before": before,
            "after": after, "ts": due_ms // 1000, "pkey": "id",
        }
        return (
            json.dumps(rec, separators=(",", ":")),
            default_topic(db, table),
            envelope(op, db, before, after),
        )


# --------------------------------------------------------------------------
# lineitem-shaped snapshot table (backfill)

LINEITEM_DB = "tpch"


def write_lineitem(rng: random.Random, sf_dir: str, n_rows: int) -> Digest:
    """Write ``<sf_dir>/lineitem.parquet`` with the sf0.1 fixture's schema
    and value shapes. Returns the model digest of the demo-script backfill
    output."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    cols: dict[str, list] = {c: [] for c in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    )}
    model = Digest()
    topic = demo_topic(LINEITEM_DB, "lineitem")
    epoch = dt.date(1992, 1, 1)
    okey, line = 1, 1
    for _ in range(n_rows):
        if line > rng.randint(1, 7):
            okey += rng.randint(1, 4)
            line = 1
        qty = float(rng.randint(1, 50))
        price = rng.randint(90_000, 10_000_000) / 100
        disc = rng.randint(0, 10) / 100
        tax = rng.randint(0, 8) / 100
        flag, status = rng.choice("ANR"), rng.choice("FO")
        ship = epoch + dt.timedelta(days=rng.randint(0, 2500))
        row = (okey, rng.randint(1, 20_000), rng.randint(1, 1_000), line,
               qty, price, disc, tax, flag, status, ship)
        for c, v in zip(cols, row):
            cols[c].append(v)
        image = {
            "l_orderkey": str(okey), "l_partkey": str(row[1]),
            "l_suppkey": str(row[2]), "l_linenumber": str(line),
            "l_quantity": repr(qty), "l_extendedprice": repr(price),
            "l_discount": repr(disc), "l_tax": repr(tax),
            "l_returnflag": flag, "l_linestatus": status,
            "l_shipdate": ship.isoformat(),
        }
        model.add(topic, envelope("Backfill", LINEITEM_DB, None, image))
        line += 1
    cols["l_shipdate"] = [
        dt.datetime(d.year, d.month, d.day) for d in cols["l_shipdate"]
    ]
    schema = pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ])
    pq.write_table(
        pa.table(cols, schema=schema), os.path.join(sf_dir, "lineitem.parquet")
    )
    return model


# --------------------------------------------------------------------------
# documents with planted near-duplicates (dedup fold)


def make_docs(
    rng: random.Random, n_docs: int, dup_share: float, vocab: int = 50_000
) -> tuple[list[tuple[int, str]], list[tuple[int, int]]]:
    """``n_docs`` (doc_id, text) rows of 40 random words each. A
    ``dup_share`` of them are near-duplicates of an earlier doc (two words
    of 40 replaced, Jaccard well above the 0.5 threshold). Returns the docs
    and the planted (doc, source) edges."""
    docs: list[tuple[int, str]] = []
    planted: list[tuple[int, int]] = []
    for i in range(n_docs):
        if docs and rng.random() < dup_share:
            j = rng.randrange(len(docs))
            words = docs[j][1].split(" ")
            for _ in range(2):
                words[rng.randrange(len(words))] = "w%d" % rng.randrange(vocab)
            planted.append((i, j))
        else:
            words = ["w%d" % rng.randrange(vocab) for _ in range(40)]
        docs.append((i, " ".join(words)))
    return docs, planted
