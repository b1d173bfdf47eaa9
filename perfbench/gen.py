"""Seeded binlog input generator for the binlog workloads.

Writes MySQL v4 binlog files with the program's own
`sources.binlog_writer.BinlogFileWriter` and computes, alongside the
files, the state a correct replica must end in: the live rows per key
after every insert/update/delete, and the op counters.

Everything is drawn from one `random.Random(seed)`, so the same seed
gives byte-identical files and the same expected state.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

from mysql_syncer_clickhouse_spark.sources.binlog_writer import (
    BinlogColumn, BinlogFileWriter)

SCHEMA = "app"


# Ops per key of the repository's `events` CDC fixture: 10,000 events
# over 150 keys at sf0.01, 100,000 over 1,500 at sf0.1 (derive_mix.py).
OPS_PER_KEY = 10_000 / 150


def keys_for(rows: int) -> int:
    """Key-space size that gives `rows` row images the fixture's ops
    per key."""
    return max(1, round(rows / OPS_PER_KEY))


@dataclass(frozen=True)
class TableSpec:
    """One generated source table. `payload` is the width of the one
    variable-length text column, in characters."""
    name: str
    keys: int
    payload: int


# The op mix over a hot-plus-uniform key space: HOT_SHARE of the ops
# pick uniformly among the first HOT_FRAC of the keys, the rest
# uniformly among the others (YCSB's hotspot request distribution at
# its defaults; the fixture's keys are uniform, so it gives no skew to
# copy). A picked key that is not live is inserted; a live one is
# updated with probability UPDATE_SHARE, else deleted: the fixture's
# updates / (updates + deletes). In steady state a key is then live
# 1 / (2 - 0.75) of the time, which gives the fixture's 20/60/20
# insert/update/delete shares.
HOT_FRAC = 0.2
HOT_SHARE = 0.8
UPDATE_SHARE = 0.75
# sysbench oltp_write_only at its defaults: four single-row write
# statements per transaction; MySQL logs each as a one-row rows event.
EVENTS_PER_TXN = 4


@dataclass
class TableState:
    """Expected replica state of one table plus its op counters."""
    live: dict[int, list] = field(default_factory=dict)
    counts: dict[str, int] = field(
        default_factory=lambda: {"insert": 0, "update": 0, "delete": 0})


def columns(spec: TableSpec) -> list[BinlogColumn]:
    return [BinlogColumn.bigint("id"),
            BinlogColumn.bigint("account"),
            BinlogColumn.varchar("status", 16),
            BinlogColumn.double("amount"),
            BinlogColumn.integer("version"),
            BinlogColumn.varchar("note", max(spec.payload, 1))]


COLUMN_NAMES = ["id", "account", "status", "amount", "version", "note"]
_STATUS = ["new", "paid", "shipped", "returned", "closed"]
_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"


def _row(rng: random.Random, spec: TableSpec, key: int,
         version: int) -> list:
    note = "".join(rng.choices(_ALPHABET, k=spec.payload))
    return [key, rng.randrange(1, 10_000), rng.choice(_STATUS),
            round(rng.uniform(0, 10_000), 2), version, note]


def _pick(rng: random.Random, spec: TableSpec) -> int:
    hot = max(1, int(spec.keys * HOT_FRAC))
    if hot >= spec.keys or rng.random() < HOT_SHARE:
        return rng.randrange(hot)
    return rng.randrange(hot, spec.keys)


class BinlogGenerator:
    """Generates row events for several tables into numbered binlog
    files (`mysql-bin.000001`, ...). Each file holds one table; files
    take the tables in turn, so every seed writes the same number of
    rows per table and only the ops and values differ."""

    def __init__(self, seed: int, tables: list[TableSpec],
                 rows_per_file: int, *, base_ts: int = 1_700_000_000):
        self.rng = random.Random(seed)
        self.tables = tables
        self.rows_per_file = rows_per_file
        self.state = {t.name: TableState() for t in tables}
        self.file_index = 0
        self.base_ts = base_ts
        self.rows_written = 0
        self.bytes_written = 0

    def next_file(self, table: TableSpec, rows: int) -> tuple[str, bytes]:
        """One binlog file holding `rows` one-row events of `table`,
        EVENTS_PER_TXN to a transaction."""
        self.file_index += 1
        st = self.state[table.name]
        w = BinlogFileWriter(SCHEMA, table.name, columns(table),
                             table_id=self.tables.index(table) + 1,
                             base_ts=self.base_ts + self.file_index)
        for xid, first in enumerate(range(0, rows, EVENTS_PER_TXN), 1):
            for _ in range(min(EVENTS_PER_TXN, rows - first)):
                self._event(w, table, st)
            w.xid(xid)
        data = w.to_bytes()
        self.rows_written += rows
        self.bytes_written += len(data)
        return f"mysql-bin.{self.file_index:06d}", data

    def _event(self, w: BinlogFileWriter, table: TableSpec,
               st: TableState) -> None:
        """One row image on a picked key: insert, update or delete."""
        rng = self.rng
        key = _pick(rng, table)
        cur = st.live.get(key)
        if cur is None:
            new = _row(rng, table, key, 1)
            w.insert([new])
            st.live[key] = new
            op = "insert"
        elif rng.random() < UPDATE_SHARE:
            new = _row(rng, table, key, cur[4] + 1)
            w.update([(cur, new)])
            st.live[key] = new
            op = "update"
        else:
            w.delete([cur])
            del st.live[key]
            op = "delete"
        st.counts[op] += 1

    def files(self, total_rows: int):
        """Yield (name, bytes) until `total_rows` row images exist."""
        per = self.rows_per_file
        while self.rows_written < total_rows:
            table = self.tables[self.file_index % len(self.tables)]
            yield self.next_file(table,
                                 min(per, total_rows - self.rows_written))

    def describe(self) -> dict:
        """Input properties recorded in the benchmark's output."""
        return {
            "tables": [{"name": t.name, "keys": t.keys,
                        "payload_chars": t.payload} for t in self.tables],
            "hot_frac": HOT_FRAC,
            "hot_share": HOT_SHARE,
            "update_share": UPDATE_SHARE,
            "rows_per_event": 1,
            "events_per_txn": EVENTS_PER_TXN,
            "rows_per_file": self.rows_per_file,
            "files": self.file_index,
            "rows": self.rows_written,
            "bytes": self.bytes_written,
            "ops": {t: dict(s.counts) for t, s in self.state.items()},
            "live": {t: len(s.live) for t, s in self.state.items()},
        }


def write_files(generator: BinlogGenerator, out_dir: str,
                total_rows: int) -> list[str]:
    """Materialise the generator's files under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, data in generator.files(total_rows):
        path = os.path.join(out_dir, name)
        with open(path, "wb") as f:
            f.write(data)
        paths.append(path)
    return paths
