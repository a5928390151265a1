"""Seeded closed-loop load for the ``stream_replicate`` workload.

The client plays the NameNode and the writers behind it. For every
segment it first writes the data files the events name -- real parquet
files under a fake HDFS root, written with pyarrow so the load generator
never queues work on the program's Spark session -- and then lands one
change-event segment atomically: written into ``pending/`` and renamed
into the directory the stream source tails.

A segment carries new file lifecycles (ADD_FILE -> UPDATE_BLOCKS ->
CLOSE) spread over four registered entities plus unregistered files,
APPEND -> UPDATE_BLOCKS -> CLOSE cycles that rewrite registered files
closed earlier, and file RENAME and DELETE ops on registered files. The
mix is fixed, so every segment replicates the same number of files;
only which entity gets each file and the data vary. The client keeps its own
bookkeeping of what the pipeline must commit: the change_data pointers
each segment produces and the rows the staged current view must hold.

Paths are ``file:`` URIs. The registry's global ignore regex drops
every path under ``/tmp/``; a ``file:`` URI never full-matches it, so
the workload stays valid wherever the checkout lives.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from hcdc_spark.cdc.model import CHANGE_EVENT_SCHEMA
from hcdc_spark.cdc.registry import DomainFilter

TS0 = 1_700_000_000_000

#: (domain, entity, directory under data/, file-name prefix)
ENTITIES = (
    ("sales", "orders", "sales", "orders"),
    ("sales", "customers", "sales", "customers"),
    ("ops", "metrics", "ops", "metrics"),
    ("ops", "logs", "ops", "logs"),
)
UNMATCHED = ("scratch", "misc")
#: the fixed mix of one segment
NEW_FILES = 40
UNREGISTERED = 4
APPENDS = 4
RENAMES = 1
DELETES = 1

_DATA_SCHEMA = pa.schema(
    [("id", pa.int64()), ("amount", pa.float64()), ("tag", pa.string())]
)


def _arrow_type(dt):
    from pyspark.sql import types as T

    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    if isinstance(dt, T.StructType):
        return pa.struct(
            [(f.name, _arrow_type(f.dataType)) for f in dt.fields]
        )
    raise TypeError(f"no arrow mapping for {dt}")


EVENT_SCHEMA = _arrow_type(CHANGE_EVENT_SCHEMA)
_EVENT_KEYS = [f.name for f in CHANGE_EVENT_SCHEMA.fields]


@dataclass
class _File:
    inode: int
    path: str  # file: URI, the HDFS path the events carry
    local: str  # the same file as a local path
    rows: int
    entity: tuple[str, str] | None
    block: int
    size: int


@dataclass
class Segment:
    name: str
    events: list[dict]
    #: (inode_id, src_path, last_tx_id) of every change_data pointer the
    #: segment must produce
    pointers: set[tuple[int, str, int]] = field(default_factory=set)


class StreamClient:
    """Generates segments; ``stage`` then ``land`` makes one visible to
    the stream."""

    def __init__(self, work: str, seed: int):
        self.rng = random.Random(seed)
        self.hdfs = os.path.join(work, "hdfs")
        self.source_dir = os.path.join(work, "segments")
        self.pending_dir = os.path.join(work, "pending")
        for d in (self.source_dir, self.pending_dir):
            os.makedirs(d, exist_ok=True)
        self.tx = 0
        self.inode = 10_000
        self.block = 900_000
        self.seq = 0
        self.live: dict[int, _File] = {}
        #: src_path -> rows of its latest materialization, per entity
        self.staged: dict[tuple[str, str], dict[str, int]] = {
            (d, e): {} for d, e, _, _ in ENTITIES
        }
        self.rules = [
            DomainFilter(d, e, "file:" + os.path.join(self.hdfs, "data", sub),
                         rf"{prefix}_.*\.parquet")
            for d, e, sub, prefix in ENTITIES
        ]

    # -------------------------------------------------------- file side

    def _write_data(self, local: str, rows: int) -> int:
        ids = [self.rng.randrange(1 << 40) for _ in range(rows)]
        table = pa.table(
            {"id": ids,
             "amount": [self.rng.random() * 1000 for _ in range(rows)],
             "tag": [f"t{i % 17}" for i in ids]},
            schema=_DATA_SCHEMA,
        )
        tmp = local + ".writing"
        pq.write_table(table, tmp)
        os.replace(tmp, local)
        return os.path.getsize(local)

    def _ev(self, op: str, f: _File, **kw) -> dict:
        self.tx += 1
        ev = dict.fromkeys(_EVENT_KEYS)
        ev.update(tx_id=self.tx, op=op, ts=TS0 + self.tx, namespace="hdfs",
                  path=f.path, inode_id=f.inode, mode="New")
        ev.update(kw)
        return ev

    def _blocks(self, f: _File) -> list[dict]:
        return [{"block_id": f.block, "size": f.size, "block_size": 1 << 27,
                 "generation_stamp": 1, "start_offset": None,
                 "end_offset": None, "delta_size": None, "deleted": None}]

    def _close(self, f: _File) -> dict:
        return self._ev("CLOSE", f, length=f.size, block_size=1 << 27,
                        modified_time=TS0 + self.tx + 1,
                        file_type="PARQUET", blocks=self._blocks(f))

    # ----------------------------------------------------- segment side

    def next_segment(self) -> Segment:
        """Write the data files of the next segment and build its events
        (not yet visible to the stream)."""
        rng = self.rng
        events: list[dict] = []
        touched: dict[int, _File] = {}
        earlier = sorted(i for i, f in self.live.items() if f.entity)
        rng.shuffle(earlier)
        stray = set(rng.sample(range(NEW_FILES), UNREGISTERED))
        for n in range(NEW_FILES):
            self.inode += 1
            self.block += 1
            if n in stray:
                entity, (sub, prefix) = None, UNMATCHED
            else:
                d, e, sub, prefix = ENTITIES[rng.randrange(len(ENTITIES))]
                entity = (d, e)
            local = os.path.join(self.hdfs, "data", sub,
                                 f"{prefix}_{self.inode}.parquet")
            os.makedirs(os.path.dirname(local), exist_ok=True)
            rows = rng.randint(50, 400)
            f = _File(self.inode, "file:" + local, local, rows, entity,
                      self.block, 0)
            events.append(self._ev("ADD_FILE", f, block_size=1 << 27,
                                   overwrite=False, length=0,
                                   blocks=self._blocks(f)))
            f.size = self._write_data(local, rows)
            events.append(self._ev("UPDATE_BLOCKS", f,
                                   blocks=self._blocks(f)))
            events.append(self._close(f))
            touched[f.inode] = f
        for inode in earlier[:APPENDS]:
            f = self.live[inode]
            events.append(self._ev("APPEND", f, new_block=False))
            f.rows += rng.randint(20, 200)
            f.size = self._write_data(f.local, f.rows)
            events.append(self._ev("UPDATE_BLOCKS", f,
                                   blocks=self._blocks(f)))
            events.append(self._close(f))
            touched[f.inode] = f
        for inode in earlier[APPENDS : APPENDS + RENAMES]:
            f = self.live[inode]
            local = f.local[: -len(".parquet")] + f"_r{self.tx}.parquet"
            os.replace(f.local, local)
            events.append(self._ev("RENAME", f, dest_path="file:" + local,
                                   rename_opts="NONE"))
            f.local, f.path = local, "file:" + local
            touched[f.inode] = f
        k = APPENDS + RENAMES
        for inode in earlier[k : k + DELETES]:
            f = self.live.pop(inode)
            events.append(self._ev("DELETE", f))
            os.remove(f.local)
        self.seq += 1
        seg = Segment(f"edits_{self.seq:08d}.parquet", events)
        last_tx: dict[int, int] = {}
        for ev in events:
            last_tx[ev["inode_id"]] = ev["tx_id"]
        for f in touched.values():
            self.live[f.inode] = f
            if f.entity is not None:
                seg.pointers.add((f.inode, f.path, last_tx[f.inode]))
                self.staged[f.entity][f.path] = f.rows
        return seg

    def stage(self, seg: Segment) -> None:
        """Write the segment file outside the directory the stream tails."""
        cols = {k: [ev[k] for ev in seg.events] for k in _EVENT_KEYS}
        table = pa.Table.from_pydict(cols, schema=pa.schema(
            [(f.name, f.type) for f in EVENT_SCHEMA]))
        pq.write_table(table, os.path.join(self.pending_dir, seg.name))

    def land(self, seg: Segment) -> None:
        """Make a staged segment visible to the stream source atomically."""
        os.replace(os.path.join(self.pending_dir, seg.name),
                   os.path.join(self.source_dir, seg.name))
