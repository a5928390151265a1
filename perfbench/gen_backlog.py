"""Seeded NameNode edit-log backlog for the ``backlog_catchup`` workload.

Builds binary ``edits_*`` segments (FSEditLogOp layout -63) holding file
lifecycles -- ADD -> UPDATE_BLOCKS/ADD_BLOCK -> CLOSE, then a file
RENAME or DELETE for some -- plus a few directory RENAME/DELETE ops, and
keeps its own bookkeeping of what the reconciled file_state must hold:
final path, state and data size per inode, and the inodes whose
deliberately duplicated OP_ADD must surface as an error row.

Files live in per-group directories ``/ingest/gNNNN`` of 40 files, of
which 8 are renamed to ``/done/`` and 4 deleted; one file in a hundred
gets the duplicated OP_ADD; every tenth group directory is renamed and
every tenth (another one) deleted. The counts are fixed so that seeds
differ only in sizes, block counts and which files are picked. A
group's directory op is emitted only after every lifecycle in the group
has finished, so no later path-only op has to be resolved through a
directory rename.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

from hcdc_spark.sources import editlog as E

TS0 = 1_700_000_000_000
GROUP_FILES = 40
GROUP_RENAMES = 8
GROUP_DELETES = 4


@dataclass
class Backlog:
    glob: str
    n_ops: int
    n_bytes: int
    #: inode -> (path, state, data_size) the fold must produce
    expected: dict[int, tuple[str, str, int]] = field(default_factory=dict)
    #: inodes whose duplicate OP_ADD must come back as one error row
    error_inodes: set[int] = field(default_factory=set)


def _records(n_ops: int, rng: random.Random) -> tuple[list[dict], Backlog]:
    recs: list[dict] = []
    book = Backlog("", 0, 0)
    txid = 0
    inode = 1000
    blk = 50_000

    def nxt() -> int:
        nonlocal txid
        txid += 1
        return txid

    group = 0
    n_files = 0
    while len(recs) < n_ops:
        gdir = f"/ingest/g{group:04d}"
        in_dir: list[int] = []  # inodes whose live path is under gdir
        picked = rng.sample(range(GROUP_FILES), GROUP_RENAMES + GROUP_DELETES)
        renamed = set(picked[:GROUP_RENAMES])
        deleted = set(picked[GROUP_RENAMES:])
        for k in range(GROUP_FILES):
            n_files += 1
            inode += 1
            path = f"{gdir}/part_{inode}.parquet"
            blk += 1
            blocks = [{"block_id": blk, "size": 0, "generation_stamp": 1}]
            t = nxt()
            recs.append(
                {"txid": t, "opcode": E.OP_ADD, "inode_id": inode,
                 "path": path, "mtime": TS0 + t, "atime": TS0 + t,
                 "block_size": 1 << 27, "overwrite": False,
                 "blocks": [dict(b) for b in blocks]}
            )
            for _ in range(rng.randint(1, 3)):
                blocks[-1]["size"] += rng.randint(1, 1 << 20)
                recs.append(
                    {"txid": nxt(), "opcode": E.OP_UPDATE_BLOCKS,
                     "path": path, "blocks": [dict(b) for b in blocks]}
                )
                if rng.random() < 0.3:
                    blk += 1
                    blocks.append({"block_id": blk, "size": 0,
                                   "generation_stamp": 1 + len(blocks)})
                    recs.append(
                        {"txid": nxt(), "opcode": E.OP_ADD_BLOCK,
                         "path": path, "blocks": [dict(b) for b in blocks]}
                    )
            t = nxt()
            recs.append(
                {"txid": t, "opcode": E.OP_CLOSE, "inode_id": 0,
                 "path": path, "mtime": TS0 + t, "atime": TS0 + t,
                 "block_size": 1 << 27, "blocks": [dict(b) for b in blocks]}
            )
            size = sum(b["size"] for b in blocks)
            state = "Finalized"
            if n_files % 100 == 0:
                # re-ADD of a live file without overwrite: the fold must
                # keep the file as it was and report one error row
                t = nxt()
                recs.append(
                    {"txid": t, "opcode": E.OP_ADD, "inode_id": inode,
                     "path": path, "mtime": TS0 + t, "atime": TS0 + t,
                     "block_size": 1 << 27, "overwrite": False,
                     "blocks": [dict(b) for b in blocks]}
                )
                book.error_inodes.add(inode)
            if k in renamed:
                t = nxt()
                dst = path.replace("/ingest/", "/done/")
                recs.append(
                    {"txid": t, "opcode": E.OP_RENAME, "src": path,
                     "dst": dst, "timestamp": TS0 + t, "options": []}
                )
                path = dst
            elif k in deleted:
                t = nxt()
                recs.append(
                    {"txid": t, "opcode": E.OP_DELETE, "path": path,
                     "timestamp": TS0 + t}
                )
                state = "Deleted"
            else:
                in_dir.append(inode)
            book.expected[inode] = (path, state, size)
        if group % 10 == 3:
            t = nxt()
            dst = f"/archive/g{group:04d}"
            recs.append(
                {"txid": t, "opcode": E.OP_RENAME, "src": gdir, "dst": dst,
                 "timestamp": TS0 + t, "options": []}
            )
            for i in in_dir:
                p, s, n = book.expected[i]
                book.expected[i] = (dst + p[len(gdir):], s, n)
        elif group % 10 == 7:
            t = nxt()
            recs.append(
                {"txid": t, "opcode": E.OP_DELETE, "path": gdir,
                 "timestamp": TS0 + t}
            )
            for i in in_dir:
                p, _, n = book.expected[i]
                book.expected[i] = (p, "Deleted", n)
        group += 1
    return recs, book


def write_backlog(
    out_dir: str, seed: int, n_segs: int, ops_per_seg: int = 1000
) -> Backlog:
    """Encode the seeded backlog into ``out_dir/edits_*`` segments.

    Lifecycles straddle segment boundaries the way a rolling NameNode
    segment cuts them, so path-only ops in a later segment resolve their
    inode through the window fill.
    """
    rng = random.Random(seed)
    recs, book = _records(n_segs * ops_per_seg, rng)
    os.makedirs(out_dir, exist_ok=True)
    n_ops = n_bytes = 0
    for i in range(0, len(recs), ops_per_seg):
        chunk = recs[i : i + ops_per_seg]
        seg = (
            [{"txid": chunk[0]["txid"], "opcode": E.OP_START_LOG_SEGMENT}]
            + chunk
            + [{"txid": chunk[-1]["txid"], "opcode": E.OP_END_LOG_SEGMENT}]
        )
        data = E.encode_segment(seg, layout=-63)
        name = f"edits_{chunk[0]['txid']:019d}-{chunk[-1]['txid']:019d}"
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(data)
        n_ops += len(seg)
        n_bytes += len(data)
    book.glob = os.path.join(out_dir, "edits_*")
    book.n_ops = n_ops
    book.n_bytes = n_bytes
    return book
