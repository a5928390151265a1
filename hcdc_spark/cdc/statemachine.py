"""Per-file CDC state machine (SURVEY.md §2C) — pure Python, no Spark.

One implementation, two callers: the batch reconciler runs it inside
``mapInArrow`` over inode-sorted runs, the streaming reconciler inside
``applyInPandasWithState``. Events for one file are folded in tx order;
the function is deterministic and side-effect free, so replays are
idempotent (guard T4) — exactly the property Spark's at-least-once
streaming semantics need.

Reference semantics being reproduced (file:line in /root/reference):
- per-op effects: SourceTransactionProcessor.java (see SURVEY §2C table)
- tx-id dedup guard: SourceTransactionProcessor.java:154-158 (T4)
- CLOSE mode gate: TransactionProcessor.java:76-84 (T6)
- block chain append + per-tx byte interval: FileStateHelper.java:151-225
  (T2); interval is [prev_size, new_size-1] per transaction
- state transitions New→Updating→Finalized→Deleted/Error:
  FileStateHelper.java:108-149 (T3)
- TRUNCATE is a stub in the reference
  (SourceTransactionProcessor.java:534-552); here it gets defined
  semantics: shrink to truncate_new_length, drop/trim blocks, record
  deleted deltas (the reference's DFSBlockState.compressedChangeSet
  handles offset regression the same way, DFSBlockState.java:75-106).
"""

from __future__ import annotations

from typing import Any, Iterable

Event = dict[str, Any]
State = dict[str, Any]
Error = dict[str, Any]

#: Ops that only ever target FILE inodes — seeing an inode under any of
#: these proves it is not a directory (dirs receive only DELETE/RENAME).
#: IGNORE/ERROR/CONCAT_DELETE are file-directed control ops in the
#: reference's op table (SourceTransactionProcessor routes them at the
#: file level), so they classify too. THE canonical copy: the Spark
#: reconciler (cdc/reconcile.py), the DuckDB relational fold
#: (operators/cdc_oracle.py — including its generated SQL literal) and
#: the parity test's sequential expander all import it from here.
FILE_ONLY_OPS = (
    "ADD_FILE", "ADD_BLOCK", "UPDATE_BLOCKS", "APPEND", "TRUNCATE", "CLOSE",
    "IGNORE", "ERROR", "CONCAT_DELETE",
)


def _err(ev: Event, msg: str) -> Error:
    return {
        "tx_id": ev.get("tx_id"),
        "inode_id": ev.get("inode_id"),
        "path": ev.get("path"),
        "op": ev.get("op"),
        "error": msg,
    }


def _new_block(b: dict, tx_id: int, prev_id: int | None) -> dict:
    size = b.get("size") or 0
    return {
        "block_id": b["block_id"],
        "prev_block_id": prev_id if prev_id is not None else -1,
        "data_size": size,
        "block_size": b.get("block_size") or 0,
        "last_tx_id": tx_id,
        "generation_stamp": b.get("generation_stamp") or 0,
        "state": "New",
        "deltas": (
            [{"tx_id": tx_id, "start_offset": 0, "end_offset": size - 1,
              "deleted": False}]
            if size > 0
            else []
        ),
    }


def _create_state(ev: Event) -> State:
    blocks = [
        _new_block(b, ev["tx_id"], None if i == 0 else ev["blocks"][i - 1]["block_id"])
        for i, b in enumerate(ev.get("blocks") or [])
    ]
    return {
        "inode_id": ev["inode_id"],
        "path": ev["path"],
        "created_time": ev.get("modified_time") or ev.get("ts"),
        "updated_time": ev.get("modified_time") or ev.get("ts"),
        "num_blocks": len(blocks),
        "block_size": ev.get("block_size") or 0,
        "data_size": sum(b["data_size"] for b in blocks),
        "last_tx_id": ev["tx_id"],
        "file_type": ev.get("file_type") or "UNKNOWN",
        "state": "New",
        "blocks": blocks,
        "domain": ev.get("domain"),
        "entity": ev.get("entity"),
    }


def _touch(state: State, ev: Event) -> None:
    state["last_tx_id"] = ev["tx_id"]
    t = ev.get("modified_time") or ev.get("ts")
    if t is not None:
        state["updated_time"] = t
    if ev.get("domain"):
        state["domain"] = ev["domain"]
    if ev.get("entity"):
        state["entity"] = ev["entity"]


def _grow_block(blk: dict, new_size: int, tx_id: int) -> None:
    """Record the per-tx byte interval for a size change (T2/T16)."""
    old = blk["data_size"]
    if new_size == old:
        return
    if new_size > old:
        blk["deltas"].append(
            {"tx_id": tx_id, "start_offset": old,
             "end_offset": new_size - 1, "deleted": False}
        )
    else:  # regression — truncate-style (deleted interval)
        blk["deltas"].append(
            {"tx_id": tx_id, "start_offset": new_size,
             "end_offset": old - 1, "deleted": True}
        )
    blk["data_size"] = new_size
    blk["last_tx_id"] = tx_id


def apply_event(state: State | None, ev: Event) -> tuple[State | None, list[Error]]:
    """Apply one event; returns (new_state, errors). Never raises."""
    op = ev["op"]
    tx = ev["tx_id"]
    errors: list[Error] = []

    # T4: idempotence — replayed/duplicate txids are no-ops.
    if state is not None and tx <= (state.get("last_tx_id") or -1):
        return state, errors

    if op == "IGNORE":
        return state, errors

    if op == "ADD_FILE":
        if state is not None and state["state"] != "Deleted":
            if ev.get("overwrite"):
                # T9: overwrite decomposes into DELETE + create.
                state = None
            else:
                errors.append(_err(ev, "file exists and overwrite=false"))
                return state, errors
        return _create_state(ev), errors

    if op == "CLOSE" and (
        state is None or state["state"] == "Deleted"
    ) and ev.get("mode") in ("Snapshot", "Backlog"):
        # T22: snapshot-synthesized CLOSE bootstraps state.
        st = _create_state(ev)
        st["state"] = "Finalized"
        for b in st["blocks"]:
            b["state"] = "Finalized"
        # honor the authoritative file length, like the live CLOSE path
        # (file data_size may legitimately differ from the block sum
        # after truncate histories).
        if ev.get("length") is not None:
            st["data_size"] = ev["length"]
        return st, errors

    if state is None or state["state"] == "Deleted":
        errors.append(_err(ev, f"no live file state for op {op}"))
        return state, errors

    if op == "APPEND":
        state["state"] = "Updating"
        _touch(state, ev)
        return state, errors

    if op == "DELETE":
        state["state"] = "Deleted"
        for b in state["blocks"]:
            b["state"] = "Deleted"
        # num_blocks tracks live blocks everywhere (CLOSE/TRUNCATE
        # recompute it the same way) — zero once all are deleted.
        state["num_blocks"] = 0
        _touch(state, ev)
        return state, errors

    if op == "RENAME":
        # File-level rename: the reconciler keys by inode, so the
        # reference's DELETE+ADD+CLOSE decomposition
        # (SourceTransactionProcessor.java:671-763) collapses to a path
        # move; a destination-overwrite DELETE is synthesized upstream.
        state["path"] = ev["dest_path"]
        _touch(state, ev)
        return state, errors

    if op == "ADD_BLOCK":
        blocks = ev.get("blocks") or []
        if not blocks:
            errors.append(_err(ev, "ADD_BLOCK without blocks"))
            return state, errors
        newb = blocks[-1]
        prev_id = state["blocks"][-1]["block_id"] if state["blocks"] else None
        # Chain validation (T2): penultimate event block must match the
        # current chain tail.
        if len(blocks) > 1 and prev_id is not None and blocks[-2]["block_id"] != prev_id:
            errors.append(_err(ev, "block chain mismatch on ADD_BLOCK"))
            return state, errors
        if any(b["block_id"] == newb["block_id"] for b in state["blocks"]):
            errors.append(_err(ev, "duplicate block id on ADD_BLOCK"))
            return state, errors
        state["blocks"].append(_new_block(newb, tx, prev_id))
        state["num_blocks"] = sum(
            1 for b in state["blocks"] if b["state"] != "Deleted"
        )
        state["data_size"] = sum(
            b["data_size"] for b in state["blocks"] if b["state"] != "Deleted"
        )
        state["state"] = "Updating"
        _touch(state, ev)
        return state, errors

    if op == "UPDATE_BLOCKS":
        by_id = {b["block_id"]: b for b in state["blocks"]}
        for b in ev.get("blocks") or []:
            blk = by_id.get(b["block_id"])
            if blk is None:
                errors.append(
                    _err(ev, f"UPDATE_BLOCKS unknown block {b['block_id']}")
                )
                continue
            if b.get("size") is not None:
                _grow_block(blk, b["size"], tx)
            blk["state"] = "Updating"  # may resurrect a truncated block
        state["data_size"] = sum(
            b["data_size"] for b in state["blocks"] if b["state"] != "Deleted"
        )
        state["num_blocks"] = sum(
            1 for b in state["blocks"] if b["state"] != "Deleted"
        )
        state["state"] = "Updating"
        _touch(state, ev)
        return state, errors

    if op == "TRUNCATE":
        new_len = ev.get("truncate_new_length")
        if new_len is None:
            errors.append(_err(ev, "TRUNCATE without new length"))
            return state, errors
        offset = 0
        for blk in state["blocks"]:
            if blk["state"] == "Deleted":
                continue
            if offset >= new_len:
                _grow_block(blk, 0, tx)
                blk["state"] = "Deleted"
            elif offset + blk["data_size"] > new_len:
                _grow_block(blk, new_len - offset, tx)
            offset += blk["data_size"]
        # recompute using live blocks only
        state["data_size"] = sum(
            b["data_size"] for b in state["blocks"] if b["state"] != "Deleted"
        )
        state["num_blocks"] = sum(
            1 for b in state["blocks"] if b["state"] != "Deleted"
        )
        state["state"] = "Updating"
        _touch(state, ev)
        return state, errors

    if op == "CLOSE":
        # T6: Snapshot/Backlog CLOSE must not regress past live txids;
        # (strict equality in the reference, checkCloseTxState —
        # TransactionProcessor.java:76-84; we arrive here only when
        # tx > last_tx_id thanks to the T4 guard, which is the New-mode
        # condition).
        by_id = {b["block_id"]: b for b in state["blocks"]}
        for b in ev.get("blocks") or []:
            blk = by_id.get(b["block_id"])
            if blk is None:
                prev_id = (
                    state["blocks"][-1]["block_id"] if state["blocks"] else None
                )
                blk = _new_block(b, tx, prev_id)
                state["blocks"].append(blk)
                by_id[blk["block_id"]] = blk
            elif b.get("size") is not None:
                _grow_block(blk, b["size"], tx)
            blk["state"] = "Finalized"
        state["state"] = "Finalized"
        if ev.get("file_type"):
            state["file_type"] = ev["file_type"]
        if ev.get("length") is not None:
            state["data_size"] = ev["length"]
        else:
            state["data_size"] = sum(
                b["data_size"] for b in state["blocks"] if b["state"] != "Deleted"
            )
        state["num_blocks"] = sum(
            1 for b in state["blocks"] if b["state"] != "Deleted"
        )
        _touch(state, ev)
        return state, errors

    if op == "ERROR":
        state["state"] = "Error"
        _touch(state, ev)
        return state, errors

    if op == "CONCAT_DELETE":
        # Reference parses but routes it to IGNORE (no handler in
        # SourceTransactionProcessor). Same here.
        return state, errors

    errors.append(_err(ev, f"unknown op {op}"))
    return state, errors


def fold_events(
    state: State | None, events: Iterable[Event]
) -> tuple[State | None, list[Error]]:
    """Fold events (must be pre-sorted by tx_id) into file state."""
    errors: list[Error] = []
    for ev in events:
        state, errs = apply_event(state, ev)
        errors.extend(errs)
    return state, errors


def compressed_change_set(
    state: State, start_tx: int, end_tx: int
) -> dict[int, tuple[int, int, bool]]:
    """T16: merge per-tx byte intervals per block into one covering
    interval for (start_tx, end_tx] (reference
    DFSBlockState.compressedChangeSet, DFSBlockState.java:75-106).

    Returns {block_id: (start_offset, end_offset, any_deleted)}.
    """
    out: dict[int, tuple[int, int, bool]] = {}
    for blk in state.get("blocks") or []:
        lo, hi, deleted, seen = None, None, False, False
        for d in blk.get("deltas") or []:
            if d["tx_id"] <= start_tx or d["tx_id"] > end_tx:
                continue
            seen = True
            lo = d["start_offset"] if lo is None else min(lo, d["start_offset"])
            hi = d["end_offset"] if hi is None else max(hi, d["end_offset"])
            deleted = deleted or bool(d["deleted"])
        if seen:
            out[blk["block_id"]] = (lo, hi, deleted)
    return out
