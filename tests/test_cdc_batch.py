"""CDC batch reconciler: golden semantics + Spark/pure-Python parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hcdc_spark.cdc.generator import events_df, generate_events
from hcdc_spark.cdc.model import FILE_STATE_SCHEMA, empty_event
from hcdc_spark.cdc.reconcile import (
    detect_tx_gaps,
    expand_directory_events,
    gc_deleted,
    reconcile_batch,
    reconcile_errors,
)
from hcdc_spark.cdc.statemachine import (
    apply_event,
    compressed_change_set,
    fold_events,
)


def ev(tx, op, **kw):
    base = dict(
        tx_id=tx, op=op, ts=1_700_000_000_000 + tx * 1000, namespace="ns1",
        mode="New",
    )
    base.update(kw)
    return empty_event(**base)


def blk(bid, size=0, **kw):
    b = dict(
        block_id=bid, size=size, block_size=1 << 20, generation_stamp=1,
        start_offset=None, end_offset=None, delta_size=None, deleted=False,
    )
    b.update(kw)
    return b


# ---------------------------------------------------------------- pure fold


def test_create_update_close_lifecycle():
    events = [
        ev(1, "ADD_FILE", path="/a/f1", inode_id=1, blocks=[blk(10)],
           block_size=1 << 20, overwrite=False),
        ev(2, "UPDATE_BLOCKS", path="/a/f1", inode_id=1,
           blocks=[blk(10, size=100)]),
        ev(3, "ADD_BLOCK", path="/a/f1", inode_id=1,
           blocks=[blk(10, size=100), blk(11)]),
        ev(4, "UPDATE_BLOCKS", path="/a/f1", inode_id=1,
           blocks=[blk(11, size=50)]),
        ev(5, "CLOSE", path="/a/f1", inode_id=1, length=150,
           file_type="PARQUET",
           blocks=[blk(10, size=100), blk(11, size=50)]),
    ]
    state, errors = fold_events(None, events)
    assert errors == []
    assert state["state"] == "Finalized"
    assert state["data_size"] == 150
    assert state["num_blocks"] == 2
    assert state["file_type"] == "PARQUET"
    assert state["last_tx_id"] == 5
    b10, b11 = state["blocks"]
    assert b10["prev_block_id"] == -1 and b11["prev_block_id"] == 10
    # per-tx byte intervals (T2): block 10 grew 0→100 at tx2
    assert {(d["tx_id"], d["start_offset"], d["end_offset"])
            for d in b10["deltas"]} == {(2, 0, 99)}
    assert {(d["tx_id"], d["start_offset"], d["end_offset"])
            for d in b11["deltas"]} == {(4, 0, 49)}


def test_txid_dedup_guard_t4():
    events = [
        ev(1, "ADD_FILE", path="/a/f", inode_id=1, blocks=[blk(1)]),
        ev(2, "UPDATE_BLOCKS", path="/a/f", inode_id=1,
           blocks=[blk(1, size=10)]),
    ]
    state, _ = fold_events(None, events)
    replayed, errs = fold_events(state, [dict(e) for e in events])
    assert errs == []
    assert replayed == state  # replay is a strict no-op


def test_add_file_overwrite_t9():
    events = [
        ev(1, "ADD_FILE", path="/a/f", inode_id=1, blocks=[blk(1, size=5)]),
        ev(2, "ADD_FILE", path="/a/f", inode_id=1, overwrite=True,
           blocks=[blk(2)]),
    ]
    state, errors = fold_events(None, events)
    assert errors == []
    assert [b["block_id"] for b in state["blocks"]] == [2]
    assert state["created_time"] == events[1]["ts"]


def test_add_file_exists_no_overwrite_errors():
    events = [
        ev(1, "ADD_FILE", path="/a/f", inode_id=1, blocks=[blk(1)]),
        ev(2, "ADD_FILE", path="/a/f", inode_id=1, overwrite=False,
           blocks=[blk(2)]),
    ]
    state, errors = fold_events(None, events)
    assert len(errors) == 1 and "exists" in errors[0]["error"]
    assert [b["block_id"] for b in state["blocks"]] == [1]


def test_truncate_semantics():
    events = [
        ev(1, "ADD_FILE", path="/a/f", inode_id=1, blocks=[blk(1, size=100)]),
        ev(2, "ADD_BLOCK", path="/a/f", inode_id=1,
           blocks=[blk(1, size=100), blk(2)]),
        ev(3, "UPDATE_BLOCKS", path="/a/f", inode_id=1,
           blocks=[blk(2, size=80)]),
        ev(4, "TRUNCATE", path="/a/f", inode_id=1, truncate_new_length=130),
    ]
    state, errors = fold_events(None, events)
    assert errors == []
    assert state["data_size"] == 130
    b1, b2 = state["blocks"]
    assert b1["data_size"] == 100          # untouched
    assert b2["data_size"] == 30           # trimmed 80 → 30
    assert state["num_blocks"] == 2
    # truncate recorded as a deleted interval on block 2 (T16 input)
    assert any(d["deleted"] and d["start_offset"] == 30 and d["end_offset"] == 79
               for d in b2["deltas"])
    # truncate past a whole block deletes it
    state2, _ = fold_events(state, [
        ev(5, "TRUNCATE", path="/a/f", inode_id=1, truncate_new_length=40),
    ])
    assert state2["data_size"] == 40
    assert state2["num_blocks"] == 1
    assert state2["blocks"][1]["state"] == "Deleted"


def test_snapshot_close_bootstraps_t22():
    state, errors = fold_events(None, [
        ev(7, "CLOSE", path="/a/f", inode_id=1, length=100, mode="Snapshot",
           file_type="AVRO", blocks=[blk(1, size=100)]),
    ])
    assert errors == []
    assert state["state"] == "Finalized"
    assert state["data_size"] == 100


def test_interval_merge_t16():
    events = [
        ev(1, "ADD_FILE", path="/a/f", inode_id=1, blocks=[blk(1)]),
        ev(2, "UPDATE_BLOCKS", path="/a/f", inode_id=1, blocks=[blk(1, size=10)]),
        ev(3, "UPDATE_BLOCKS", path="/a/f", inode_id=1, blocks=[blk(1, size=25)]),
        ev(4, "UPDATE_BLOCKS", path="/a/f", inode_id=1, blocks=[blk(1, size=40)]),
    ]
    state, _ = fold_events(None, events)
    merged = compressed_change_set(state, start_tx=2, end_tx=4)
    # tx3 grew [10,24], tx4 grew [25,39] → covering interval [10,39]
    assert merged == {1: (10, 39, False)}
    full = compressed_change_set(state, start_tx=0, end_tx=99)
    assert full == {1: (0, 39, False)}


def test_unknown_state_ops_error():
    state, errors = fold_events(None, [
        ev(1, "APPEND", path="/a/f", inode_id=1),
    ])
    assert state is None
    assert len(errors) == 1 and "no live file state" in errors[0]["error"]


# ------------------------------------------------------------- spark parity


def _pure_python_reconcile(events: list[dict]) -> dict[int, dict]:
    """Independent per-inode fold used as the oracle for the Spark path."""
    by_inode: dict[int, list[dict]] = {}
    for e in events:
        if e.get("inode_id") is not None:
            by_inode.setdefault(e["inode_id"], []).append(e)
    out = {}
    for inode, evs in by_inode.items():
        st, _ = fold_events(None, sorted(evs, key=lambda x: x["tx_id"]))
        if st is not None:
            out[inode] = st
    return out


def test_spark_matches_pure_python(spark):
    events = generate_events(n_files=40, seed=7, with_dir_ops=False)
    df = events_df(spark, events)
    got = {
        r["inode_id"]: r.asDict(recursive=True)
        for r in reconcile_batch(df, expand_dirs=False).collect()
    }
    want = _pure_python_reconcile(events)
    assert set(got) == set(want)
    for inode, w in want.items():
        g = got[inode]
        for k in ("path", "state", "data_size", "num_blocks", "last_tx_id",
                  "file_type", "created_time", "updated_time"):
            assert g[k] == w[k], f"inode {inode} field {k}: {g[k]} != {w[k]}"
        gb = [(b["block_id"], b["data_size"], b["state"]) for b in g["blocks"]]
        wb = [(b["block_id"], b["data_size"], b["state"]) for b in w["blocks"]]
        assert gb == wb, f"inode {inode} blocks differ"


def test_spark_matches_sequential_python_recreates(spark):
    """Re-created lifetimes (file-level AND cascade DELETE→re-ADD,
    truncate + post-truncate growth inside the new lifetime) must fold
    identically through the distributed reconciler (fixpoint cascade
    expansion + mapInArrow statemachine fold) and the sequential
    pure-Python replay — the Spark face of the epoch coverage the
    DuckDB relational-fold sweep gained this round. The subtree=True
    seeds add OVERLAPPING dir-op subtrees (same dir deleted twice with
    re-ADDs under it, a rename chain on the survivor) — the shapes
    _safe_dir_ops defers across fixpoint rounds."""
    from hcdc_spark.operators.cdc_oracle import _simulate

    for seed, subtree in ((3, False), (9, False), (15, False),
                          (5, True), (21, True)):
        events = generate_events(
            n_files=15, seed=seed, with_dir_ops=True,
            with_anomalies=True, with_recreates=True,
            with_subtree_recreates=subtree,
        )
        got = {
            r["inode_id"]: r.asDict(recursive=True)
            for r in reconcile_batch(events_df(spark, events)).collect()
        }
        _, _, states = _simulate(events)
        want = {i: s for i, s in states.items() if s is not None}
        # all-errored inodes surface as Unknown stubs on the Spark side
        unknown = {i for i, g in got.items() if g["state"] == "Unknown"}
        assert set(got) - unknown == set(want), f"seed {seed}"
        assert unknown == {
            i for i, s in states.items() if s is None
        }, f"seed {seed}"
        for inode, w in want.items():
            g = got[inode]
            for k in ("path", "state", "data_size", "num_blocks",
                      "last_tx_id", "file_type"):
                assert g[k] == w[k], (
                    f"seed {seed} inode {inode} field {k}: "
                    f"{g[k]} != {w[k]}"
                )
            gb = [(b["block_id"], b["data_size"], b["state"])
                  for b in g["blocks"]]
            wb = [(b["block_id"], b["data_size"], b["state"])
                  for b in w["blocks"]]
            assert gb == wb, f"seed {seed} inode {inode} blocks differ"


def test_spark_idempotent_replay(spark):
    events = generate_events(n_files=25, seed=11, with_dir_ops=False,
                             with_duplicates=True)
    clean = generate_events(n_files=25, seed=11, with_dir_ops=False,
                            with_duplicates=False)
    a = reconcile_batch(events_df(spark, events), expand_dirs=False)
    b = reconcile_batch(events_df(spark, clean), expand_dirs=False)
    sel = ["inode_id", "path", "state", "data_size", "last_tx_id"]
    assert sorted(map(tuple, a.select(sel).collect())) == sorted(
        map(tuple, b.select(sel).collect())
    )


# ------------------------------------------------------------ dir cascades


def test_directory_delete_cascade(spark):
    events = [
        ev(1, "ADD_FILE", path="/data/d1/f1", inode_id=1, blocks=[blk(1, size=10)]),
        ev(2, "ADD_FILE", path="/data/d1/f2", inode_id=2, blocks=[blk(2, size=10)]),
        ev(3, "ADD_FILE", path="/data/d2/f3", inode_id=3, blocks=[blk(3, size=10)]),
        ev(4, "DELETE", path="/data/d1", inode_id=999),  # directory
    ]
    state = reconcile_batch(events_df(spark, events)).collect()
    by_inode = {r["inode_id"]: r for r in state}
    assert by_inode[1]["state"] == "Deleted"
    assert by_inode[2]["state"] == "Deleted"
    assert by_inode[3]["state"] == "New"
    assert len(gc_deleted(
        reconcile_batch(events_df(spark, events))).collect()) == 1


def test_directory_rename_cascade(spark):
    events = [
        ev(1, "ADD_FILE", path="/data/d1/f1", inode_id=1, blocks=[blk(1)]),
        ev(2, "ADD_FILE", path="/data/d1/sub/f2", inode_id=2, blocks=[blk(2)]),
        ev(3, "RENAME", path="/data/d1", inode_id=999, dest_path="/data/moved"),
    ]
    state = {r["inode_id"]: r for r in
             reconcile_batch(events_df(spark, events)).collect()}
    assert state[1]["path"] == "/data/moved/f1"
    assert state[2]["path"] == "/data/moved/sub/f2"


def test_rename_overwrite_deletes_dest(spark):
    events = [
        ev(1, "ADD_FILE", path="/a/src", inode_id=1, blocks=[blk(1)]),
        ev(2, "ADD_FILE", path="/a/dst", inode_id=2, blocks=[blk(2)]),
        ev(3, "RENAME", path="/a/src", inode_id=1, dest_path="/a/dst",
           rename_opts="OVERWRITE"),
    ]
    state = {r["inode_id"]: r for r in
             reconcile_batch(events_df(spark, events)).collect()}
    assert state[1]["path"] == "/a/dst"
    assert state[2]["state"] == "Deleted"


def test_tmp_children_skipped_on_dir_delete(spark):
    events = [
        ev(1, "ADD_FILE", path="/tmp/d1/f1", inode_id=1, blocks=[blk(1)]),
        ev(2, "DELETE", path="/tmp/d1", inode_id=999),
    ]
    state = {r["inode_id"]: r for r in
             reconcile_batch(events_df(spark, events)).collect()}
    assert state[1]["state"] == "New"  # /tmp cascade skipped (T12)


# ----------------------------------------------------------------- gaps


def test_tx_gap_detection_t5(spark):
    events = [
        ev(1, "ADD_FILE", path="/a/f1", inode_id=1, blocks=[blk(1)]),
        ev(2, "APPEND", path="/a/f1", inode_id=1),
        ev(5, "CLOSE", path="/a/f1", inode_id=1, length=0, blocks=[]),
    ]
    gaps = detect_tx_gaps(events_df(spark, events)).collect()
    assert len(gaps) == 1
    assert gaps[0]["prev_tx_id"] == 2 and gaps[0]["tx_id"] == 5
    assert gaps[0]["gap"] == 2


def test_error_channel_t25(spark):
    events = [
        ev(1, "ADD_FILE", path="/a/f1", inode_id=1, blocks=[blk(1)]),
        ev(2, "APPEND", path="/a/ghost", inode_id=77),  # no such file
    ]
    errs = reconcile_errors(
        reconcile_batch(events_df(spark, events))).collect()
    assert len(errs) == 1
    assert errs[0]["inode_id"] == 77 and "no live file state" in errs[0]["error"]


# ------------------------------------------- chained cascades (fixpoint)


def test_chained_rename_then_delete_dir(spark):
    # rename dir A→B, then delete B, in ONE log: the delete must see the
    # children moved by the rename (fixpoint round 2; reference handles
    # chains via its live state store,
    # SourceTransactionProcessor.java:187-296).
    events = [
        ev(1, "ADD_FILE", path="/data/a/f1", inode_id=1, blocks=[blk(1)]),
        ev(2, "ADD_FILE", path="/data/a/f2", inode_id=2, blocks=[blk(2)]),
        ev(3, "RENAME", path="/data/a", inode_id=900, dest_path="/data/b"),
        ev(4, "DELETE", path="/data/b", inode_id=901),
    ]
    state = {r["inode_id"]: r for r in
             reconcile_batch(events_df(spark, events)).collect()}
    assert state[1]["state"] == "Deleted"
    assert state[2]["state"] == "Deleted"


def test_chained_double_dir_rename(spark):
    # A→B then B→C: child must end at /c/f1 (two fixpoint rounds).
    events = [
        ev(1, "ADD_FILE", path="/a/f1", inode_id=1, blocks=[blk(1)]),
        ev(2, "RENAME", path="/a", inode_id=900, dest_path="/b"),
        ev(3, "RENAME", path="/b", inode_id=900, dest_path="/c"),
    ]
    state = {r["inode_id"]: r for r in
             reconcile_batch(events_df(spark, events)).collect()}
    assert state[1]["path"] == "/c/f1"


def test_independent_dirs_expand_in_one_round(spark):
    # disjoint subtrees: single round regardless of count
    events = [
        ev(1, "ADD_FILE", path="/a/f1", inode_id=1, blocks=[blk(1)]),
        ev(2, "ADD_FILE", path="/b/f2", inode_id=2, blocks=[blk(2)]),
        ev(3, "DELETE", path="/a", inode_id=900),
        ev(4, "RENAME", path="/b", inode_id=901, dest_path="/bb"),
    ]
    state = {r["inode_id"]: r for r in
             reconcile_batch(events_df(spark, events)).collect()}
    assert state[1]["state"] == "Deleted"
    assert state[2]["path"] == "/bb/f2"


def test_prior_paths_classify_and_cascade(spark):
    # Incremental slice: f1's ADD_FILE arrived in an earlier batch. Its
    # DELETE must stay a file op (not be eaten as a dir op), and a dir
    # delete must cascade over prior-batch files (T11 incremental).
    prior = spark.createDataFrame(
        [(1, "/data/d/f1", "ns1"), (2, "/data/d/f2", "ns1")],
        "inode_id long, path string, namespace string",
    )
    events = [
        ev(10, "DELETE", path="/data/d/f1", inode_id=1),   # file delete
        ev(11, "DELETE", path="/data/d", inode_id=900),    # dir delete
    ]
    out = expand_directory_events(events_df(spark, events), prior_paths=prior)
    rows = out.orderBy("tx_id", "inode_id").collect()
    ops = [(r["tx_id"], r["op"], r["inode_id"]) for r in rows]
    # file delete preserved verbatim; dir delete expanded to child f2
    # only (f1 already deleted at tx 10)
    assert (10, "DELETE", 1) in ops
    assert (11, "DELETE", 2) in ops
    assert not any(r["inode_id"] == 900 for r in rows)
    assert not any(r["tx_id"] == 11 and r["inode_id"] == 1 for r in rows)


def test_namespace_isolation_in_cascade(spark):
    # same path in another namespace must not cascade (ADVICE r1)
    events = [
        ev(1, "ADD_FILE", path="/d/f1", inode_id=1, blocks=[blk(1)],
           namespace="ns1"),
        ev(2, "ADD_FILE", path="/d/f2", inode_id=2, blocks=[blk(2)],
           namespace="ns2"),
        ev(3, "DELETE", path="/d", inode_id=900, namespace="ns1"),
    ]
    state = {r["inode_id"]: r for r in
             reconcile_batch(events_df(spark, events)).collect()}
    assert state[1]["state"] == "Deleted"
    assert state[2]["state"] == "New"


def test_overwrite_sees_dir_renamed_file(spark):
    # dir rename parks f2 at /b/x, then a file RENAME OVERWRITE onto
    # /b/x must delete it (overwrite synthesis runs post-fixpoint).
    events = [
        ev(1, "ADD_FILE", path="/a/x", inode_id=1, blocks=[blk(1)]),
        ev(2, "ADD_FILE", path="/src/y", inode_id=2, blocks=[blk(2)]),
        ev(3, "RENAME", path="/a", inode_id=900, dest_path="/b"),
        ev(4, "RENAME", path="/src/y", inode_id=2, dest_path="/b/x",
           rename_opts="OVERWRITE"),
    ]
    state = {r["inode_id"]: r for r in
             reconcile_batch(events_df(spark, events)).collect()}
    assert state[1]["state"] == "Deleted"
    assert state[2]["path"] == "/b/x"


def test_reconcile_is_input_order_independent(spark):
    """Arrival order must not matter: the fold sorts by tx_id per inode
    (reconcile sorts inside the group), so a shuffled event log
    reconciles to exactly the state of the ordered one — Spark gives no
    intra-partition ordering guarantees after a shuffle, so this is a
    correctness requirement at scale, not a nicety."""
    import random

    from hcdc_spark.cdc.generator import events_df, generate_events
    from hcdc_spark.cdc.reconcile import reconcile_batch

    log = generate_events(
        n_files=30, seed=99, with_dir_ops=True, with_duplicates=True
    )
    shuffled = list(log)
    random.Random(7).shuffle(shuffled)

    def canon(df):
        return sorted(
            tuple(r)
            for r in df.select(
                "inode_id", "path", "num_blocks", "data_size",
                "last_tx_id", "state",
            ).collect()
        )

    a = reconcile_batch(events_df(spark, log)).drop("errors")
    b = reconcile_batch(events_df(spark, shuffled)).drop("errors")
    assert canon(a) == canon(b)


def test_bootstrapped_files_cascade_and_classify(spark):
    # Files created by Snapshot CLOSE (fsimage/listing bootstrap) have
    # no ADD_FILE; a later file DELETE must stay a file op and a dir
    # DELETE must cascade over them (review r4: _file_inodes /
    # _path_history were ADD_FILE-only).
    events = [
        ev(1, "CLOSE", path="/data/d/f1", inode_id=1, length=10,
           mode="Snapshot", file_type="CSV", blocks=[blk(1, size=10)]),
        ev(2, "CLOSE", path="/data/d/f2", inode_id=2, length=10,
           mode="Snapshot", file_type="CSV", blocks=[blk(2, size=10)]),
        ev(3, "DELETE", path="/data/d/f1", inode_id=1),   # file delete
        ev(4, "DELETE", path="/data/d", inode_id=900),    # dir delete
    ]
    state = {r["inode_id"]: r for r in
             reconcile_batch(events_df(spark, events)).collect()}
    assert state[1]["state"] == "Deleted"      # not eaten as a dir op
    assert state[2]["state"] == "Deleted"      # cascaded over bootstrap
    assert 900 not in state


def test_add_file_overwrite_deletes_other_inode(spark):
    # ADD_FILE overwrite=true onto a path held by a DIFFERENT inode
    # must synthesize the occupant's DELETE (reference
    # processAddFileTxMessage) — the same-inode case is T9.
    events = [
        ev(1, "ADD_FILE", path="/a/x", inode_id=1, blocks=[blk(1, size=5)]),
        ev(2, "CLOSE", path="/a/x", inode_id=1, length=5,
           blocks=[blk(1, size=5)]),
        ev(3, "ADD_FILE", path="/a/x", inode_id=2, overwrite=True,
           blocks=[blk(2)]),
    ]
    state = {r["inode_id"]: r for r in
             reconcile_batch(events_df(spark, events)).collect()}
    assert state[1]["state"] == "Deleted"
    assert state[2]["state"] == "New"
    assert state[2]["path"] == "/a/x"


# ------------------------------------------------- binary catch-up plan


_TS0 = 1_700_000_000_000


def _catchup_backlog(with_claims: bool) -> tuple[list[dict], list[dict]]:
    """A small binary backlog and the same history as file-level events.

    Returns (segment records, oracle events). Five files live in /d1,
    /d1/sub, /d2 and /keep; /d1 is renamed and /d2 deleted as whole
    directories, and /keep/f5 is renamed as a file. The oracle events
    carry every inode id and spell the two directory ops out per child,
    so ``_pure_python_reconcile`` folds them with no resolution or
    cascade of its own. ``with_claims`` appends one RENAME with
    OVERWRITE and one ADD with overwrite=true onto live files; each
    must delete the file it displaces."""
    from hcdc_spark.sources import editlog as E

    recs: list[dict] = []
    oracle: list[dict] = []

    def emit(rec: dict, **resolved) -> dict:
        rec["txid"] = len(recs) + 1
        recs.append(rec)
        out = E.ops_to_change_events([rec])[0]
        out.update(resolved)
        oracle.append(out)
        return out

    def put(ino: int, path: str, size: int, overwrite: bool = False) -> None:
        blk = {"block_id": ino * 10, "size": 0, "generation_stamp": 1}
        emit({"opcode": E.OP_ADD, "inode_id": ino, "path": path,
              "mtime": _TS0 + ino, "atime": _TS0 + ino,
              "block_size": 1 << 20, "overwrite": overwrite,
              "blocks": [blk]})
        emit({"opcode": E.OP_CLOSE, "inode_id": 0, "path": path,
              "mtime": _TS0 + ino + 1, "atime": _TS0 + ino,
              "block_size": 1 << 20, "blocks": [dict(blk, size=size)]},
             inode_id=ino)

    def children(dir_ev: dict, kids: dict[int, str]) -> None:
        """Replace a directory op's oracle row by one row per child."""
        oracle.remove(dir_ev)
        for ino, path in kids.items():
            child = dict(dir_ev, inode_id=ino, path=path, mode="Backlog")
            if dir_ev["op"] == "RENAME":
                child["dest_path"] = (
                    dir_ev["dest_path"] + path[len(dir_ev["path"]):]
                )
                child["rename_opts"] = None
            oracle.append(child)

    put(11, "/d1/f1", 100)
    put(12, "/d1/sub/f2", 200)
    put(13, "/d2/f3", 300)
    put(14, "/d2/f4", 400)
    put(15, "/keep/f5", 500)
    children(emit({"opcode": E.OP_RENAME, "src": "/d1", "dst": "/moved",
                   "timestamp": _TS0 + 50, "options": []}),
             {11: "/d1/f1", 12: "/d1/sub/f2"})
    children(emit({"opcode": E.OP_DELETE, "path": "/d2",
                   "timestamp": _TS0 + 51}),
             {13: "/d2/f3", 14: "/d2/f4"})
    emit({"opcode": E.OP_RENAME, "src": "/keep/f5", "dst": "/keep/f5b",
          "timestamp": _TS0 + 52, "options": []}, inode_id=15)
    if with_claims:
        put(16, "/keep/g", 600)
        ow = emit({"opcode": E.OP_RENAME, "src": "/keep/f5b",
                   "dst": "/keep/g", "timestamp": _TS0 + 60,
                   "options": [1]}, inode_id=15)  # 1 = OVERWRITE
        oracle.append(dict(ow, op="DELETE", inode_id=16, path="/keep/g",
                           dest_path=None, rename_opts=None))
        put(17, "/keep/h", 700)
        put(18, "/keep/h", 800, overwrite=True)
        add = next(e for e in oracle
                   if e["inode_id"] == 18 and e["op"] == "ADD_FILE")
        oracle.append(dict(add, op="DELETE", inode_id=17, overwrite=None,
                           blocks=None, block_size=None, length=None))
    return recs, oracle


def _write_segments(recs: list[dict], root) -> str:
    """Two ``edits_*`` segments holding ``recs``; returns their glob."""
    from hcdc_spark.sources.editlog import encode_segment

    half = len(recs) // 2
    for part in (recs[:half], recs[half:]):
        lo, hi = part[0]["txid"], part[-1]["txid"]
        (root / f"edits_{lo:019d}-{hi:019d}").write_bytes(
            encode_segment(part, layout=-63)
        )
    return str(root / "edits_*")


#: Spark jobs one catch-up of the small backlog may launch, planning
#: and write together, without and with the two overwrite claims.
#: Re-deriving the resolved or the dir-expanded log per consumer raises
#: them to 33 and 38.
MAX_CATCHUP_JOBS = {False: 19, True: 23}


def _catchup_jobs(spark, glob: str, group: str):
    """The catch-up state of the backlog at ``glob`` and the ids of the
    jobs that decoding, planning and a noop write of it launch."""
    from hcdc_spark.sources.editlog import read_editlog_binary

    sc = spark.sparkContext
    sc.setJobGroup(group, "binary catch-up")
    try:
        df = reconcile_batch(read_editlog_binary(spark, glob))
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, sorted(sc.statusTracker().getJobIdsForGroup(group))


def _assert_matches_oracle(df, oracle: list[dict]) -> None:
    got = {r["inode_id"]: r.asDict(recursive=True) for r in df.collect()}
    errors = {i: g.pop("errors") for i, g in got.items()}
    assert not any(errors.values()), errors
    assert got == _pure_python_reconcile(oracle)


@pytest.mark.parametrize("with_claims", [False, True])
def test_catchup_job_count_and_oracle(spark, tmp_path, with_claims):
    recs, oracle = _catchup_backlog(with_claims)
    df, jobs = _catchup_jobs(
        spark, _write_segments(recs, tmp_path), f"catchup-{with_claims}"
    )
    assert 0 < len(jobs) <= MAX_CATCHUP_JOBS[with_claims], jobs
    if with_claims:
        state = {r["inode_id"]: r for r in df.collect()}
        assert state[16]["state"] == "Deleted"
        assert state[17]["state"] == "Deleted"
        assert state[15]["path"] == "/keep/g"
    _assert_matches_oracle(df, oracle)


def test_arrow_fold_matches_fold_events(spark):
    """The mapInArrow fold against ``fold_events`` run directly, on its
    edge cases: null ``blocks``, an inode whose events all error (the
    ``state="Unknown"`` row), TRUNCATE deltas, and inode runs cut across
    Arrow batches — two rows per batch splits every run of three or
    more events, and inode 4's seven events span four batches."""
    events = [
        # null blocks on create and on close
        ev(1, "ADD_FILE", path="/a/nulls", inode_id=1, blocks=None),
        ev(2, "CLOSE", path="/a/nulls", inode_id=1, length=0, blocks=None),
        # never created: every event errors
        ev(3, "APPEND", path="/a/ghost", inode_id=2),
        ev(4, "TRUNCATE", path="/a/ghost", inode_id=2,
           truncate_new_length=1),
        # truncate within a block, then past a whole block
        ev(5, "ADD_FILE", path="/a/trunc", inode_id=3,
           blocks=[blk(1, size=100)]),
        ev(6, "ADD_BLOCK", path="/a/trunc", inode_id=3,
           blocks=[blk(1, size=100), blk(2)]),
        ev(7, "UPDATE_BLOCKS", path="/a/trunc", inode_id=3,
           blocks=[blk(2, size=80)]),
        ev(8, "TRUNCATE", path="/a/trunc", inode_id=3,
           truncate_new_length=130),
        ev(9, "TRUNCATE", path="/a/trunc", inode_id=3,
           truncate_new_length=40),
        ev(10, "ADD_FILE", path="/a/long", inode_id=4, blocks=[blk(4)]),
    ] + [
        ev(10 + k, "UPDATE_BLOCKS", path="/a/long", inode_id=4,
           blocks=[blk(4, size=10 * k)])
        for k in range(1, 6)
    ] + [
        ev(16, "CLOSE", path="/a/long", inode_id=4, length=50,
           blocks=[blk(4, size=50)]),
    ]
    want = {}
    for inode in {e["inode_id"] for e in events}:
        run = sorted((e for e in events if e["inode_id"] == inode),
                     key=lambda e: e["tx_id"])
        state, errors = fold_events(None, run)
        if state is None:
            state = {f.name: None for f in FILE_STATE_SCHEMA.fields}
            state.update(inode_id=inode, state="Unknown")
        want[inode] = dict(state, errors=errors)
    assert want[2]["state"] == "Unknown" and len(want[2]["errors"]) == 2

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        rows = reconcile_batch(
            events_df(spark, events), expand_dirs=False
        ).collect()
    finally:
        spark.conf.set(key, prev)
    got = {r["inode_id"]: r.asDict(recursive=True) for r in rows}
    assert got == want
