"""TackleTable snapshots: the fold of the commit log against a naive full
replay at every version, and the per-handle cache that parses each
commit file once."""

from __future__ import annotations

import json
import os
import sys
import threading
import unittest.mock as mock

import pytest
from pyspark.sql import functions as F

import lakehouse_tacklebox_spark.tablestore.table as T
from lakehouse_tacklebox_spark.tablestore.table import TackleTable
from lakehouse_tacklebox_spark.tablestore.transactions import TackleCatalog

SCHEMA = "id bigint, tag string, amount double"


def _oracle(path: str) -> list[dict]:
    """Full replay of ``_log/`` straight from the JSON, one state per
    version: the file list in log order, per-file stats and sketches,
    schema, properties, txn stamps and identity watermarks."""
    log_dir = os.path.join(path, "_log")
    entries = [
        json.load(open(os.path.join(log_dir, n)))
        for n in sorted(n for n in os.listdir(log_dir) if n.endswith(".json"))
    ]
    states = []
    for v in range(len(entries)):
        files: list[str] = []
        stats: dict = {}
        sketches: dict = {}
        schema = ""
        props: dict = {}
        for e in entries[: v + 1]:
            removed = set(e.get("remove", []))
            files = [f for f in files if f not in removed] + e.get("add", [])
            for f in removed:
                stats.pop(f, None)
                sketches.pop(f, None)
            for f in e.get("add", []):
                stats[f] = e.get("fileStats", {}).get(f, {})
                sketches[f] = e.get("fileSketches", {}).get(f, {})
            schema = e.get("schema") or schema
            if e["operation"] == "SET TBLPROPERTIES":
                props.update(e["operationParameters"].get("properties", {}))
        txns: dict = {}
        marks: dict = {}
        for e in reversed(entries[: v + 1]):
            txn = e["operationParameters"].get("txn")
            if txn and txn["appId"] not in txns:
                txns[txn["appId"]] = int(txn["version"])
            for col, wm in e.get("identityWatermark", {}).items():
                marks.setdefault(col, wm)
        states.append(
            {
                "version": entries[v]["version"],
                "timestamp_ms": entries[v]["timestamp_ms"],
                "files": files,
                "stats": {f: stats[f] for f in files},
                "sketches": {f: sketches[f] for f in files},
                "schema": schema,
                "properties": props,
                "txns": txns,
                "watermarks": marks,
            }
        )
    return states


def _state(snap: T.Snapshot) -> dict:
    return {
        "version": snap.version,
        "timestamp_ms": snap.timestamp_ms,
        "files": list(snap.files),
        "stats": {f: st for f, (st, _sk) in snap.files.items()},
        "sketches": {f: sk for f, (_st, sk) in snap.files.items()},
        "schema": snap.schema,
        "properties": snap.properties,
        "txns": snap.txns,
        "watermarks": snap.watermarks,
    }


def _rows(spark, ids, tag="a"):
    return spark.createDataFrame([(i, f"{tag}{i}", float(i)) for i in ids], SCHEMA).coalesce(1)


def test_fold_matches_full_replay_at_every_version(spark, tmp_path):
    t = TackleTable.create(spark, str(tmp_path / "t"), _rows(spark, range(0, 20)).repartition(2))
    t.set_properties({"pointlookup.columns": "tag", "owner": "x"})
    t.append(_rows(spark, range(20, 40), "b").repartition(3))
    wm = t.identity_watermark("id")
    ids = _rows(spark, range(5), "c").withColumn("id", (F.lit(wm) + F.col("id")).cast("bigint"))
    t.append(ids, identity_reserve=("id", wm))
    (
        t.merge(_rows(spark, [1, 2, 500], "m"), on=["id"])
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .withTransaction("mv", 7)
        .execute()
    )
    t.delete("id >= 30 AND id < 35")
    t.update("id < 5", {"amount": "amount * 2"})
    t.set_properties({"owner": "y"})
    t.optimize(target_file_rows=25, zorder_by=["id"])
    t.restore(3)
    assert [h["operation"] for h in reversed(t.history())] == [
        "CREATE", "SET TBLPROPERTIES", "APPEND", "APPEND", "MERGE", "DELETE",
        "UPDATE", "SET TBLPROPERTIES", "OPTIMIZE", "RESTORE",
    ]  # fmt: skip

    oracle = _oracle(t.path)
    latest = oracle[-1]
    assert latest["txns"] == {"mv": 7} and latest["watermarks"] == {"id": wm + 5}
    assert any(latest["sketches"].values()), "the log needs sketches to compare"
    for v, want in enumerate(oracle):
        assert _state(t.snapshot(v)) == want, f"version {v}"
    assert _state(t.snapshot()) == latest
    # a fresh handle folds the same log to the same states
    fresh = TackleTable(spark, t.path)
    assert [_state(fresh.snapshot(v)) for v in range(len(oracle))] == oracle

    # TIMESTAMP AS OF resolves to the latest version committed at or
    # before the timestamp, exactly like a scan of the replay
    picked = []
    orig = TackleTable.snapshot

    def recording(self, version=None):
        picked.append(version)
        return orig(self, version)

    stamps = sorted({s["timestamp_ms"] for s in oracle})
    with mock.patch.object(TackleTable, "snapshot", recording):
        for ts in stamps + [stamps[-1] + 1000]:
            picked.clear()
            t.read(timestamp_ms=ts)
            want = max(s["version"] for s in oracle if s["timestamp_ms"] <= ts)
            assert picked == [want], ts
    with pytest.raises(ValueError):
        t.read(timestamp_ms=stamps[0] - 1)


def test_handle_parses_each_commit_file_once(spark, tmp_path):
    t = TackleTable.create(spark, str(tmp_path / "t"), _rows(spark, range(10)))
    assert t.version() == 0
    other = TackleTable(spark, t.path)
    for i in range(3):
        other.append(_rows(spark, [100 + i]))

    def counting():
        return mock.patch.object(T.LogEntry, "from_json", wraps=T.LogEntry.from_json)

    # another handle's k commits: the next call parses exactly those k
    with counting() as parsed:
        d = t.detail()
    assert parsed.call_count == 3
    assert d["version"] == 3 and d["numFiles"] == len(t.snapshot().files) == 4
    # a write on an up-to-date handle parses nothing; its own commit is
    # parsed once, by the next call
    with counting() as parsed:
        t.append(_rows(spark, [200]))
    assert parsed.call_count == 0
    with counting() as parsed:
        assert t.version() == 4
        assert t.read().count() == 14
        assert t.scan("id = 200").count() == 1
        assert [h["version"] for h in t.history()] == [4, 3, 2, 1, 0]
    assert parsed.call_count == 1
    # an older version is folded from the cached entries
    with counting() as parsed:
        assert t.read(version=1).count() == 11
        assert len(t.snapshot(2).files) == 3
    assert parsed.call_count == 0


@pytest.mark.parametrize("old_commits,new_commits", [(2, 0), (0, 2)])
def test_drop_and_recreate_never_serves_the_old_table(spark, tmp_path, old_commits, new_commits):
    """A handle cached on a dropped path reads the table recreated there,
    whether the new log is shorter or longer than the one it cached."""
    cat = TackleCatalog(spark, str(tmp_path / "cat"))
    stale = cat.create("x", _rows(spark, range(10)))
    for i in range(old_commits):
        stale.append(_rows(spark, [100 + i]))
    assert stale.read().count() == 10 + old_commits
    cat.drop("x")
    fresh = cat.create("x", _rows(spark, range(3), "new"))
    for i in range(new_commits):
        fresh.append(_rows(spark, [300 + i], "new"))
    assert stale.version() == new_commits
    assert sorted(r["tag"] for r in stale.read().collect()) == sorted(
        r["tag"] for r in fresh.read().collect()
    )
    assert all(tag.startswith("new") for tag in (r["tag"] for r in stale.read().collect()))
    assert stale.snapshot() == fresh.snapshot()


def test_shared_handle_cache_under_concurrent_commits(spark, tmp_path):
    """Eight threads read one handle while another handle commits: each
    thread sees versions in order with the state of that version, and the
    handle ends where a fresh one starts."""
    t = TackleTable.create(spark, str(tmp_path / "t"), schema=SCHEMA)
    shared, writer = TackleTable(spark, t.path), TackleTable(spark, t.path)
    seen: list[list] = [[] for _ in range(8)]
    stop = threading.Event()

    def reader(i):
        while not stop.is_set():
            snap = shared.snapshot()
            seen[i].append((snap.version, snap.properties.get("k")))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=reader, args=(i,)) for i in range(8)]
    try:
        for th in threads:
            th.start()
        for v in range(1, 61):
            writer.set_properties({"k": str(v)})  # commits version v
    finally:
        stop.set()
        for th in threads:
            th.join(timeout=60)
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    for obs in seen:
        assert obs and [v for v, _ in obs] == sorted(v for v, _ in obs)
        assert all(k == (str(v) if v else None) for v, k in obs)
    assert shared.snapshot() == TackleTable(spark, t.path).snapshot()
    assert shared.version() == 60
