"""Manifest shape invariant: every delta entry any writer commits is a
complete dict. Readers and folds rely on it without fallbacks — the
touched-bucket list drives subset folds, subset reads and lookups, the
byte count drives the read strategy switch, and the route list drives
tenant pruning. Raw ingest deltas are always parsed-format; the only
flat deltas are minor-fold outputs, marked merged.

One small lake is driven through ingest (including an empty and a
dead-letter-only batch), inline minor and major folds, rollback_to,
rebucket and expire_snapshots; every manifest is checked as it is
committed, and every retained snapshot file after each operation."""

from __future__ import annotations

import json
import os

from pyspark_cdc.schemas import KAFKA_SHAPE
from pyspark_cdc.sink import ParquetLake
from pyspark_cdc.stream import process_batch

ENTRY_KEYS = {"path", "format", "buckets", "bytes", "routes"}


def _rec(value, off, topic="t"):
    return {"key": None, "value": value, "topic": topic, "partition": 0,
            "offset": off}


def _upsert(i, lsn, topic="t"):
    return _rec(json.dumps({"payload": {
        "op": "c", "source": {"lsn": lsn, "ts_ms": lsn},
        "after": {"repo": "r", "path": f"p{i}", "commit": f"c{lsn}",
                  "lang": "py", "content": f"v{lsn}"},
    }}), lsn, topic)


def _delete(i, lsn):
    return _rec(json.dumps({"payload": {
        "op": "d", "source": {"lsn": lsn, "ts_ms": lsn},
        "before": {"repo": "r", "path": f"p{i}"},
    }}), lsn)


def _check_entries(meta: dict) -> None:
    for d in meta.get("deltas", []):
        assert isinstance(d, dict), (meta["id"], d)
        assert ENTRY_KEYS <= set(d), (meta["id"], d)
        assert all(isinstance(b, int) for b in d["buckets"]), d
        assert isinstance(d["bytes"], int) and d["bytes"] >= 0, d
        if d.get("merged"):
            assert d["format"] == "flat", d
        else:
            assert d["format"] == "parsed", d


def _check_snapshot_files(lake: ParquetLake) -> int:
    n = 0
    for f in os.listdir(lake._meta_dir):
        if f.startswith("snap-") and f.endswith(".json"):
            with open(os.path.join(lake._meta_dir, f)) as fh:
                _check_entries(json.load(fh))
            n += 1
    return n


def test_every_committed_delta_entry_is_complete(spark, tmp_path):
    lake = ParquetLake(spark, str(tmp_path / "lake"), n_buckets=4,
                       mode="mor", compact_every=2, major_every=2,
                       snapshot_retention=4)
    committed = []
    commit = lake._commit_snapshot_unlocked

    def checked_commit(meta):
        _check_entries(meta)
        committed.append(meta["id"])
        commit(meta)

    lake._commit_snapshot_unlocked = checked_commit

    def step(op):
        op()
        assert _check_snapshot_files(lake) >= 1

    def feed(bid, recs):
        step(lambda: process_batch(
            spark.createDataFrame(recs, schema=KAFKA_SHAPE), bid, lake))

    feed(0, [_upsert(i, 1 + i) for i in range(6)])
    feed(1, [_upsert(1, 10), _upsert(7, 11, topic="u")])  # -> MAJOR
    assert lake.current_meta()["buckets"]
    pre_minor = lake.current_meta()["id"]

    feed(2, [_delete(2, 20), _rec('{"payload": {broken', 21)])
    feed(3, [_upsert(3, 30, topic="u")])  # -> MINOR: one merged flat delta
    meta = lake.current_meta()
    assert [d["format"] for d in meta["deltas"]] == ["flat"]
    assert meta["deltas"][0]["merged"] is True

    feed(4, [])  # empty batch: manifest carries the merged delta forward
    feed(5, [_rec("", 50), _rec('{"payload": {nope', 51)])  # dead letters
    assert lake.current_meta()["deltas"]

    step(lambda: lake.rollback_to(pre_minor))
    assert lake.current_meta()["rollback"] is True
    feed(6, [_upsert(4, 60)])

    step(lambda: lake.rebucket(8))
    assert lake.current_meta()["n_buckets"] == 8
    feed(7, [_upsert(5, 70), _upsert(8, 71, topic="u")])
    feed(8, [_upsert(5, 80)])  # -> fold on the new modulus
    feed(9, [_upsert(9, 90)])
    assert any(not d.get("merged") for d in lake.current_meta()["deltas"])

    step(lambda: lake.expire_snapshots(keep_last=2))
    assert _check_snapshot_files(lake) <= 3

    # every operation above committed through the checked path
    assert committed == sorted(committed) and len(committed) >= 14
    assert lake.read().count() > 0
