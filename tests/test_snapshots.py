"""Iceberg-semantics snapshot lineage: append-only commit log, time-travel
reads, versioned tombstones, and snapshot expiry.

Reference analog: SHARE's per-index lifecycle audit (IndexBackfill rows,
share/models/index_backfill.py:35-146) — made queryable: every commit is a
snapshot whose exact reader state can be reconstructed until expired."""

import pytest

from share_spark.corpus import make_web_pages
from share_spark.index.build import IndexConfig, IndexReader, build_index
from share_spark.index.snapshots import (
    SnapshotExpiredError,
    current_snapshot,
    expire_snapshots,
    read_snapshots,
)
from share_spark.query.wand import wand_topk
from share_spark.streaming.incremental import apply_incremental, compact, expel

CFG = IndexConfig(block_size=32, chunk_docs=64)


def _hits(idx, q, k=300):
    return {r["doc_id"] for r in wand_topk(idx, q, k=k).collect()}


@pytest.fixture()
def lineage_index(spark, tmp_path):
    """build (snap 0) -> incremental replace (snap 1) -> expel (snap 2)."""
    pages = make_web_pages(120, seed=9)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pages), d, CFG)

    idx0 = IndexReader.open(spark, d)
    target = sorted(_hits(idx0, "danger"))[0]
    changed = pages[pages.doc_id == target].copy()
    changed["text"] = "entirely fresh replacement xylophone content"
    changed["html"] = None
    apply_incremental(spark, d, spark.createDataFrame(changed), CFG)

    victim = sorted(_hits(IndexReader.open(spark, d), "danger"))[0]
    expel(spark, d, [victim])
    return d, target, victim


def test_commit_log_lineage(spark, lineage_index):
    d, target, victim = lineage_index
    recs = read_snapshots(d)
    assert [r["snapshot_id"] for r in recs] == [0, 1, 2]
    assert [r["parent_id"] for r in recs] == [None, 0, 1]
    assert [r["operation"] for r in recs] == ["append", "append", "delete"]
    assert recs[0]["generations"] == [0]
    assert recs[1]["generations"] == [0, 1]
    assert recs[2]["generations"] == [0, 1]  # delete does not add segments
    # tombstone versions are immutable dirs named by the committing snapshot
    assert recs[0]["tombstones"] is None
    assert recs[1]["tombstones"] == "tombstones_v1"
    assert recs[2]["tombstones"] == "tombstones_v2"
    # build metrics ride along with each commit (the "metrics alongside
    # each snapshot" requirement)
    assert recs[0]["summary"]["n_docs"] == 120
    assert recs[1]["summary"]["ingest"] == "incremental"
    assert recs[2]["summary"]["expelled"] == 1
    # every generation a record names carries its build nonce
    for rec in recs:
        assert set(rec["gen_nonces"]) == {str(g) for g in rec["generations"]}
        assert all(rec["gen_nonces"].values())


def test_time_travel_reads(spark, lineage_index):
    d, target, victim = lineage_index
    cur = IndexReader.open(spark, d)
    as_of_0 = IndexReader.open(spark, d, snapshot_id=0)
    as_of_1 = IndexReader.open(spark, d, snapshot_id=1)

    # snapshot 0: pre-replacement text still matches; xylophone unknown
    assert target in _hits(as_of_0, "danger")
    assert _hits(as_of_0, "xylophone") == set()
    # snapshot 1: replacement visible, victim not yet expelled
    assert target not in _hits(as_of_1, "danger")
    assert _hits(as_of_1, "xylophone") == {target}
    assert victim in _hits(as_of_1, "danger")
    # current: expel applied
    assert victim not in _hits(cur, "danger")
    assert _hits(cur, "danger") == _hits(as_of_1, "danger") - {victim}


def test_open_unknown_snapshot_raises(spark, lineage_index):
    d, *_ = lineage_index
    with pytest.raises(ValueError, match="snapshot 99"):
        IndexReader.open(spark, d, snapshot_id=99)


def test_rebuilt_generation_fails_nonce_check(spark, tmp_path):
    pages = make_web_pages(60, seed=3)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pages), d, CFG)
    snap0 = current_snapshot(d)["snapshot_id"]
    # rebuild gen0 in place: same number, new bytes, new nonce
    build_index(spark, spark.createDataFrame(pages), d, CFG)
    assert current_snapshot(d)["snapshot_id"] == snap0 + 1
    with pytest.raises(SnapshotExpiredError, match="rebuilt"):
        IndexReader.open(spark, d, snapshot_id=snap0)
    # the new commit remains readable
    assert _hits(IndexReader.open(spark, d, snapshot_id=snap0 + 1), "danger")


def test_compact_keep_history_then_expire(spark, lineage_index):
    d, target, victim = lineage_index
    pre = IndexReader.open(spark, d)
    pre_danger = _hits(pre, "danger")

    compact(spark, d, CFG, keep_history=True)
    recs = read_snapshots(d)
    assert recs[-1]["operation"] == "replace"
    assert recs[-1]["generations"] == [2]  # max old gen (1) + 1
    assert recs[-1]["tombstones"] is None
    assert recs[-1]["summary"]["compacted_generations"] == [0, 1]

    # current state identical to pre-compact live view
    cur = IndexReader.open(spark, d)
    assert len(cur.gen_manifests) == 1
    assert _hits(cur, "danger") == pre_danger
    assert _hits(cur, "xylophone") == {target}

    # history is still on disk: snapshot 0 still answers with the old text
    as_of_0 = IndexReader.open(spark, d, snapshot_id=0)
    assert target in _hits(as_of_0, "danger")

    # expiry reclaims everything the retained snapshot cannot see
    report = expire_snapshots(d, keep_last=1)
    assert report["expired"] == [0, 1, 2]
    assert set(report["deleted_dirs"]) == {
        "gen0", "gen1", "tombstones_v1", "tombstones_v2"
    }
    with pytest.raises(ValueError):  # record gone from the log entirely
        IndexReader.open(spark, d, snapshot_id=0)
    # current snapshot unaffected
    assert _hits(IndexReader.open(spark, d), "danger") == pre_danger


def test_default_compact_expires_history(spark, lineage_index):
    d, target, victim = lineage_index
    pre_danger = _hits(IndexReader.open(spark, d), "danger")
    compact(spark, d, CFG)  # swap path
    recs = read_snapshots(d)
    # lineage carried across the directory swap, replace commit appended
    assert [r["snapshot_id"] for r in recs] == [0, 1, 2, 3]
    assert recs[-1]["operation"] == "replace"
    assert recs[-1]["summary"]["history_expired"] is True
    assert _hits(IndexReader.open(spark, d), "danger") == pre_danger
    # pre-compact snapshots: records remain for audit, data is gone
    with pytest.raises(SnapshotExpiredError):
        IndexReader.open(spark, d, snapshot_id=1)


def test_serve_tier_follows_tombstone_versions(spark, lineage_index):
    """The serving tier serves the snapshot it opened until refresh(),
    which picks up a NEW tombstone version committed after it opened
    (pointer swing, not in-place mtime change)."""
    from share_spark.query.serve import TopKServer

    d, target, victim = lineage_index
    srv = TopKServer.open(d)
    before = {doc for doc, _s, _r in srv.topk("danger", k=300)}
    assert victim not in before
    next_victim = sorted(before)[0]
    expel(spark, d, [next_victim])
    assert {doc for doc, _s, _r in srv.topk("danger", k=300)} == before
    srv.refresh()
    after = {doc for doc, _s, _r in srv.topk("danger", k=300)}
    assert after == before - {next_victim}


def test_torn_log_tail_is_dropped_and_repaired(spark, tmp_path):
    """A crash mid-append leaves a partial final line: reads drop it (that
    commit never became current) and the next commit truncates it away
    instead of burying garbage mid-file."""
    from share_spark.index.snapshots import log_path

    pages = make_web_pages(60, seed=2)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pages), d, CFG)
    with open(log_path(d), "a") as f:
        f.write('{"snapshot_id": 1, "parent')  # torn append, no newline
    recs = read_snapshots(d)
    assert [r["snapshot_id"] for r in recs] == [0]

    victim = sorted(_hits(IndexReader.open(spark, d), "danger"))[0]
    expel(spark, d, [victim])
    recs = read_snapshots(d)  # torn line gone, clean id sequence
    assert [r["snapshot_id"] for r in recs] == [0, 1]
    assert recs[-1]["operation"] == "delete"
    # log is fully parseable line by line (no mid-file garbage)
    import json as _json

    with open(log_path(d)) as f:
        for ln in f:
            _json.loads(ln)


def test_legacy_layout_without_log_still_works(spark, tmp_path):
    """Indexes written before the snapshot log (in-place `tombstones` dir,
    no manifest pointer, no snapshots.jsonl) stay fully readable and
    upgradable: the next commit starts the log."""
    import json
    import os

    pages = make_web_pages(60, seed=5)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pages), d, CFG)
    idx = IndexReader.open(spark, d)
    victims = sorted(_hits(idx, "danger"))[:1]
    expel(spark, d, victims)

    # rewrite the index into the legacy layout
    man_path = os.path.join(d, "manifest.json")
    with open(man_path) as f:
        man = json.load(f)
    os.rename(
        os.path.join(d, man.pop("tombstones")),
        os.path.join(d, "tombstones"),
    )
    with open(man_path, "w") as f:
        json.dump(man, f)
    os.remove(os.path.join(d, "snapshots.jsonl"))

    legacy = IndexReader.open(spark, d)
    assert legacy.tombstone_dir == "tombstones"
    assert set(victims).isdisjoint(_hits(legacy, "danger"))

    # an expel on the legacy index migrates it: versioned dir + fresh log
    more = sorted(_hits(legacy, "danger"))[:1]
    expel(spark, d, more)
    assert read_snapshots(d)[-1]["operation"] == "delete"
    upgraded = IndexReader.open(spark, d)
    assert upgraded.tombstone_dir == "tombstones_v0"
    assert set(victims + more).isdisjoint(_hits(upgraded, "danger"))


def test_crash_between_wal_append_and_manifest_swap(spark, lineage_index):
    """A crash after the snapshot-log append but before the manifest swap
    (the WAL window in build.py commit_manifest) must leave the index fully
    usable: readers see the pre-crash state, the orphan record stays
    time-travelable, and the next real commit takes a FRESH snapshot id —
    never reusing the orphan's (id reuse would recycle tombstone-version
    dir names the current manifest may reference)."""
    import json
    import os

    from share_spark.index.snapshots import commit_snapshot

    d, target, victim = lineage_index
    pre_hits = _hits(IndexReader.open(spark, d), "danger")
    with open(os.path.join(d, "manifest.json")) as f:
        manifest = json.load(f)

    # emulate the crash: WAL record lands, manifest swap never happens
    orphan = commit_snapshot(
        d,
        operation="delete",
        generations=manifest["generations"],
        tombstones=manifest.get("tombstones"),
        summary={"crashed": True},
    )
    assert orphan["snapshot_id"] == 3

    # current reads are untouched (manifest is the visibility point)
    assert _hits(IndexReader.open(spark, d), "danger") == pre_hits
    # the orphan names only dirs that exist -> time travel to it works
    assert _hits(IndexReader.open(spark, d, snapshot_id=3), "danger") == pre_hits

    # recovery: the next real commit chains AFTER the orphan
    survivor = sorted(pre_hits)[0]
    expel(spark, d, [survivor])
    recs = read_snapshots(d)
    assert [r["snapshot_id"] for r in recs] == [0, 1, 2, 3, 4]
    assert recs[-1]["parent_id"] == 3
    assert recs[-1]["tombstones"] == "tombstones_v4"
    assert _hits(IndexReader.open(spark, d), "danger") == pre_hits - {survivor}
